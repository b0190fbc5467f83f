"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload dedup_repo --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
input, starts a session at ``local[<nproc>]``, runs one untimed warm-up
execution, then repeats timed executions until ``--seconds`` have passed.
Every execution writes fresh outputs and is checked by the independent
checker; an execution that raises or fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` also records the
Spark event log, runs one traced execution split into layers at
materialized boundaries, and prints the per-layer metrics. The last line
of standard output is the JSON result. ``--small`` runs every check on
inputs a tenth of the size or smaller.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
LAYERS = ("fixed_width", "prepare", "blocking", "lsh", "scoring",
          "first_pass_wins", "checkpoint", "closure", "write")
LAYER_METRICS = ("self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb",
                 "spill_mb", "gc_s", "task_skew")
COUNTS = ("fixed_width.rows", "prepare.rows", "prepare.scans", "blocking.pairs",
          "lsh.pairs", "scoring.pairs", "scoring.pairs_per_s",
          "first_pass_wins.pairs_in", "first_pass_wins.pairs_out",
          "first_pass_wins.good_pairs", "blocking.yield", "checkpoint.write_mb",
          "write.mb", "closure.edges", "closure.clusters",
          "pipeline.unattributed_s", "pipeline.trace_overhead_s")


def process_start() -> float:
    """Wall-clock time this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _proc_mb(pid: int, file: str, key: str) -> float:
    try:
        with open(f"/proc/{pid}/{file}") as fh:
            for ln in fh:
                if ln.startswith(key):
                    return int(ln.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak resident memory of the Spark JVM plus the Python workers it
    starts, sampled every 0.5 s on a thread. The JVM counts its resident
    set; the workers count their proportional set size, so the pages a
    forked worker shares with the worker daemon count once, not once per
    worker. (Reading a JVM's smaps costs ~20 ms and takes its memory-map
    lock, so the JVM is read from /proc/<pid>/status instead.)"""

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.is_set():
            kids = _children()
            total = _proc_mb(self.pid, "status", "VmRSS:")
            todo = list(kids.get(self.pid, []))
            while todo:
                p = todo.pop()
                total += _proc_mb(p, "smaps_rollup", "Pss:")
                todo += kids.get(p, [])
            self.peak = max(self.peak, total)
            self._stop.wait(0.5)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def cpu_times() -> list[int]:
    """The host's aggregate cpu counters from /proc/stat (steal is index 7)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def other_spark_jvms() -> list[int]:
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(int(d))
    return found


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigmatch_utilities_spark")):
        print("perfbench: run from the repository root (bigmatch_utilities_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog", "out", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    cpus = os.cpu_count() or 1
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # the launcher JVM spark-submit starts first: no /tmp/hsperfdata
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    others = other_spark_jvms()
    if others:
        print(f"perfbench: WARNING another Spark JVM is running (pids {others}); "
              "timings will be disturbed", file=sys.stderr)

    try:
        return _run(args, cls, t_start, run_dir, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cls, t_start, run_dir, cpus) -> int:
    from perfbench import inputs
    from bigmatch_utilities_spark.session import get_spark

    size = cls.small_size if args.small else cls.size
    cache = os.path.join(ROOT, ".perfbench", "cache")
    data_dir, meta, gen_s = inputs.cached(cache, cls.kind, args.seed, size)
    log(f"workload {cls.name}  seed {args.seed}  size {size}  input rows "
        f"{meta['rows']}  digest {meta['digest']}  (generated in {gen_s:.1f} s)")
    master = f"local[{cpus}]"
    log(f"settings: master {master}  SPARK_DRIVER_MEMORY "
        f"{os.environ['SPARK_DRIVER_MEMORY']}  shuffle/local dir "
        f"{os.environ['SPARK_LOCAL_DIRS']}")

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(f"perfbench-{cls.name}", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    sampler = RssSampler(gateway.proc.pid)
    try:
        wl = cls(spark, data_dir, meta, args.seed)
        wl.register()
        setup_s = time.time() - t_start - gen_s
        log(f"set-up {setup_s:.3f} s")
        wl.prepare_checks()
        result = _measure(args, wl, spark, run_dir)
    finally:
        peak = sampler.stop()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    walls, f1s, attempted, failed, problems, traced = result
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if not walls:
        log("no execution completed; no result")
        return 1
    wall = statistics.median(walls)
    log(f"{attempted} executions, {failed} failed; wall_s per execution "
        + " ".join(f"{w:.3f}" for w in walls))
    if args.trace:
        from perfbench.trace import rollup

        metrics = _layer_metrics(traced, rollup(os.path.join(run_dir, "eventlog")), wall,
                                 len(walls))
        out_metrics = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
        with open(os.path.join(ROOT, ".perfbench", f"trace-{cls.name}.json"), "w") as fh:
            json.dump({"spans": traced["spans"], "metrics": metrics}, fh, indent=1)
    else:
        out_metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "records_per_s": {"value": wl.records / wall, "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak, "unit": "MB"},
            "pairwise_f1": {"value": statistics.median(f1s), "unit": "ratio"},
        }
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def _fresh_execution(spark) -> None:
    """Drop what an earlier execution cached or checkpointed, so each
    execution scans its inputs again (untimed)."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _measure(args, wl, spark, run_dir):
    from perfbench.trace import clear_job_group

    sc = spark.sparkContext
    out_root = os.path.join(run_dir, "out")
    problems: list[str] = []

    def phase_for(prefix):
        if not args.trace:
            return lambda name: None
        return lambda name: sc.setJobGroup(f"{prefix}.{name}", name)

    # warm-up: the first execution in a JVM is 1.5-2.8x slower here (class
    # loading, JIT, code generation, Python worker start); it is not timed
    out = os.path.join(out_root, "warmup")
    t0 = time.perf_counter()
    wl.execute(out, phase_for("warmup"))
    log(f"cold first execution {time.perf_counter() - t0:.3f} s (not timed)")
    found, _ = wl.check(out)
    problems += [f"warm-up: {p}" for p in found]
    shutil.rmtree(out)

    walls, f1s, attempted, failed = [], [], 0, 0
    last_out, last_failed = None, False
    cpu0 = cpu_times()
    t_loop = time.perf_counter()
    while True:
        _fresh_execution(spark)
        out = os.path.join(out_root, f"exec{attempted}")
        attempted += 1
        t0 = time.perf_counter()
        try:
            wl.execute(out, phase_for("pipeline"))
        except Exception as exc:  # an execution that raises is a failed operation
            failed += 1
            problems.append(f"execution {attempted} raised {type(exc).__name__}: {exc}")
            shutil.rmtree(out, ignore_errors=True)
        else:
            walls.append(time.perf_counter() - t0)
            clear_job_group(sc)
            found, f1 = wl.check(out)
            f1s.append(f1)
            if found:
                failed += 1
                problems += [f"execution {attempted}: {p}" for p in found]
            if last_out:
                shutil.rmtree(last_out)
            last_out, last_failed = out, bool(found)
        if time.perf_counter() - t_loop >= args.seconds:
            break
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    log(f"host cpu steal during the timed executions: "
        f"{100 * delta[7] / max(sum(delta[:8]), 1):.1f}%")
    if last_out and hasattr(wl, "check_resume"):
        # a resume that does not return the last execution's output fails
        # that execution
        found = wl.check_resume(last_out)
        failed += bool(found) and not last_failed
        problems += found

    traced = None
    if args.trace and last_out:
        traced = _traced_execution(wl, spark, out_root, last_out)
        traced["overhead_s"] = traced["wall_s"] - statistics.median(walls)
        problems += traced.pop("problems")
    if last_out:
        shutil.rmtree(last_out)
    return walls, f1s, attempted, failed, problems, traced


def _traced_execution(wl, spark, out_root, ref) -> dict:
    """One execution split into layers; its outputs must equal those of
    the untraced execution written to `ref`."""
    from perfbench.trace import Tracer, clear_job_group

    _fresh_execution(spark)
    tracer = Tracer(spark)
    held: list = []
    out = os.path.join(out_root, "traced")
    t0 = time.perf_counter()
    counts = wl.traced(tracer, out, held)
    wall = time.perf_counter() - t0
    clear_job_group(spark.sparkContext)
    problems = []
    want, got = wl.outputs(ref), wl.outputs(out)
    for name in want:
        a = want[name].sort_values(list(want[name].columns)).reset_index(drop=True)
        b = got[name][list(want[name].columns)].sort_values(
            list(want[name].columns)).reset_index(drop=True)
        if not a.equals(b):
            problems.append(f"traced execution: {name} differs from the untraced one")
    for df in held:
        df.unpersist()
    shutil.rmtree(out)
    return {"counts": counts, "spans": tracer.spans, "wall_s": wall,
            "self_s": {name: tracer.self_s(name) for name in LAYERS},
            "reference_s": {"checkpoint.passes": tracer.self_s("checkpoint.passes")},
            "problems": problems}


def _unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    return {"self_s": "s", "exec_cpu_s": "s", "gc_s": "s", "unattributed_s": "s",
            "trace_overhead_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
            "write_mb": "MB", "mb": "MB", "task_skew": "ratio", "yield": "ratio",
            "pairs_per_s": "1/s"}.get(metric, "count")


def _layer_metrics(traced: dict, groups: dict, untraced_wall: float,
                   n_untraced: int) -> dict:
    from perfbench.trace import subtract

    empty = {k: 0.0 for k in LAYER_METRICS}
    self_s = dict(traced["self_s"])
    groups = dict(groups)
    # CheckpointedMatch.run scores every pass itself; its own work is what
    # remains after the same passes executed without writing
    if self_s["checkpoint"]:
        self_s["checkpoint"] = max(
            self_s["checkpoint"] - traced["reference_s"]["checkpoint.passes"], 0.0)
        groups["checkpoint"] = subtract(groups.get("checkpoint", {}),
                                        groups.get("checkpoint.passes", {}))
    out = {}
    for layer in LAYERS:
        g = groups.get(layer, empty)
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = float(self_s[layer] if m == "self_s" else g.get(m, 0.0))
    counts = {k: 0.0 for k in COUNTS}
    counts.update({k: float(v) for k, v in traced["counts"].items()})
    if counts["prepare.rows"]:
        # stages that scan the input in one untraced execution's match
        # phase: how often the prepared frame is derived again
        counts["prepare.scans"] = groups.get("pipeline.match", {}).get(
            "scan_stages", 0) / max(n_untraced, 1)
    if self_s["scoring"]:
        counts["scoring.pairs_per_s"] = counts["scoring.pairs"] / self_s["scoring"]
    if counts["blocking.pairs"] + counts["lsh.pairs"]:
        counts["blocking.yield"] = counts["first_pass_wins.good_pairs"] / (
            counts["blocking.pairs"] + counts["lsh.pairs"])
    counts["pipeline.unattributed_s"] = untraced_wall - sum(self_s.values())
    counts["pipeline.trace_overhead_s"] = traced.get("overhead_s", 0.0)
    out.update(counts)
    return out


if __name__ == "__main__":
    sys.exit(main())
