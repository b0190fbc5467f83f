"""The three workloads: what each execution runs, how its outputs are
checked, and how the traced execution splits it into layers.

Each workload calls the same public functions the repository's jobs call
and writes in full every output those jobs write:

* ``dedup_repo``     -- ``run_repo_linkage`` (all four passes) as
  ``jobs/run_match.py`` calls it, ``pairs`` and ``good_pairs`` written, then
  ``cluster_accepted_pairs`` over the written good pairs and the clusters
  written, as ``jobs/run_pipeline.py`` does;
* ``link_person_fw`` -- ``parse_parmf`` / ``parse_datadict`` ->
  ``read_fixed_width`` -> ``normalize`` -> ``CheckpointedMatch.run``, then
  ``pairs`` and ``good_pairs`` written, as ``run_match --checkpoint`` does;
* ``cluster_chain``  -- ``cluster_accepted_pairs`` over an accepted-pair
  graph with every id passed through ``all_ids``, clusters written, as
  ``jobs/run_closure.py --ids`` does.

``check`` compares an execution's written outputs with the independent
checker in ``oracle.py`` and returns the problems it found (empty when the
outputs are right) and the pairwise F1 against the planted labels.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import inputs, oracle
from perfbench.trace import dir_mb

MAX_BLOCK_ROWS = 100_000  # run_match --max-block-rows default
SHARD_ROWS = 192          # run_match --shard-rows default
WEIGHT_TOL = 1e-6


def _read(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    if "pass_id" in df.columns:
        df["pass_id"] = df["pass_id"].astype(np.int64)
    return df


def _materialize(df, held: list):
    """Persist and count: the frame is computed in full (every column) and
    later layers read it from the cache."""
    df = df.persist()
    held.append(df)
    return df, df.count()


def _score(pairs, spec, pass_id: int):
    """The scoring half of ``operators.pipeline.score_pass`` over already
    materialized candidates (weights, exactness, emission floor,
    decision), for passes without TF-adjusted or level fields."""
    from pyspark.sql import functions as F

    from bigmatch_utilities_spark.operators.scoring import is_exact, pair_weight

    floor = min(spec.print_cutoff.lo, spec.cutoff.lo)
    scored = (
        pairs.withColumn("weight", pair_weight(spec.match_fields))
        .withColumn("is_exact", is_exact(spec.match_fields))
        .withColumn("pass_id", F.lit(pass_id))
        .filter(F.col("weight") >= F.lit(float(floor)))
    )
    return scored.withColumn(
        "decision",
        F.when(F.col("weight") >= F.lit(float(spec.cutoff.hi)), F.lit("match"))
        .when(F.col("weight") >= F.lit(float(spec.cutoff.lo)), F.lit("possible"))
        .otherwise(F.lit("below")),
    )


def _good_pairs(pairs, accept_threshold: float):
    """``MatchResult.good_pairs`` of a first-pass-wins pair table, with the
    exact/accepted split ``run_match`` makes."""
    from pyspark.sql import functions as F

    from bigmatch_utilities_spark.operators.pipeline import MatchResult

    exact = pairs.filter(F.col("is_exact") & (F.col("decision") != "below"))
    accepted = pairs.filter(
        (~F.col("is_exact"))
        & ((F.col("decision") == "match")
           | ((F.col("decision") == "possible")
              & (F.col("weight") >= F.lit(float(accept_threshold)))))
    )
    return MatchResult(pairs=pairs, exact=exact, accepted=accepted,
                       possible=pairs.limit(0)).good_pairs()


def _good_from_pairs(pairs: pd.DataFrame, accept_threshold: float) -> pd.DataFrame:
    dec, w, ex = pairs["decision"], pairs["weight"], pairs["is_exact"]
    keep = (ex & (dec != "below")) | (
        ~ex & ((dec == "match") | ((dec == "possible") & (w >= accept_threshold)))
    )
    return pairs[keep]


def _same_good(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    a = got.set_index(["id_rec", "id_mem"]).sort_index()
    b = want.set_index(["id_rec", "id_mem"]).sort_index()
    if not a.index.equals(b.index):
        return [f"good_pairs hold {len(a)} pairs, the pair table implies {len(b)}"]
    bad = int(((a["pass_id"] != b["pass_id"])
               | ((a["weight"] - b["weight"]).abs() > WEIGHT_TOL)).sum())
    return [f"{bad} good pairs differ from their pair-table row"] if bad else []


class Workload:
    name = ""
    kind = ""           # generator in inputs.GENERATORS
    size = 0            # generator size argument
    small_size = 0      # --small

    def __init__(self, spark, data_dir: str, meta: dict, seed: int):
        self.spark = spark
        self.dir = data_dir
        self.meta = meta
        self.seed = seed

    @property
    def records(self) -> int:
        return int(self.meta["rows"])

    def register(self) -> None:
        """Build the input DataFrames (part of set-up)."""

    def prepare_checks(self) -> None:
        """Compute the checker's expectations once per run."""

    def execute(self, out: str, phase=lambda name: None) -> None:
        raise NotImplementedError

    def check(self, out: str) -> tuple[list[str], float]:
        raise NotImplementedError

    def traced(self, tracer, out: str, held: list) -> dict:
        raise NotImplementedError

    def outputs(self, out: str) -> dict[str, pd.DataFrame]:
        """The written outputs, for comparing a traced execution with an
        untraced one."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# dedup_repo
# ---------------------------------------------------------------------------


class DedupRepo(Workload):
    name = "dedup_repo"
    kind = "repo"
    size = 720
    small_size = 270
    ACCEPT = 4.0
    #: pass id -> (fields, hi, lo) of repo_linkage's config; pass 3 is the
    #: MinHash canopy (match at >= 4, possible otherwise)
    PASSES = {
        0: ((("n_chars", "q", 0.95, 0.05), ("head_64", "c", 0.90, 0.10)), 4.0, 0.0),
        1: ((("n_chars", "q", 0.95, 0.05), ("head_64", "c", 0.90, 0.10)), 4.0, 0.0),
        2: ((("anchor_line", "c", 0.90, 0.01), ("head_64", "uo", 0.95, 0.02),
             ("tail_64", "uo", 0.90, 0.05)), 4.0, -100.0),
        3: ((("anchor_line", "c", 0.90, 0.01), ("head_64", "uo", 0.95, 0.02),
             ("tail_64", "uo", 0.90, 0.05)), 4.0, -1e300),
    }

    def register(self):
        self.df = self.spark.read.parquet(os.path.join(self.dir, "input.parquet"))

    def prepare_checks(self):
        rows = pd.read_parquet(os.path.join(self.dir, "input.parquet"))
        self.ids = rows["record_id"].tolist()
        self.derived = {i: oracle.repo_derived(c)
                        for i, c in zip(rows["record_id"], rows["content"])}
        labels = pd.read_parquet(os.path.join(self.dir, "labels.parquet"))
        labels = labels[labels["true_cluster"] != -1]  # boilerplate rows
        self.labels = labels.set_index("record_id")["true_cluster"]

    def execute(self, out, phase=lambda name: None):
        from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
        from bigmatch_utilities_spark.repo_linkage import (
            ID_COL, run_repo_linkage, with_record_id)

        phase("match")
        result = run_repo_linkage(self.df, use_minhash_pass=True,
                                  max_block_rows=MAX_BLOCK_ROWS, shard_rows=SHARD_ROWS)
        result.pairs.write.mode("overwrite").partitionBy("pass_id").parquet(f"{out}/pairs")
        result.good_pairs().write.mode("overwrite").parquet(f"{out}/good_pairs")
        phase("closure")
        good = self.spark.read.parquet(f"{out}/good_pairs")
        cluster_accepted_pairs(
            good, all_ids=with_record_id(self.df).select(ID_COL), id_col=ID_COL
        ).write.mode("overwrite").parquet(f"{out}/clusters")

    def outputs(self, out):
        return {"good_pairs": _read(f"{out}/good_pairs"), "clusters": _read(f"{out}/clusters")}

    def check(self, out):
        problems = []
        pairs = _read(f"{out}/pairs")
        good = _read(f"{out}/good_pairs")
        clusters = _read(f"{out}/clusters")
        if (pairs["id_rec"] >= pairs["id_mem"]).any():
            problems.append("a pair is not in id_rec < id_mem order")
        if pairs.duplicated(["id_rec", "id_mem"]).any():
            problems.append("a pair is reported by two passes")
        hi = pairs["pass_id"].map({k: v[1] for k, v in self.PASSES.items()})
        lo = pairs["pass_id"].map({k: v[2] for k, v in self.PASSES.items()})
        want = np.where(pairs["weight"] >= hi, "match",
                        np.where(pairs["weight"] >= lo, "possible", "below"))
        if (pairs["decision"].to_numpy() != want).any():
            problems.append("decisions do not follow the pass cutoffs")
        problems += _same_good(good, _good_from_pairs(pairs, self.ACCEPT))
        sample = pairs.sample(n=min(200, len(pairs)), random_state=self.seed)
        bad_w = bad_x = 0
        for r in sample.itertuples(index=False):
            fields = self.PASSES[r.pass_id][0]
            a, b = self.derived[r.id_rec], self.derived[r.id_mem]
            if abs(oracle.pair_weight(fields, a, b) - r.weight) > WEIGHT_TOL:
                bad_w += 1
            exact = all((a[n] or "") == (b[n] or "") for n, _, _, _ in fields)
            bad_x += exact != bool(r.is_exact)
        if bad_w or bad_x:
            problems.append(f"of {len(sample)} sampled pairs, {bad_w} weights and "
                            f"{bad_x} exact flags differ from the checker's")
        edges = list(zip(good["id_rec"], good["id_mem"]))
        problems += oracle.check_partition(clusters, self.ids, edges)
        pred = clusters.set_index("id")["cluster_id"].reindex(self.labels.index)
        f1 = oracle.pairwise_f1_clusters(pred, self.labels)
        if f1 < 0.99:
            problems.append(f"pairwise F1 {f1:.4f} < 0.99")
        return problems, f1

    def traced(self, tracer, out, held):
        from pyspark.sql import functions as F

        from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
        from bigmatch_utilities_spark.operators.dedup import minhash_candidates
        from bigmatch_utilities_spark.operators.pipeline import (
            first_pass_wins, pass_candidates)
        from bigmatch_utilities_spark.repo_linkage import (
            _FUZZY_FIELDS, ID_COL, prepare, repo_match_config, with_record_id)

        n = {}
        cfg = repo_match_config()
        with tracer.layer("prepare"):
            prepared, n["prepare.rows"] = _materialize(prepare(self.df), held)
        cands, n["blocking.pairs"] = [], 0
        with tracer.layer("blocking"):
            for spec in cfg.passes:
                c, k = _materialize(pass_candidates(
                    prepared, prepared, spec, ID_COL, dedupe=True,
                    max_block_rows=MAX_BLOCK_ROWS, shard_rows=SHARD_ROWS), held)
                cands.append(c)
                n["blocking.pairs"] += k
        with tracer.layer("lsh"):
            # run_repo_linkage's pass 3: band collisions, carried fields,
            # pairs an exact pass already decided dropped
            lsh = minhash_candidates(prepared, "content_norm", ID_COL, shingle_k=3,
                                     bands=4, rows_per_band=4, max_bucket=256,
                                     shard_rows=SHARD_ROWS)
            carry = [mf.name for mf in _FUZZY_FIELDS] + ["content_sha_nows"]
            side = prepared.select(F.col(ID_COL), *carry)
            lsh = lsh.join(side.toDF(*["id_l"] + [f"rec_{c}" for c in carry]), "id_l").join(
                side.toDF(*["id_r"] + [f"mem_{c}" for c in carry]), "id_r")
            lsh = lsh.filter(F.col("rec_content_sha_nows") != F.col("mem_content_sha_nows"))
            lsh, n["lsh.pairs"] = _materialize(lsh, held)
        scored, n["scoring.pairs"] = [], n["blocking.pairs"] + n["lsh.pairs"]
        with tracer.layer("scoring"):
            for k, (spec, c) in enumerate(zip(cfg.passes, cands)):
                scored.append(_materialize(_score(c, spec, k), held)[0])
            from bigmatch_utilities_spark.operators.scoring import is_exact, pair_weight

            s3 = (lsh.withColumnRenamed("id_l", "id_rec").withColumnRenamed("id_r", "id_mem")
                  .withColumn("weight", pair_weight(_FUZZY_FIELDS))
                  .withColumn("is_exact", is_exact(_FUZZY_FIELDS))
                  .withColumn("pass_id", F.lit(len(cfg.passes)))
                  .withColumn("decision", F.when(F.col("weight") >= 4.0, F.lit("match"))
                              .otherwise(F.lit("possible"))))
            scored.append(_materialize(s3, held)[0])
        core_cols = ["id_rec", "id_mem", "pass_id", "weight", "is_exact", "decision"]
        with tracer.layer("first_pass_wins"):
            core = scored[0].select(*core_cols)
            for s in scored[1:]:
                core = core.unionByName(s.select(*core_cols))
            n["first_pass_wins.pairs_in"] = sum(s.count() for s in scored)
            pairs, n["first_pass_wins.pairs_out"] = _materialize(first_pass_wins(core), held)
            good, n["first_pass_wins.good_pairs"] = _materialize(
                _good_pairs(pairs, cfg.accept_threshold), held)
        with tracer.layer("write"):
            pairs.write.mode("overwrite").partitionBy("pass_id").parquet(f"{out}/pairs")
            good.write.mode("overwrite").parquet(f"{out}/good_pairs")
        with tracer.layer("closure"):
            edges = self.spark.read.parquet(f"{out}/good_pairs")
            clusters, _ = _materialize(cluster_accepted_pairs(
                edges, all_ids=with_record_id(self.df).select(ID_COL), id_col=ID_COL), held)
            n["closure.edges"] = n["first_pass_wins.good_pairs"]
            n["closure.clusters"] = clusters.select("cluster_id").distinct().count()
        with tracer.layer("write"):
            clusters.write.mode("overwrite").parquet(f"{out}/clusters")
        n["write.mb"] = dir_mb(out)
        return n


# ---------------------------------------------------------------------------
# link_person_fw
# ---------------------------------------------------------------------------


class LinkPersonFw(Workload):
    name = "link_person_fw"
    kind = "person"
    size = 6_000
    small_size = 2_000
    ACCEPT = 10.0     # MatchConfig default; parmf has no accept threshold
    SAMPLED_MEM = 40

    @property
    def records(self) -> int:
        return int(self.meta["rec_rows"]) + int(self.meta["mem_rows"])

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def register(self):
        from bigmatch_utilities_spark.config import parse_datadict, parse_parmf
        from bigmatch_utilities_spark.operators.pipeline import normalize
        from bigmatch_utilities_spark.sources.fixed_width import read_fixed_width

        with open(self._path("parmf.txt")) as fh:
            self.cfg = parse_parmf(fh.read())
        frames = []
        for side in ("rec", "mem"):
            with open(self._path(f"{side}.dict.csv")) as fh:
                fields = parse_datadict(fh.read())
            frames.append(normalize(read_fixed_width(self.spark, self._path(f"{side}.txt"), fields)))
        self.rec, self.mem = frames
        self.id_col = self.cfg.id_field.name

    def prepare_checks(self):
        layout = inputs.person_positions()
        rec = oracle.read_fixed_width(self._path("rec.txt"), layout)
        mem = oracle.read_fixed_width(self._path("mem.txt"), layout)
        sample = mem.sample(n=min(self.SAMPLED_MEM, len(mem)), random_state=self.seed)
        passes = [{"block": block, "fields": fields, "hi": cut[0], "lo": cut[1],
                   "print_lo": prcut[1]}
                  for block, fields, cut, prcut in inputs.PERSON_PASSES]
        self.sampled_ids = set(sample["id"])
        self.expected = oracle.brute_force_link(rec, sample, passes, "id", self.ACCEPT)
        links = pd.read_parquet(self._path("links.parquet"))
        self.links = {(str(a), str(b)) for a, b in zip(links["id_rec"], links["id_mem"])}

    def execute(self, out, phase=lambda name: None):
        from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch

        phase("match")
        ckpt = CheckpointedMatch(self.spark, f"{out}/checkpoint")
        result = ckpt.run(self.rec, self.mem, self.cfg, id_col=self.id_col,
                          max_block_rows=MAX_BLOCK_ROWS, shard_rows=SHARD_ROWS)
        result.pairs.write.mode("overwrite").partitionBy("pass_id").parquet(f"{out}/pairs")
        result.good_pairs().write.mode("overwrite").parquet(f"{out}/good_pairs")

    def outputs(self, out):
        return {"good_pairs": _read(f"{out}/good_pairs")}

    def check(self, out):
        problems = []
        pairs = _read(f"{out}/pairs")
        good = _read(f"{out}/good_pairs")
        problems += _same_good(good, _good_from_pairs(pairs, self.ACCEPT))
        got = pairs[pairs["id_mem"].isin(self.sampled_ids)].set_index(["id_rec", "id_mem"])
        want = self.expected.set_index(["id_rec", "id_mem"])
        if set(got.index) != set(want.index):
            problems.append(
                f"sampled memory records: {len(got)} pairs, the brute-force join "
                f"gives {len(want)} ({len(set(got.index) - set(want.index))} extra, "
                f"{len(set(want.index) - set(got.index))} missing)")
        else:
            j = got.join(want, rsuffix="_want")
            bad = int(((j["pass_id"] != j["pass_id_want"])
                       | ((j["weight"] - j["weight_want"]).abs() > WEIGHT_TOL)
                       | (j["decision"] != j["decision_want"])).sum())
            if bad:
                problems.append(f"{bad} sampled pairs differ in pass, weight or decision")
            good_want = set(want.index[want["good"]])
            good_got = {k for k in zip(good["id_rec"], good["id_mem"])
                        if k[1] in self.sampled_ids}
            if good_got != good_want:
                problems.append("sampled memory records: good pairs differ from the checker's")
        found = set(zip(good["id_rec"], good["id_mem"]))
        return problems, oracle.pairwise_f1_pairs(found, self.links)

    def check_resume(self, out) -> list[str]:
        """A resume over the finished checkpoint, fed empty inputs, must
        return the written good pairs: every pass is read back, none re-run."""
        from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch

        markers = sorted(os.listdir(f"{out}/checkpoint/markers"))
        metrics = len(os.listdir(f"{out}/checkpoint/metrics"))
        result = CheckpointedMatch(self.spark, f"{out}/checkpoint").run(
            self.rec.limit(0), self.mem.limit(0), self.cfg, id_col=self.id_col,
            max_block_rows=MAX_BLOCK_ROWS, shard_rows=SHARD_ROWS)
        resumed = result.good_pairs().toPandas()
        problems = _same_good(resumed, _read(f"{out}/good_pairs"))
        if (sorted(os.listdir(f"{out}/checkpoint/markers")) != markers
                or len(os.listdir(f"{out}/checkpoint/metrics")) != metrics):
            problems.append("the resume re-ran a pass")
        return [f"resume: {p}" for p in problems]

    def traced(self, tracer, out, held):
        from bigmatch_utilities_spark.operators.pipeline import pass_candidates, score_pass
        from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch

        n = {}
        with tracer.layer("fixed_width"):
            rec, a = _materialize(self.rec, held)
            mem, b = _materialize(self.mem, held)
            n["fixed_width.rows"] = a + b
        cands, n["blocking.pairs"] = [], 0
        with tracer.layer("blocking"):
            for spec in self.cfg.passes:
                c, k = _materialize(pass_candidates(
                    rec, mem, spec, self.id_col, max_block_rows=MAX_BLOCK_ROWS,
                    shard_rows=SHARD_ROWS), held)
                cands.append(c)
                n["blocking.pairs"] += k
        n["scoring.pairs"] = n["blocking.pairs"]
        with tracer.layer("scoring"):
            for k, (spec, c) in enumerate(zip(self.cfg.passes, cands)):
                _materialize(_score(c, spec, k), held)
        with tracer.layer("checkpoint.passes"):
            # the passes CheckpointedMatch.run scores, executed without
            # writing: what remains of the checkpoint span beyond this is
            # the checkpoint layer's own work
            for k, spec in enumerate(self.cfg.passes):
                score_pass(rec, mem, spec, k, self.id_col, max_block_rows=MAX_BLOCK_ROWS,
                           shard_rows=SHARD_ROWS).write.format("noop").mode("overwrite").save()
        with tracer.layer("checkpoint"):
            result = CheckpointedMatch(self.spark, f"{out}/checkpoint").run(
                rec, mem, self.cfg, id_col=self.id_col,
                max_block_rows=MAX_BLOCK_ROWS, shard_rows=SHARD_ROWS)
        n["checkpoint.write_mb"] = dir_mb(f"{out}/checkpoint")
        with tracer.layer("first_pass_wins"):
            n["first_pass_wins.pairs_in"] = sum(
                self.spark.read.parquet(f"{out}/checkpoint/pairs/pass={k:02d}").count()
                for k in range(len(self.cfg.passes)))
            pairs, n["first_pass_wins.pairs_out"] = _materialize(result.pairs, held)
            good, n["first_pass_wins.good_pairs"] = _materialize(result.good_pairs(), held)
        with tracer.layer("write"):
            pairs.write.mode("overwrite").partitionBy("pass_id").parquet(f"{out}/pairs")
            good.write.mode("overwrite").parquet(f"{out}/good_pairs")
        n["write.mb"] = dir_mb(f"{out}/pairs") + dir_mb(f"{out}/good_pairs")
        return n


# ---------------------------------------------------------------------------
# cluster_chain
# ---------------------------------------------------------------------------


class ClusterChain(Workload):
    name = "cluster_chain"
    kind = "chain"
    size = 40_000
    small_size = 4_000

    def register(self):
        self.edges = self.spark.read.parquet(os.path.join(self.dir, "edges.parquet"))
        self.ids = self.spark.read.parquet(os.path.join(self.dir, "ids.parquet"))

    def prepare_checks(self):
        edges = pd.read_parquet(os.path.join(self.dir, "edges.parquet"))
        self.all_ids = pd.read_parquet(os.path.join(self.dir, "ids.parquet"))["record_id"].tolist()
        self.edge_list = list(zip(edges["id_rec"].tolist(), edges["id_mem"].tolist()))
        self.truth = pd.Series(oracle.components(self.all_ids, self.edge_list))

    def execute(self, out, phase=lambda name: None):
        from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs

        phase("closure")
        cluster_accepted_pairs(self.edges, all_ids=self.ids, id_col="record_id").write.mode(
            "overwrite").parquet(f"{out}/clusters")

    def outputs(self, out):
        return {"clusters": _read(f"{out}/clusters")}

    def check(self, out):
        clusters = _read(f"{out}/clusters")
        problems = oracle.check_partition(clusters, self.all_ids, self.edge_list)
        pred = clusters.set_index("id")["cluster_id"].reindex(self.truth.index)
        return problems, oracle.pairwise_f1_clusters(pred, self.truth)

    def traced(self, tracer, out, held):
        from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs

        n = {}
        edges, n["closure.edges"] = _materialize(self.edges, held)
        ids, _ = _materialize(self.ids, held)
        with tracer.layer("closure"):
            clusters, _ = _materialize(
                cluster_accepted_pairs(edges, all_ids=ids, id_col="record_id"), held)
            n["closure.clusters"] = clusters.select("cluster_id").distinct().count()
        with tracer.layer("write"):
            clusters.write.mode("overwrite").parquet(f"{out}/clusters")
        n["write.mb"] = dir_mb(out)
        return n


WORKLOADS = {w.name: w for w in (DedupRepo, LinkPersonFw, ClusterChain)}
