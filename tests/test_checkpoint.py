"""Resumability: identical final output after interruption; completed
passes are not re-executed."""

from __future__ import annotations

import os

import pytest

from bigmatch_utilities_spark.operators.pipeline import run_match
from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch
from tests.person_f2 import read_person_f2, write_person_f2

# The schema Spark's JSON writer gave the metrics table, read back with
# spark.read.json (inference sorts the columns by name).
METRICS_SCHEMA = (
    "struct<kind:string,partition:bigint,partitions:bigint,pass_id:bigint,"
    "rows:bigint,slice:bigint,ts:string,wall_s:double>"
)


@pytest.fixture(scope="module")
def person_dir(tmp_path_factory):
    return write_person_f2(tmp_path_factory.mktemp("person_f2"))


def _pairs_set(result):
    return {
        (r["id_rec"], r["id_mem"], r["pass_id"], round(r["weight"], 9))
        for r in result.pairs.collect()
    }


def test_checkpointed_run_matches_direct(spark, person_dir, tmp_path):
    cfg, rec, mem = read_person_f2(spark, person_dir)
    direct = _pairs_set(run_match(rec, mem, cfg, id_col="id"))
    ckpt = CheckpointedMatch(spark, str(tmp_path / "run1"))
    resumable = _pairs_set(ckpt.run(rec, mem, cfg, id_col="id"))
    assert resumable == direct


def test_resume_skips_completed_passes(spark, person_dir, tmp_path):
    cfg, rec, mem = read_person_f2(spark, person_dir)
    out = str(tmp_path / "run2")

    ckpt = CheckpointedMatch(spark, out)
    full = _pairs_set(ckpt.run(rec, mem, cfg, id_col="id"))
    assert all(ckpt.pass_complete(k) for k in range(len(cfg.passes)))

    # simulate a crash after pass 0: delete markers+data of passes 1..2
    import shutil

    for k in (1, 2):
        os.remove(f"{out}/markers/pass_{k:02d}.json")
        shutil.rmtree(f"{out}/pairs/pass={k:02d}")

    # resume with a POISONED pass-0 input: if pass 0 re-ran, its output
    # would change; because the marker exists it must be read from parquet.
    poisoned_rec = rec.limit(0)
    ckpt2 = CheckpointedMatch(spark, out)
    resumed = ckpt2.run(rec, mem, cfg, id_col="id")
    assert _pairs_set(resumed) == full

    poisoned = CheckpointedMatch(spark, out)
    # wipe only pass 1 again, then run with empty rec: pass 0 and 2 have
    # markers; pass 1 re-runs on the poisoned input and yields 0 pairs.
    os.remove(f"{out}/markers/pass_01.json")
    shutil.rmtree(f"{out}/pairs/pass=01")
    partial = poisoned.run(poisoned_rec, mem, cfg, id_col="id")
    got = _pairs_set(partial)
    want_pass_ids = {p for (_, _, p, _) in got}
    assert 1 not in want_pass_ids  # pass 1 produced nothing (poisoned)
    assert {0, 2} & want_pass_ids  # checkpointed passes came from disk


def test_file_uri_markers_via_hadoop_fs(spark, person_dir, tmp_path):
    """Markers must work through the Hadoop FileSystem layer (file: URI —
    the same code path hdfs:/s3a: paths take on a cluster), not driver
    os.* calls."""
    cfg, rec, mem = read_person_f2(spark, person_dir)
    out = f"file://{tmp_path}/run_uri"
    ckpt = CheckpointedMatch(spark, out)
    full = _pairs_set(ckpt.run(rec, mem, cfg, id_col="id"))
    assert full
    assert all(ckpt.pass_complete(k) for k in range(len(cfg.passes)))
    # marker payloads are readable back through the FS API
    for k in range(len(cfg.passes)):
        m = ckpt.read_marker(k)
        assert m is not None and m["pairs"] >= 0 and m["wall_s"] > 0
    # resume off the URI path skips completed passes even with poisoned input
    resumed = CheckpointedMatch(spark, out).run(rec.limit(0), mem, cfg, id_col="id")
    assert _pairs_set(resumed) == full


def _check_slice_totals(spark, ckpt, n_passes, slices):
    """Each sliced pass's marker totals its slice markers' ``pairs``,
    which count the rows the pass committed."""
    for k in range(n_passes):
        parts = [
            ckpt._read_json(ckpt._marker_path(k, s))["pairs"] for s in range(slices)
        ]
        rows = spark.read.parquet(f"{ckpt.out}/pairs/pass={k:02d}").count()
        assert ckpt.read_marker(k)["pairs"] == sum(parts) == rows, k


def test_sliced_run_matches_direct(spark, person_dir, tmp_path):
    """slices>1 shards each pass by blocking-key hash; the union over
    slices must be exactly the unsliced result (blocks never straddle a
    slice, so pairs and per-block guardrails are identical)."""
    cfg, rec, mem = read_person_f2(spark, person_dir)
    direct = _pairs_set(run_match(rec, mem, cfg, id_col="id"))
    ckpt = CheckpointedMatch(spark, str(tmp_path / "run_sliced"))
    sliced = _pairs_set(ckpt.run(rec, mem, cfg, id_col="id", slices=3))
    assert sliced == direct
    assert all(ckpt.pass_complete(k) for k in range(len(cfg.passes)))
    assert all(
        ckpt.slice_complete(k, s)
        for k in range(len(cfg.passes))
        for s in range(3)
    )
    _check_slice_totals(spark, ckpt, len(cfg.passes), 3)


def test_mid_pass_failure_resumes_at_slice_granularity(
    spark, person_dir, tmp_path, monkeypatch
):
    """Kill the run after k slices of pass 0: the resume must re-score
    ONLY the incomplete slices (no duplicated work — counted via a
    score_pass spy) and still produce the exact full result."""
    from bigmatch_utilities_spark.plans import checkpoint as ck_mod

    cfg, rec, mem = read_person_f2(spark, person_dir)
    out = str(tmp_path / "run_kill")
    slices = 4
    real_score = ck_mod.score_pass
    calls = {"n": 0}

    def dying_score(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 2:  # die mid-pass-0, after 2 of 4 slices committed
            raise RuntimeError("injected straggler failure")
        return real_score(*a, **kw)

    monkeypatch.setattr(ck_mod, "score_pass", dying_score)
    ckpt = CheckpointedMatch(spark, out)
    try:
        ckpt.run(rec, mem, cfg, id_col="id", slices=slices)
        raise AssertionError("injected failure did not fire")
    except RuntimeError:
        pass
    assert not ckpt.pass_complete(0)
    done = [s for s in range(slices) if ckpt.slice_complete(0, s)]
    assert len(done) == 2

    # resume: only the remaining units run — 2 of pass 0, then 4+4.
    monkeypatch.setattr(ck_mod, "score_pass", real_score)
    counting = {"n": 0}

    def counting_score(*a, **kw):
        counting["n"] += 1
        return real_score(*a, **kw)

    monkeypatch.setattr(ck_mod, "score_pass", counting_score)
    resumed = CheckpointedMatch(spark, out).run(
        rec, mem, cfg, id_col="id", slices=slices
    )
    assert counting["n"] == slices * len(cfg.passes) - 2  # no duplicated work
    direct = _pairs_set(run_match(rec, mem, cfg, id_col="id"))
    assert _pairs_set(resumed) == direct
    # pass 0's total counts the two slices committed before the failure
    _check_slice_totals(spark, CheckpointedMatch(spark, out), len(cfg.passes), slices)


def test_resume_with_different_slice_count_fails_fast(
    spark, person_dir, tmp_path, monkeypatch
):
    """ADVICE r3: a partially completed sliced pass pins its slice count in
    a sidecar; resuming with a different --slices must raise instead of
    silently mixing hash-mod layouts (which would duplicate some blocks'
    pairs and drop others)."""
    from bigmatch_utilities_spark.plans import checkpoint as ck_mod

    cfg, rec, mem = read_person_f2(spark, person_dir)
    out = str(tmp_path / "run_slicemix")
    real_score = ck_mod.score_pass
    calls = {"n": 0}

    def dying_score(*a, **kw):
        calls["n"] += 1
        if calls["n"] > 1:  # die after 1 of 4 slices committed
            raise RuntimeError("injected failure")
        return real_score(*a, **kw)

    monkeypatch.setattr(ck_mod, "score_pass", dying_score)
    with pytest.raises(RuntimeError):
        CheckpointedMatch(spark, out).run(rec, mem, cfg, id_col="id", slices=4)
    monkeypatch.setattr(ck_mod, "score_pass", real_score)

    with pytest.raises(ValueError, match="slices=4"):
        CheckpointedMatch(spark, out).run(rec, mem, cfg, id_col="id", slices=8)

    # the original slice count still resumes cleanly to the exact result
    resumed = CheckpointedMatch(spark, out).run(
        rec, mem, cfg, id_col="id", slices=4
    )
    direct = _pairs_set(run_match(rec, mem, cfg, id_col="id"))
    assert _pairs_set(resumed) == direct


def test_metrics_table(spark, person_dir, tmp_path):
    cfg, rec, mem = read_person_f2(spark, person_dir)
    out = tmp_path / "run3"
    ckpt = CheckpointedMatch(spark, str(out))
    ckpt.run(rec, mem, cfg, id_col="id")
    metrics = ckpt.metrics()
    assert metrics.schema.simpleString() == METRICS_SCHEMA
    m = metrics.collect()
    assert {r["pass_id"] for r in m} == {0, 1, 2}
    assert all(r["wall_s"] > 0 for r in m)
    assert all(r["partitions"] >= 1 for r in m)
    for k in range(len(cfg.passes)):
        unit = [r for r in m if r["pass_id"] == k and r["kind"] == "pass"]
        parts = [r for r in m if r["pass_id"] == k and r["kind"] == "partition"]
        assert len(unit) == 1, k
        assert unit[0]["partition"] == -1 and unit[0]["slice"] == -1
        assert len(parts) == unit[0]["partitions"], k
        assert len({r["partition"] for r in parts}) == len(parts), k
        assert sum(r["rows"] for r in parts) == unit[0]["rows"], k
        assert unit[0]["rows"] == ckpt.read_marker(k)["pairs"], k
        assert unit[0]["rows"] == spark.read.parquet(
            f"{out}/pairs/pass={k:02d}"
        ).count(), k
    assert len(m) == sum(1 + r["partitions"] for r in m if r["kind"] == "pass")

    # a resume over the finished checkpoint appends nothing
    files = sorted(os.listdir(out / "metrics"))
    CheckpointedMatch(spark, str(out)).run(rec.limit(0), mem, cfg, id_col="id")
    assert sorted(os.listdir(out / "metrics")) == files
    assert ckpt.metrics().count() == len(m)


def test_record_unit_runs_no_spark_job(spark, tmp_path):
    """A committed unit's metrics come from its part files' parquet
    footers, listed through the Hadoop FileSystem API: no Spark job. One
    partition row per file, numbered from its part-NNNNN name."""
    path = str(tmp_path / "unit")
    spark.range(1000).repartition(4).write.parquet(path)
    ckpt = CheckpointedMatch(spark, str(tmp_path / "run5"))
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "record-unit")
    try:
        n = ckpt._record_unit(path, 0, None, 0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("record-unit")) == []
    assert n == 1000
    rows = ckpt.metrics().collect()
    parts = sorted(r["partition"] for r in rows if r["kind"] == "partition")
    assert parts == [0, 1, 2, 3]
    assert sum(r["rows"] for r in rows if r["kind"] == "partition") == 1000
    (unit,) = [r for r in rows if r["kind"] == "pass"]
    assert unit["rows"] == 1000 and unit["partitions"] == 4


def test_metrics_append_runs_no_spark_job(spark, tmp_path):
    """A metrics append is a driver-side file write: one JSON-lines part
    file, no Spark job."""
    ckpt = CheckpointedMatch(spark, str(tmp_path / "run4"))
    row = {"kind": "pass", "pass_id": 0, "slice": -1, "partition": -1,
           "rows": 3, "wall_s": 0.5, "partitions": 1,
           "ts": "2026-01-01T00:00:00Z"}
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "metrics-append")
    try:
        ckpt._append_metrics([row, dict(row, kind="partition", partition=0)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("metrics-append")) == []
    files = [f for f in os.listdir(tmp_path / "run4" / "metrics")
             if not f.startswith(".")]
    assert len(files) == 1 and files[0].startswith("part-")
    assert files[0].endswith(".json")
    got = ckpt.metrics()
    assert got.schema.simpleString() == METRICS_SCHEMA
    assert sorted(r["kind"] for r in got.collect()) == ["partition", "pass"]
