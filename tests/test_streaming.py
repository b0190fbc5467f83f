"""Structured Streaming incremental match: file source → stream-static
blocked join → scored pairs sink; exactly-once resume off the checkpoint."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigmatch_utilities_spark.streaming.incremental import run_incremental_match
from tests.person_f2 import read_person_f2, write_person_f2


def test_incremental_match_availablenow(spark, tmp_path):
    cfg, rec, mem = read_person_f2(spark, write_person_f2(tmp_path))
    spec = cfg.passes[0]  # blocks on lname
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")
    # first micro-batch: records 1-10; the second, 11-14, adds the MARY
    # JOHNSON and JOHN PARKS pairs (PIERRE CURIE scores below the floor)
    rec10 = rec.filter(F.col("id").cast("int") <= 10)
    rec10.write.mode("overwrite").parquet(in_dir)
    schema = rec.schema

    run_incremental_match(
        spark, in_dir, schema, mem, spec, "id", out_dir, ck_dir
    )
    first = spark.read.parquet(out_dir)
    n1 = first.count()
    first_pairs = {(r["id_rec"], r["id_mem"]) for r in first.collect()}
    assert n1 > 0
    assert {"id_rec", "id_mem", "weight", "is_exact"} <= set(first.columns)

    # append the remaining records; AvailableNow resumes from checkpoint and
    # processes ONLY the new file (exactly-once)
    rec.exceptAll(rec10).write.mode("append").parquet(in_dir)
    run_incremental_match(
        spark, in_dir, schema, mem, spec, "id", out_dir, ck_dir
    )
    both = spark.read.parquet(out_dir)
    n2 = both.count()
    assert n2 > n1
    both_pairs = {(r["id_rec"], r["id_mem"]) for r in both.collect()}
    assert both_pairs - first_pairs == {("11", "10"), ("13", "6")}
    # no duplicated pairs from re-processing batch 1
    assert both.groupBy("id_rec", "id_mem").count().filter("count > 1").count() == 0


def test_stateful_stream_dedup_first_seen_wins(spark, tmp_path):
    """applyInPandasWithState content-sha dedup: batch 1 admits one row
    per distinct content; a resumed run over appended files admits ONLY
    never-seen content (state survives via the checkpoint, replay-safe)."""
    from bigmatch_utilities_spark.streaming.stateful_dedup import run_stream_dedup

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, content string"

    def state_rows(q):
        """(numRowsTotal, numRowsUpdated) summed over the run's batches."""
        total, updated = 0, 0
        for p in q.recentProgress:
            ops = p.get("stateOperators") or []
            for op in ops:
                total = max(total, op.get("numRowsTotal", 0))
                updated += op.get("numRowsUpdated", 0)
        return total, updated

    rows1 = [(i, f"content_{i % 7}") for i in range(10)]
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(inp)
    q1 = run_stream_dedup(spark, inp, schema, "content", out, ck)
    got1 = spark.read.parquet(out)
    assert got1.count() == 7  # one per distinct content
    assert set(got1.columns) == {"doc_id", "content", "content_sha"}
    total1, updated1 = state_rows(q1)
    # state layout: ONE row per distinct hash, written once when admitted
    assert total1 == 7 and updated1 == 7

    # batch 2: 5 already-seen contents + 3 fresh ones
    rows2 = [(100 + i, f"content_{i % 7}") for i in range(5)] + [
        (200 + i, f"fresh_{i}") for i in range(3)
    ]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(inp)
    q2 = run_stream_dedup(spark, inp, schema, "content", out, ck)
    got2 = spark.read.parquet(out)
    assert got2.count() == 10  # +3 fresh only
    assert got2.select("content_sha").distinct().count() == 10
    assert (
        got2.groupBy("content_sha").count().filter("count > 1").count() == 0
    )
    # growth invariant: the resumed batch's state WRITES are proportional
    # to the NEW hashes only (3), not to everything ever seen (10) — the
    # per-batch work bound that makes the design hold at 10^12 files.
    total2, updated2 = state_rows(q2)
    assert total2 == 10 and updated2 == 3
