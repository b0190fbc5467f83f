"""DSIR importance-resampling selection (operators/dsir.py)."""

from __future__ import annotations

import duckdb

from bigmatch_utilities_spark.operators.dsir import (
    dsir_keep,
    dsir_scores,
    dsir_bucket_weights,
    dsir_scores_sql,
)


def _corpus(spark):
    # raw mixes two vocabularies; target speaks only vocab A
    rows = []
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, "spark shuffle partition join broadcast agg"))
        else:
            rows.append((i, "llama alpaca vicuna gecko marmot wombat"))
    rows.append((99, ""))  # zero-token doc
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_ranks_target_like_docs_first(spark):
    raw = _corpus(spark)
    target = spark.createDataFrame(
        [(1000 + i, "spark join shuffle agg broadcast partition") for i in range(5)],
        "doc_id long, text string",
    )
    kept = dsir_keep(target, raw, 10, buckets=256).collect()
    assert len(kept) == 10
    assert all(r.doc_id % 3 == 0 for r in kept), kept
    # scores strictly separate the vocabularies
    scores = {
        r.doc_id: r.dsir_score
        for r in dsir_scores(
            raw, dsir_bucket_weights(target, raw, buckets=256), buckets=256
        ).collect()
    }
    a = min(v for k, v in scores.items() if k % 3 == 0 and k != 99)
    b = max(v for k, v in scores.items() if k % 3 != 0 and k != 99)
    assert a > b
    assert scores[99] == 0  # zero-token doc: no evidence, kept in frame


def test_dsir_id_column_need_not_be_doc_id(spark):
    """The weights are token counts only, so neither corpus needs a
    ``doc_id`` column: frames keyed by another id column give the same
    weights, scores and selection as the doc_id-keyed ones."""
    raw = _corpus(spark)
    target = spark.createDataFrame(
        [(1000, "spark join shuffle"), (1001, "partition broadcast agg")],
        "doc_id long, text string",
    )
    raw_u = raw.withColumnRenamed("doc_id", "uid")
    target_u = target.withColumnRenamed("doc_id", "uid")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dsir_bucket_weights(target_u, raw_u, buckets=64)) == rows(
        dsir_bucket_weights(target, raw, buckets=64)
    )
    assert [tuple(r) for r in dsir_keep(
        target_u, raw_u, 8, id_col="uid", buckets=64
    ).collect()] == [tuple(r) for r in dsir_keep(target, raw, 8, buckets=64).collect()]


def test_dsir_scores_match_duckdb_oracle(spark, tmp_path):
    raw = _corpus(spark)
    target = spark.createDataFrame(
        [(1000, "spark join shuffle"), (1001, "partition broadcast agg")],
        "doc_id long, text string",
    )
    rawp, tgtp = str(tmp_path / "raw.parquet"), str(tmp_path / "tgt.parquet")
    raw.write.mode("overwrite").parquet(rawp)
    target.write.mode("overwrite").parquet(tgtp)
    got = sorted(
        (r.doc_id, r.dsir_score)
        for r in dsir_scores(
            raw, dsir_bucket_weights(target, raw, buckets=64), buckets=64
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{rawp}/*.parquet')")
    con.execute(f"CREATE VIEW tgt AS SELECT * FROM read_parquet('{tgtp}/*.parquet')")
    want = sorted(
        tuple(r)
        for r in con.execute(
            dsir_scores_sql("tgt", "raw", buckets=64)
        ).fetchall()
    )
    assert got == want


def test_dsir_sample_parity_and_temperature_behavior(spark, tmp_path):
    """Gumbel-top-k: DuckDB-identical keys; T→0 recovers argmax top-k;
    high T admits lower-score docs (noise dominates)."""
    from bigmatch_utilities_spark.operators.dsir import (
        dsir_keep,
        dsir_sample,
        dsir_sample_sql,
    )

    raw = _corpus(spark)
    target = spark.createDataFrame(
        [(1000, "spark join shuffle agg broadcast partition")],
        "doc_id long, text string",
    )
    rawp, tgtp = str(tmp_path / "raw.parquet"), str(tmp_path / "tgt.parquet")
    raw.write.mode("overwrite").parquet(rawp)
    target.write.mode("overwrite").parquet(tgtp)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{rawp}/*.parquet')")
    con.execute(f"CREATE VIEW tgt AS SELECT * FROM read_parquet('{tgtp}/*.parquet')")
    got = [
        (r.doc_id, r.dsir_score, r.gumbel_key)
        for r in dsir_sample(
            target, raw, 8, temperature=3.0, buckets=64
        ).collect()
    ]
    want = [
        tuple(r)
        for r in con.execute(
            dsir_sample_sql("tgt", "raw", 8, temperature=3.0, buckets=64)
        ).fetchall()
    ]
    assert got == want
    # near-zero temperature == plain argmax selection
    cold = sorted(
        r.doc_id
        for r in dsir_sample(
            target, raw, 8, temperature=1e-9, buckets=64
        ).collect()
    )
    top = sorted(
        r.doc_id for r in dsir_keep(target, raw, 8, buckets=64).collect()
    )
    assert cold == top
    # a huge temperature lets off-target docs in (pure argmax would not)
    hot = {
        r.doc_id
        for r in dsir_sample(
            target, raw, 8, temperature=1e6, buckets=64
        ).collect()
    }
    assert any(i % 3 != 0 for i in hot)
