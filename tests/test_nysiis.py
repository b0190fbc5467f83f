"""NYSIIS-style phonetic key (functions/nysiis.py) — cross-engine
equality, misspelling-family collisions, and the nysiis blocking kind."""

from __future__ import annotations

import random
import string

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.functions.nysiis import with_nysiis, nysiis_sql


def _keys(spark, names):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    return {r.id: r.nysiis for r in with_nysiis(df, "name").collect()}


def test_nysiis_spark_matches_duckdb_on_fuzz_vocab(spark, tmp_path):
    random.seed(7)
    names = [
        "BRIAN", "BROWN", "KNIGHT", "PHILLIP", "SCHMIDT", "MACDONALD",
        "O'DONNELL", "WASHINGTON", "PFISTER", "LAWSON", "GREENE", "DAY",
        "MCKEE", "IE", "", "A", "SHAW", "HOYT", "EVANS", "SEVERANCE",
        "KNUTH", "SCHENECTADY",
    ] + [
        "".join(
            random.choice(string.ascii_uppercase + "'- ")
            for _ in range(random.randint(0, 12))
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "id long, name string"
    )
    got = {r.id: r.nysiis for r in with_nysiis(df, "name").collect()}
    pq = str(tmp_path / "names.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = dict(con.execute(nysiis_sql("t", "name", carry="id")).fetchall())
    assert got == want


def test_nysiis_collides_misspelling_families_and_separates_names(spark):
    families = [
        ("PHILLIP", "FILLIP"),
        ("KNIGHT", "NIGHT"),
        ("CATHERINE", "KATHERINE"),
        ("STEVENSON", "STEPHENSON"),
    ]
    flat = [n for fam in families for n in fam]
    keys = _keys(spark, flat)
    for i, (a, b) in enumerate(families):
        assert keys[2 * i] == keys[2 * i + 1], (a, b, keys[2 * i], keys[2 * i + 1])
    distinct = ["WASHINGTON", "BRIAN", "SCHMIDT", "LAWSON"]
    dk = set(_keys(spark, distinct).values())
    assert len(dk) == len(distinct)


def test_nysiis_max_len_truncates(spark):
    df = spark.createDataFrame([(0, "SCHENECTADY")], "id long, name string")
    full = with_nysiis(df, "name").collect()[0].nysiis
    six = with_nysiis(df, "name", max_len=6).collect()[0].nysiis
    assert six == full[:6] and len(six) == 6


def test_nysiis_block_kind_candidate_pairs_fast_plan(spark):
    """kind='nysiis' derives the key, filters blanks, joins — and the
    optimizer must not hang (the explode_outer guard): build+run under a
    sane wall clock is the regression check."""
    from bigmatch_utilities_spark.config import BlockField, BlockingPassSpec
    from bigmatch_utilities_spark.operators.blocking import candidate_pairs

    rows = [
        (1, "PHILLIP", 0), (2, "FILLIP", 0), (3, "KNIGHT", 0), (4, "NIGHT", 0),
        (5, "BROWN", 0), (6, "", 0), (7, None, 0), (8, "PHILLIP", 1),
    ]
    d = spark.createDataFrame(rows, "doc_id long, nm string, bucket long")
    spec = BlockingPassSpec(
        block_fields=(
            BlockField(name="nm", key_kind="nysiis"),
            BlockField(name="bucket", blank_flag=0),
        ),
        match_fields=(),
    )
    out = candidate_pairs(d, d, spec, "doc_id", dedupe=True, carry=[])
    pairs = sorted((r.id_rec, r.id_mem) for r in out.collect())
    # PHILLIP~FILLIP same bucket; KNIGHT~NIGHT same bucket; blanks/nulls
    # drop; PHILLIP id=8 is in bucket 1 so it pairs with nobody
    assert pairs == [(1, 2), (3, 4)]
