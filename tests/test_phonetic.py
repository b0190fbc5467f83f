"""Portable Soundex: dialect parity (Spark expr == DuckDB == Spark's own
F.soundex) and blocking-pass integration of derived phonetic keys."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import BlockField, BlockingPassSpec
from bigmatch_utilities_spark.functions.phonetic import soundex, soundex_sql
from bigmatch_utilities_spark.operators.blocking import (
    candidate_pairs,
    derive_block_keys,
)

# the classic published test vectors (census/T-SQL convention, H/W
# transparent) plus edge shapes
WORDS = [
    ("ROBERT", "R163"),
    ("RUPERT", "R163"),
    ("ASHCRAFT", "A261"),
    ("ASHCROFT", "A261"),
    ("TYMCZAK", "T522"),
    ("PFISTER", "P236"),
    ("HONEYMAN", "H555"),
    ("WILLIAMS", "W452"),
    ("O'Brien", "O165"),
    ("van der Berg", "V536"),
    ("LEE", "L000"),
    ("A", "A000"),
    ("HW", "H000"),
    ("", ""),
    ("123", ""),
]


def test_soundex_known_vectors(spark):
    df = spark.createDataFrame([(w,) for w, _ in WORDS], ["s"])
    got = [r["sdx"] for r in df.select(soundex("s").alias("sdx")).collect()]
    assert got == [want for _, want in WORDS]


def test_soundex_dialect_parity():
    con = duckdb.connect()
    for w, want in WORDS:
        lit = "'" + w.replace("'", "''") + "'"
        dd = con.sql(f"select {soundex_sql(lit, dialect='duckdb')}").fetchone()[0]
        assert dd == want, (w, dd, want)


def test_soundex_matches_spark_builtin(spark):
    """On purely alphabetic inputs our portable rendering equals Spark's
    built-in soundex (pins the H/W-transparency convention)."""
    import itertools
    import random

    rng = random.Random(7)
    words = [
        "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(rng.randint(1, 12)))
        for _ in range(300)
    ] + ["".join(t) for t in itertools.product("AHWS", repeat=3)]
    df = spark.createDataFrame([(w,) for w in words], ["s"])
    bad = df.select(
        "s", soundex("s").alias("mine"), F.soundex("s").alias("builtin")
    ).filter(F.col("mine") != F.col("builtin"))
    assert bad.count() == 0, bad.take(5)


def test_derive_block_keys_soundex_pass(spark):
    people = spark.createDataFrame(
        [
            (1, "ROBERT", "x"),
            (2, "RUPERT", "x"),
            (3, "SMITH", "x"),
            (4, "SMYTHE", "x"),
            (5, "SMITH", "y"),  # different second key: no pair with 3/4
            (6, "", "x"),  # blank phonetic key: excluded by blank_flag
        ],
        ["pid", "name", "grp"],
    )
    spec = BlockingPassSpec(
        block_fields=(
            BlockField(name="name", key_kind="soundex"),
            BlockField(name="grp", blank_flag=0),
        ),
        match_fields=(),
    )
    _, spec2 = derive_block_keys(people, spec)
    assert [bf.name for bf in spec2.block_fields] == ["name_sdx", "grp"]
    pairs = {
        (r["id_rec"], r["id_mem"])
        for r in candidate_pairs(
            people, people, spec, "pid", dedupe=True, carry=[]
        ).collect()
    }
    assert pairs == {(1, 2), (3, 4)}


def test_prefix_key_kind(spark):
    df = spark.createDataFrame([(1, "ALPHA"), (2, "ALPINE"), (3, "BETA")], ["pid", "s"])
    spec = BlockingPassSpec(
        block_fields=(BlockField(name="s", key_kind="prefix:3"),), match_fields=()
    )
    pairs = {
        (r["id_rec"], r["id_mem"])
        for r in candidate_pairs(
            df, df, spec, "pid", dedupe=True, carry=[]
        ).collect()
    }
    assert pairs == {(1, 2)}
