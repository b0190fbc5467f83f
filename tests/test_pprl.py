"""PPRL Bloom/CLK encodings: semantics + Spark/DuckDB parity."""

from __future__ import annotations

import random
import string

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.functions.pprl import (
    bloom_bits,
    bloom_bits_sql,
    dice,
    dice_sql,
)


def _enc(spark, vals, bits=64, k=2):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, name string"
    )
    return {
        r.id: list(r.bb)
        for r in df.select(
            "id", bloom_bits(F.col("name"), bits=bits, k=k).alias("bb")
        ).collect()
    }


def test_encoding_semantics(spark):
    got = _enc(spark, ["SMITH", "smith", "  Smith ", "", "   ", "a"])
    # case- and pad-insensitive: one canonical encoding per value
    assert got[0] == got[1] == got[2]
    # blanks carry no evidence: empty filter
    assert got[3] == [] and got[4] == []
    # single char still gets two bigrams (space-padded)
    assert len(got[5]) >= 2
    # positions sorted, distinct, in range
    for bbs in got.values():
        assert bbs == sorted(set(bbs))
        assert all(0 <= p < 64 for p in bbs)


def test_dice_properties(spark):
    df = spark.createDataFrame(
        [(1, "william"), (2, "william"), (3, "wiliam"), (4, "zzzzqqqq"), (5, "")],
        "id long, name string",
    )
    e = df.select("id", bloom_bits(F.col("name"), bits=512, k=3).alias("bb"))
    l, r = e.alias("l"), e.alias("r")
    d = {
        (x.il, x.ir): x.d
        for x in l.crossJoin(r)
        .select(
            F.col("l.id").alias("il"),
            F.col("r.id").alias("ir"),
            F.round(dice(F.col("l.bb"), F.col("r.bb")), 6).alias("d"),
        )
        .collect()
    }
    assert d[(1, 2)] == 1.0                     # identical strings
    assert 0.5 < d[(1, 3)] < 1.0                # one-typo neighbor stays high
    assert d[(1, 4)] < d[(1, 3)]                # unrelated string scores lower
    assert d[(1, 5)] == 0.0                     # blank vs value: no overlap
    assert d[(5, 5)] is None                    # blank vs blank: no evidence


def test_parity_randomized(spark):
    rng = random.Random(99)
    alphabet = string.ascii_letters + string.digits + " -'éß"
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        for _ in range(120)
    ]
    for bits, k in [(64, 2), (512, 3)]:
        got = _enc(spark, vals, bits=bits, k=k)
        rows = ", ".join(
            "({}, '{}')".format(i, v.replace("'", "''")) for i, v in enumerate(vals)
        )
        sql = (
            f"SELECT id, {bloom_bits_sql('name', bits=bits, k=k)} AS bb "
            f"FROM (VALUES {rows}) t(id, name)"
        )
        con = duckdb.connect()
        want = {r[0]: list(r[1]) for r in con.sql(sql).fetchall()}
        assert got == want, f"encoding parity failed at bits={bits} k={k}"


def test_dice_sql_parity(spark):
    vals = ["smith", "smyth", "schmidt", "", "smith-jones"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, name string"
    )
    e = df.select("id", bloom_bits(F.col("name"), bits=128, k=2).alias("bb"))
    l, r = e.alias("l"), e.alias("r")
    got = {
        (x.il, x.ir): x.d
        for x in l.crossJoin(r)
        .select(
            F.col("l.id").alias("il"),
            F.col("r.id").alias("ir"),
            F.round(dice(F.col("l.bb"), F.col("r.bb")), 6).alias("d"),
        )
        .collect()
    }
    rows = ", ".join(f"({i}, '{v}')" for i, v in enumerate(vals))
    sql = f"""
        WITH e AS (SELECT id, {bloom_bits_sql('name', bits=128, k=2)} AS bb
                   FROM (VALUES {rows}) t(id, name))
        SELECT l.id, r.id, round({dice_sql('l.bb', 'r.bb')}, 6)
        FROM e l, e r
    """
    con = duckdb.connect()
    want = {(r[0], r[1]): r[2] for r in con.sql(sql).fetchall()}
    assert got == want


def test_bloom_comparator_in_scoring(spark):
    """The 'b' code flows through MatchField validation + FS scoring."""
    from bigmatch_utilities_spark.config import MatchField
    from bigmatch_utilities_spark.operators.scoring import pair_weight

    mf = MatchField(name="nm", comparator="b", m=0.9, u=0.1)  # validates
    pairs = spark.createDataFrame(
        [(1, "william", "william"), (2, "william", "wiliam"), (3, "william", "qqqq")],
        "pid long, rec_nm string, mem_nm string",
    )
    w = {r.pid: r.w for r in pairs.select(
        "pid", F.round(pair_weight([mf]), 6).alias("w")).collect()}
    # exact > near-typo > unrelated, and exact gets the full log2(m/u)
    assert w[1] > w[2] > w[3]
    assert abs(w[1] - 3.169925) < 1e-6


def test_bloom_comparator_parmf_roundtrip():
    """'b' survives the parmf writer/parser like any method token."""
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        parse_parmf,
        write_parmf,
    )

    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(BlockField(name="zip"),),
                match_fields=(MatchField(name="nm", comparator="b", m=0.9, u=0.1),),
            ),
        ),
        id_field=FieldRef(name="record_id"),
    )
    back = parse_parmf(write_parmf(cfg))
    assert back.passes[0].match_fields[0].comparator == "b"


def test_bloom_band_blocking(spark):
    """Encoded blocking: identical values always co-block, a one-typo
    neighbor co-blocks on at least one band, unrelated values don't."""
    from bigmatch_utilities_spark.functions.pprl import bloom_band_pairs

    df = spark.createDataFrame(
        [
            (1, "jonathan q. smithfield"),
            (2, "jonathan q. smithfield"),   # exact duplicate
            (3, "jonathan q. smithfeild"),   # one transposition
            (4, "completely different 999"),
            (5, ""),                         # blank: proposes nothing
        ],
        "id long, name string",
    )
    pairs = {
        (r.id_l, r.id_r): r.n_co
        for r in bloom_band_pairs(
            df, "id", "name", bits=512, k=3, bands=12, band_bits=14
        ).collect()
    }
    assert pairs.get((1, 2), 0) == 12        # identical: every band agrees
    assert pairs.get((1, 3), 0) >= 1         # near-dup: amplification works
    assert (1, 4) not in pairs and (2, 4) not in pairs
    assert all(5 not in p for p in pairs)    # blank never proposed


def test_bloom_band_sql_parity(spark, tmp_path):
    import random
    import string as _string

    from bigmatch_utilities_spark.functions.pprl import (
        bloom_band_pairs,
        bloom_band_pairs_sql,
    )

    rng = random.Random(3)
    base = [
        "".join(rng.choice(_string.ascii_lowercase + " ") for _ in range(18))
        for _ in range(40)
    ]
    vals = base + [v[:9] + "x" + v[10:] for v in base[:20]] + ["", "  "]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, name string"
    )
    path = str(tmp_path / "v.parquet")
    df.write.mode("overwrite").parquet(path)
    kw = dict(bits=128, k=2, bands=5, band_bits=9, max_bucket=50)
    got = sorted(
        (r.id_l, r.id_r, r.n_co)
        for r in bloom_band_pairs(df, "id", "name", **kw).collect()
    )
    con = duckdb.connect()
    sql = bloom_band_pairs_sql(
        f"read_parquet('{path}/*.parquet')", "id", "name", **kw
    )
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) > 0


def test_pprl_pass_kind_contract(spark):
    """A Pprl blocker routes pass candidates through bloom_band_pairs and the
    standard scoring: the scored pair set equals the band candidates."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        Pprl,
    )
    from bigmatch_utilities_spark.functions.pprl import bloom_band_pairs
    from bigmatch_utilities_spark.operators.pipeline import run_match

    df = spark.createDataFrame(
        [
            (1, "jonathan q. smithfield", "a"),
            (2, "jonathan q. smithfield", "a"),
            (3, "jonathan q. smithfeild", "b"),
            (4, "completely different 999", "b"),
        ],
        "rid long, name string, src string",
    )
    kw = dict(bits=512, k=3, bands=12, band_bits=14)
    cut = CutoffSpec(hi=2.0, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                blocker=Pprl(field="name", **kw),
                block_fields=(),
                match_fields=(
                    MatchField(name="name", comparator="b", m=0.9, u=0.1),
                    MatchField(name="src", comparator="c", m=0.8, u=0.2),
                ),
                cutoff=cut,
                print_cutoff=cut,
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, id_col="rid", persist=False)
    scored = {(r.id_rec, r.id_mem) for r in res.pairs.collect()}
    cands = {
        (r.id_l, r.id_r)
        for r in bloom_band_pairs(df, "rid", "name", **kw).collect()
    }
    assert scored == cands and (1, 2) in scored
    # the exact duplicate outscores the near-dup, which outscores nothing
    w = {(r.id_rec, r.id_mem): r.weight for r in res.pairs.collect()}
    if (1, 3) in w:
        assert w[(1, 2)] > w[(1, 3)]


def test_pprl_pass_kind_validation():
    from bigmatch_utilities_spark.config import Pprl

    import pytest as _pytest

    with _pytest.raises(TypeError, match="field"):
        Pprl()
    with _pytest.raises(ValueError, match="needs a field"):
        Pprl(field="")
    with _pytest.raises(ValueError, match="pprl bands"):
        Pprl(field="x", bands=0)
