"""Sorted-neighborhood blocking: rank correctness across partitionings,
pair semantics, oracle parity."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.sorted_neighborhood import (
    sorted_neighborhood_pairs,
    sorted_neighborhood_sql,
    with_global_rank,
)

ROWS = [
    (1, "smith", 30),
    (2, "smyth", 31),
    (3, "smithe", 29),
    (4, "adams", 50),
    (5, "adamson", 51),
    (6, "zhou", 12),
    (7, "smith", 30),  # exact tie with 1 → id tiebreak
]


def _df(spark):
    return spark.createDataFrame(ROWS, ["rid", "name", "age"])


def test_global_rank_is_a_permutation_and_partition_invariant(spark):
    df = _df(spark)
    for parts in (1, 3, 16):
        ranked = with_global_rank(df, ["name", "rid"], num_partitions=parts)
        got = {r["rid"]: r["rank"] for r in ranked.collect()}
        want_order = sorted(ROWS, key=lambda t: (t[1], t[0]))
        want = {t[0]: i + 1 for i, t in enumerate(want_order)}
        assert got == want, (parts, got, want)


def test_global_rank_repeats_on_a_multi_partition_input(spark):
    """The range-partitioned frame is read twice (per-partition counts,
    then row numbers) and is checkpointed once in between, so both reads
    see the same range boundaries: two computations in one session agree
    and each is a permutation of 1..N."""
    n = 3000
    df = spark.range(n).select(
        ((F.col("id") * 7919) % n).alias("rid"),
        (F.col("id") % 13).cast("string").alias("k"),
    ).repartition(6)

    def ranks():
        ranked = with_global_rank(df, ["k", "rid"], num_partitions=5)
        plan = ranked._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, plan
        return {r["rid"]: r["rank"] for r in ranked.collect()}

    first, second = ranks(), ranks()
    assert first == second
    assert sorted(first.values()) == list(range(1, n + 1))


def test_pair_count_linear(spark):
    pairs = sorted_neighborhood_pairs(_df(spark), ["name"], "rid", window=3)
    rows = pairs.collect()
    # (w-1)*N minus edge truncation: 2*7 - (1+2) = 11
    assert len(rows) == 11
    assert all(1 <= r["dist"] <= 2 for r in rows)
    assert all(r["id_l"] < r["id_r"] for r in rows)


def test_neighbors_meet_without_key_equality(spark):
    pairs = {
        (r["id_l"], r["id_r"])
        for r in sorted_neighborhood_pairs(
            _df(spark), ["name"], "rid", window=2
        ).collect()
    }
    # smith(1) and smith(7) tie → adjacent; smithe(3) right after them
    assert (1, 7) in pairs
    assert (3, 7) in pairs or (1, 3) in pairs


def test_oracle_parity(spark, tmp_path):
    df = _df(spark)
    pq = str(tmp_path / "p.parquet")
    df.write.parquet(pq)
    got = {
        (r["id_l"], r["id_r"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, ["name", "age"], "rid", window=4, num_partitions=3
        ).collect()
    }
    con = duckdb.connect()
    con.sql(f"create view p as select * from '{pq}/*.parquet'")
    want = {
        tuple(r)
        for r in con.sql(
            sorted_neighborhood_sql("p", ["name", "age"], "rid", window=4)
        ).fetchall()
    }
    assert got == want


def test_oracle_parity_with_null_keys(spark, tmp_path):
    """NULL key values: Spark's ASC sort puts NULLS FIRST; the oracle SQL
    must say so explicitly (DuckDB defaults NULLS LAST) or ranks — and the
    pair set — diverge."""
    rows = [
        (1, None, 30),
        (2, "ann", None),
        (3, None, None),
        (4, "ann", 25),
        (5, "bob", 40),
    ]
    df = spark.createDataFrame(rows, ["rid", "name", "age"])
    pq = str(tmp_path / "n.parquet")
    df.write.parquet(pq)
    got = {
        (r["id_l"], r["id_r"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, ["name", "age"], "rid", window=3, num_partitions=2
        ).collect()
    }
    con = duckdb.connect()
    con.sql(f"create view n as select * from '{pq}/*.parquet'")
    want = {
        tuple(r)
        for r in con.sql(
            sorted_neighborhood_sql("n", ["name", "age"], "rid", window=3)
        ).fetchall()
    }
    assert got == want


def _spec(window=3, fields=("name",)):
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        CutoffSpec,
        MatchField,
        Snm,
    )

    return BlockingPassSpec(
        block_fields=tuple(BlockField(name=f) for f in fields),
        match_fields=(MatchField(name="name", comparator="c", m=0.9, u=0.1),),
        cutoff=CutoffSpec(hi=2.0, lo=-50.0),
        print_cutoff=CutoffSpec(hi=2.0, lo=-50.0),
        blocker=Snm(window=window),
    )


def test_snm_candidate_pairs_contract_dedupe(spark):
    """Snm self pass: candidate_pairs output contract, id canon,
    carried values follow their ids."""
    from bigmatch_utilities_spark.operators.sorted_neighborhood import (
        snm_candidate_pairs,
    )

    df = spark.createDataFrame(
        [(5, "ann"), (1, "bob"), (9, "ann"), (2, "carl")], ["rid", "name"]
    )
    got = {
        (r["id_rec"], r["id_mem"]): (r["rec_name"], r["mem_name"])
        for r in snm_candidate_pairs(
            df, None, _spec(window=2), "rid", dedupe=True
        ).collect()
    }
    # sort order: ann(5), ann(9), bob(1), carl(2); window 2 pairs neighbors
    assert set(got) == {(5, 9), (1, 9), (1, 2)}
    assert got[(5, 9)] == ("ann", "ann")
    assert got[(1, 9)] == ("bob", "ann")  # rec carries id 1's value


def test_snm_candidate_pairs_two_file(spark):
    """Two-file SNM: merged sort, only cross-file neighbors, id_rec from
    the rec side."""
    from bigmatch_utilities_spark.operators.sorted_neighborhood import (
        snm_candidate_pairs,
    )

    rec = spark.createDataFrame([(1, "ann"), (2, "carl")], ["rid", "name"])
    mem = spark.createDataFrame([(7, "anne"), (8, "carla")], ["rid", "name"])
    got = {
        (r["id_rec"], r["id_mem"]): (r["rec_name"], r["mem_name"])
        for r in snm_candidate_pairs(rec, mem, _spec(window=2), "rid").collect()
    }
    # merged order: ann(r1), anne(m7), carl(r2), carla(m8); every adjacent
    # step is cross-file, so all three neighbor pairs emit
    assert got == {
        (1, 7): ("ann", "anne"),
        (2, 7): ("carl", "anne"),
        (2, 8): ("carl", "carla"),
    }


def test_snm_pass_in_run_match(spark):
    """A MatchConfig mixing an equi pass and an SNM pass: the SNM pass
    recovers a typo'd pair the equi key loses; first-pass-wins holds."""
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        Snm,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match

    rows = [
        (1, "k1", "smith"),
        (2, "k1", "smith"),   # equi pair with 1
        (3, "k2", "smyth"),   # equi key differs; SNM on surname finds 3~1/2
        (4, "zz", "jones"),
    ]
    df = spark.createDataFrame(rows, ["rid", "key", "surname"])
    mf = (MatchField(name="surname", comparator="e", m=0.9, u=0.05),)
    cut = CutoffSpec(hi=3.0, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(BlockField(name="key"),),
                match_fields=mf, cutoff=cut, print_cutoff=cut,
            ),
            BlockingPassSpec(
                block_fields=(BlockField(name="surname"),),
                match_fields=mf, cutoff=cut, print_cutoff=cut,
                blocker=Snm(window=3),
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, persist=False)
    got = {(r["id_rec"], r["id_mem"]): r["pass_id"] for r in res.pairs.collect()}
    assert got[(1, 2)] == 0          # equi pair, first pass wins
    assert (2, 3) in got or (1, 3) in got  # SNM mop-up found the typo
    assert all(p in (0, 1) for p in got.values())


def test_snm_config_validation():
    import pytest

    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        MatchField,
        Snm,
    )

    with pytest.raises(ValueError, match="window"):
        BlockingPassSpec(
            block_fields=(BlockField(name="k"),),
            match_fields=(MatchField(name="k"),),
            blocker=Snm(window=1),
        )
    with pytest.raises(TypeError, match="kind"):
        BlockingPassSpec(
            block_fields=(BlockField(name="k"),),
            match_fields=(MatchField(name="k"),),
            kind="fuzzy",
        )
