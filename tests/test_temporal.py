"""Temporal operators: as-of join and interval-overlap join — hand cases,
randomized brute-force properties, DuckDB oracle parity, plan asserts."""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.temporal import (
    asof_join,
    asof_join_sql,
    interval_overlap_pairs,
    interval_overlap_pairs_sql,
)

T = dt.datetime


def _rand_frames(seed, n_left=120, n_right=150, n_keys=6):
    rng = random.Random(seed)
    t0 = T(2024, 1, 1)
    left = [
        (i, rng.randrange(n_keys), t0 + dt.timedelta(seconds=rng.randrange(100_000)))
        for i in range(n_left)
    ]
    right = [
        (
            1000 + i,
            rng.randrange(n_keys),
            t0 + dt.timedelta(seconds=rng.randrange(100_000)),
            round(rng.uniform(0, 50), 2),
        )
        for i in range(n_right)
    ]
    return left, right


def _brute_asof(left, right, tolerance_s=None):
    out = {}
    for lid, k, lts in left:
        best = None
        for rid, rk, rts, v in right:
            if rk != k or rts > lts:
                continue
            if tolerance_s is not None and rts < lts - dt.timedelta(
                seconds=tolerance_s
            ):
                continue
            if best is None or (rts, rid) > (best[2], best[0]):
                best = (rid, rk, rts, v)
        out[lid] = (best[0], best[3]) if best else (None, None)
    return out


def test_asof_hand_case_tie_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10, T(2024, 1, 1, 10)), (2, 10, T(2024, 1, 1, 9)), (3, 20, T(2024, 1, 1, 10))],
        "lid long, k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, T(2024, 1, 1, 9, 30), 1.5),
            (101, 10, T(2024, 1, 1, 9, 30), 2.5),  # tie: largest rid wins
            (102, 10, T(2024, 1, 1, 8), 3.5),
        ],
        "rid long, k long, rts timestamp, v double",
    )
    out = {
        r.lid: (r.rid, r.v)
        for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["rid", "v"], right_id="rid", tolerance_s=3600,
        ).collect()
    }
    assert out == {1: (101, 2.5), 2: (102, 3.5), 3: (None, None)}


@pytest.mark.parametrize("tolerance_s", [None, 20_000])
def test_asof_matches_brute_force(spark, tolerance_s):
    left, right = _rand_frames(99)
    ldf = spark.createDataFrame(left, "lid long, k long, lts timestamp")
    rdf = spark.createDataFrame(right, "rid long, k long, rts timestamp, v double")
    got = {
        r.lid: (r.rid, r.v)
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["rid", "v"], right_id="rid", tolerance_s=tolerance_s,
        ).collect()
    }
    assert got == _brute_asof(left, right, tolerance_s)


def test_asof_oracle_parity(spark):
    left, right = _rand_frames(7)
    ldf = spark.createDataFrame(left, "lid long, k long, lts timestamp")
    rdf = spark.createDataFrame(right, "rid long, k long, rts timestamp, v double")
    got = sorted(
        (r.lid, r.rid, r.v)
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["rid", "v"], right_id="rid", tolerance_s=9_000,
        ).collect()
    )
    con = duckdb.connect()
    con.register("l", pd.DataFrame(left, columns=["lid", "k", "lts"]))
    con.register("r", pd.DataFrame(right, columns=["rid", "k", "rts", "v"]))
    sql = asof_join_sql(
        "l", "r", on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["rid", "v"], left_id="lid", right_id="rid",
        tolerance_s=9_000,
    )
    want = sorted((lid, rid, v) for lid, _, _, rid, v in con.sql(sql).fetchall())
    assert got == want


def test_asof_rejects_column_clash(spark):
    df = spark.createDataFrame([(1, 1, T(2024, 1, 1))], "lid long, k long, lts timestamp")
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            df, df, on=["k"], left_ts="lts", right_ts="lts",
            right_cols=["lid"], right_id="lid",
        )


def _rand_intervals(seed, n=150, n_keys=4):
    rng = random.Random(seed)
    t0 = T(2024, 1, 1)
    rows = []
    for i in range(n):
        s = t0 + dt.timedelta(seconds=rng.randrange(400_000))
        rows.append(
            (
                i,
                s,
                s + dt.timedelta(seconds=rng.randrange(-1000, 40_000)),
                rng.randrange(n_keys),
            )
        )
    return rows


def _brute_overlap(rows, granule_s, max_granules, blocked):
    us = granule_s * 1_000_000
    keep = []
    for i, s, e, k in rows:
        su, eu = int(s.timestamp() * 1e6), int(e.timestamp() * 1e6)
        if eu < su or (eu // us) - (su // us) >= max_granules:
            continue
        keep.append((i, su, eu, k))
    out = set()
    for a in keep:
        for b in keep:
            if a[0] >= b[0] or (blocked and a[3] != b[3]):
                continue
            if a[1] <= b[2] and b[1] <= a[2]:
                out.add((a[0], b[0], min(a[2], b[2]) - max(a[1], b[1])))
    return out


@pytest.mark.parametrize("blocked", [False, True])
def test_interval_overlap_matches_brute_force(spark, blocked):
    rows = _rand_intervals(5)
    df = spark.createDataFrame(rows, "id long, s timestamp, e timestamp, k long")
    got = {
        (r.id_l, r.id_r, r.overlap_us)
        for r in interval_overlap_pairs(
            df, "id", "s", "e", granule_s=3600, max_granules=8,
            block_cols=("k",) if blocked else (),
        ).collect()
    }
    assert got == _brute_overlap(rows, 3600, 8, blocked)


def test_interval_overlap_oracle_parity(spark, tmp_path):
    rows = _rand_intervals(11)
    df = spark.createDataFrame(rows, "id long, s timestamp, e timestamp, k long")
    got = sorted(
        (r.id_l, r.id_r, r.overlap_us)
        for r in interval_overlap_pairs(
            df, "id", "s", "e", granule_s=1800, max_granules=16, block_cols=("k",)
        ).collect()
    )
    p = str(tmp_path / "iv.parquet")
    df.write.parquet(p)
    con = duckdb.connect()
    sql = interval_overlap_pairs_sql(
        f"read_parquet('{p}/*.parquet')", "id", "s", "e",
        granule_s=1800, max_granules=16, block_cols=("k",),
    )
    want = sorted(map(tuple, con.sql(sql).fetchall()))
    assert got == want


def test_interval_overlap_span_cap_and_invalid_rows(spark):
    rows = [
        (1, T(2024, 1, 1, 0), T(2024, 1, 1, 1), 0),
        (2, T(2024, 1, 1, 0, 30), T(2024, 1, 9), 0),  # spans > max_granules, dropped
        (3, T(2024, 1, 1, 2), T(2024, 1, 1, 1), 0),  # end < start, dropped
        (4, T(2024, 1, 1, 0, 45), T(2024, 1, 1, 3), 0),
    ]
    df = spark.createDataFrame(rows, "id long, s timestamp, e timestamp, k long")
    got = {
        (r.id_l, r.id_r)
        for r in interval_overlap_pairs(
            df, "id", "s", "e", granule_s=3600, max_granules=24
        ).collect()
    }
    assert got == {(1, 4)}


def test_temporal_plans_have_no_nested_loop(spark):
    left, right = _rand_frames(1, n_left=20, n_right=20)
    ldf = spark.createDataFrame(left, "lid long, k long, lts timestamp")
    rdf = spark.createDataFrame(right, "rid long, k long, rts timestamp, v double")
    p1 = asof_join(
        ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["rid", "v"], right_id="rid",
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p1 and "BroadcastNestedLoop" not in p1

    rows = _rand_intervals(2, n=20)
    df = spark.createDataFrame(rows, "id long, s timestamp, e timestamp, k long")
    p2 = interval_overlap_pairs(
        df, "id", "s", "e", block_cols=("k",)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoop" not in p2


def test_interval_pass_kind_through_run_match(spark):
    """An Interval blocker routes pass_candidates through interval_overlap_pairs
    (block_fields as exact co-block keys) and feeds the standard FS path."""
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        Interval,
        MatchConfig,
        MatchField,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match
    from bigmatch_utilities_spark.operators.temporal import (
        interval_overlap_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, 7, T(2024, 1, 1, 0), T(2024, 1, 1, 2), "alpha"),
            (2, 7, T(2024, 1, 1, 1), T(2024, 1, 1, 3), "alpha"),  # overlaps 1
            (3, 7, T(2024, 1, 2, 0), T(2024, 1, 2, 1), "alpha"),  # disjoint
            (4, 9, T(2024, 1, 1, 1), T(2024, 1, 1, 3), "alpha"),  # other key
        ],
        "rid long, k long, s timestamp, e timestamp, name string",
    )
    cut = CutoffSpec(hi=0.1, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                blocker=Interval(
                    start="s", end="e", granule_s=3600, max_granules=8
                ),
                block_fields=(BlockField(name="k"),),
                match_fields=(
                    MatchField(name="name", comparator="c", m=0.9, u=0.1),
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
        for r in interval_overlap_pairs(
            df, "rid", "s", "e", granule_s=3600, max_granules=8,
            block_cols=("k",),
        ).collect()
    }
    assert scored == cands == {(1, 2)}


def test_interval_pass_validation_and_parmf_refusal():
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        FieldRef,
        Interval,
        MatchConfig,
        MatchField,
        write_parmf,
    )

    with pytest.raises(TypeError, match="start"):
        Interval()
    with pytest.raises(ValueError, match="start and end"):
        Interval(start="s", end="")
    with pytest.raises(ValueError, match="granule_s"):
        Interval(start="s", end="e", granule_s=0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(), blocker=Interval(start="s", end="e"),
                match_fields=(MatchField(name="n", comparator="c", m=0.9, u=0.1),),
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    with pytest.raises(ValueError, match="cannot express"):
        write_parmf(cfg)


def test_entity_history_change_detection(spark):
    """Consecutive duplicates collapse; value changes (incl. null<->value)
    open new validity windows; valid_to chains to the next change."""
    from bigmatch_utilities_spark.operators.temporal import entity_history

    rows = [
        # entity 1, field "city": A, A (dup), B, A again
        (1, 1, "2020-01-01 00:00:00", "A"),
        (2, 1, "2020-02-01 00:00:00", "A"),
        (3, 1, "2020-03-01 00:00:00", "B"),
        (4, 1, "2020-04-01 00:00:00", "A"),
        # entity 2: null then value
        (5, 2, "2020-01-01 00:00:00", None),
        (6, 2, "2020-02-01 00:00:00", "X"),
    ]
    df = spark.createDataFrame(rows, ["rid", "uid", "ts", "city"])
    out = entity_history(
        df, entity_col="uid", ts_col="ts", fields=["city"], id_col="rid"
    ).collect()
    by_ent = {}
    for r in sorted(out, key=lambda r: (r["entity_id"], r["valid_from_us"])):
        by_ent.setdefault(r["entity_id"], []).append(
            (r["value"], r["valid_to_us"] is None)
        )
    assert by_ent[1] == [("A", False), ("B", False), ("A", True)]
    assert by_ent[2] == [(None, False), ("X", True)]
    # windows chain: each valid_to equals the next valid_from
    e1 = [r for r in out if r["entity_id"] == 1]
    e1.sort(key=lambda r: r["valid_from_us"])
    for a, b in zip(e1, e1[1:]):
        assert a["valid_to_us"] == b["valid_from_us"]


def test_entity_history_oracle_parity(spark, tmp_path):
    """Spark and the DuckDB twin emit identical timelines on random data
    with duplicate values, nulls, and tied timestamps."""
    import random

    import duckdb

    from bigmatch_utilities_spark.operators.temporal import (
        entity_history,
        entity_history_sql,
    )

    rng = random.Random(99)
    rows = []
    for rid in range(1, 301):
        rows.append(
            (
                rid,
                rng.randint(1, 12),
                f"2021-0{rng.randint(1, 9)}-0{rng.randint(1, 9)} 0{rng.randint(0, 9)}:00:00",
                rng.choice(["a", "b", "c", None]),
                rng.choice(["x", "y"]),
            )
        )
    df = spark.createDataFrame(rows, ["rid", "uid", "ts", "f1", "f2"])
    pq = str(tmp_path / "eh.parquet")
    df.write.mode("overwrite").parquet(pq)

    got = {
        tuple(r)
        for r in entity_history(
            spark.read.parquet(pq),
            entity_col="uid", ts_col="ts", fields=["f1", "f2"], id_col="rid",
        ).collect()
    }
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            entity_history_sql(
                f"read_parquet('{pq}/*.parquet')",
                entity_expr="uid", ts_expr="ts",
                fields=["f1", "f2"], id_expr="rid",
            )
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_entity_history_single_sort(spark):
    """Both windows share one (entity, field) partitioning: the physical
    plan holds exactly ONE shuffle exchange."""
    from bigmatch_utilities_spark.operators.temporal import entity_history

    df = spark.createDataFrame(
        [(1, 1, "2020-01-01 00:00:00", "A")], ["rid", "uid", "ts", "city"]
    )
    plan = (
        entity_history(
            df, entity_col="uid", ts_col="ts", fields=["city"], id_col="rid"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
