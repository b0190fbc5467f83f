"""Mutual-best-match 1:1 assignment: selection semantics, deterministic
ties, no-window plan, Spark<->DuckDB parity."""

from __future__ import annotations

import duckdb
import pytest

from bigmatch_utilities_spark.operators.assignment import one_to_one, one_to_one_sql

SCHEMA = "id_rec long, id_mem long, weight double"


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        # r1's best is m1 (8) and m1's best is r1 -> kept
        (1, 101, 8.0),
        (1, 102, 5.0),
        (2, 101, 6.0),  # m101 prefers r1 -> dropped
        # r3/m103 mutual -> kept
        (3, 103, 4.0),
        # tie on weight for r4: partners 104 and 105 — tie-break to the
        # SMALLEST mem id; 104's only suitor is r4 -> kept
        (4, 104, 7.0),
        (4, 105, 7.0),
        # chain: r5->m106 (9) but m106's best is r6 (9.5) -> both r5 pairs die
        (5, 106, 9.0),
        (6, 106, 9.5),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_mutual_best_selection(pairs):
    got = {(r["id_rec"], r["id_mem"]) for r in one_to_one(pairs).collect()}
    assert got == {(1, 101), (3, 103), (4, 104), (6, 106)}


def test_each_id_at_most_once(pairs):
    out = one_to_one(pairs).collect()
    recs = [r["id_rec"] for r in out]
    mems = [r["id_mem"] for r in out]
    assert len(recs) == len(set(recs))
    assert len(mems) == len(set(mems))


def test_no_window_in_plan(pairs):
    """The scale contract: argmax via map-side aggregation, not a
    partition-sort window."""
    plan = one_to_one(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_duplicate_pairs_collapse_to_one_row(spark, tmp_path):
    """ADVICE r3: duplicate (rec, mem) rows — or the same pair at several
    weights — must yield ONE output row matching the row_number oracle."""
    dup = spark.createDataFrame(
        [
            (1, 101, 8.0),
            (1, 101, 8.0),  # exact duplicate row
            (2, 102, 5.0),
            (2, 102, 7.0),  # same pair at two weights -> keep max
            (3, 102, 6.0),  # m102 prefers r2 at the collapsed 7.0
        ],
        SCHEMA,
    )
    out = one_to_one(dup).collect()
    got = sorted((r["id_rec"], r["id_mem"], r["weight"]) for r in out)
    assert got == [(1, 101, 8.0), (2, 102, 7.0)]

    pq = str(tmp_path / "dup.parquet")
    dup.write.mode("overwrite").parquet(pq)
    sql = one_to_one_sql(f"SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_parity_with_duckdb(pairs, tmp_path):
    pq = str(tmp_path / "pairs.parquet")
    pairs.write.mode("overwrite").parquet(pq)
    got = sorted(
        (r["id_rec"], r["id_mem"], round(r["weight"], 6))
        for r in one_to_one(pairs).collect()
    )
    con = duckdb.connect()
    sql = one_to_one_sql(f"SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted((a, b, round(w, 6)) for a, b, w in con.execute(sql).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# greedy 1:1 (locally-dominant peeling)
# ---------------------------------------------------------------------------


def _chain_df(spark):
    """rec-side chain 1-(9)-11, 2-(8)-11, 2-(7)-12: mutual-best keeps only
    (1,11) — rec 2's best partner 11 prefers 1 — and strands 2 and 12;
    greedy must also assign (2,12) in round 1."""
    return spark.createDataFrame(
        [(1, 11, 9.0), (2, 11, 8.0), (2, 12, 7.0)],
        "id_rec long, id_mem long, weight double",
    )


def test_greedy_assigns_the_chain_mutual_best_leaves(spark):
    from bigmatch_utilities_spark.operators.assignment import (
        greedy_one_to_one,
        one_to_one,
    )

    df = _chain_df(spark)
    mutual = {(r.id_rec, r.id_mem) for r in one_to_one(df).collect()}
    assert mutual == {(1, 11)}
    got = {
        (r.id_rec, r.id_mem): r.round
        for r in greedy_one_to_one(df, rounds=3).collect()
    }
    assert got == {(1, 11): 0, (2, 12): 1}


def test_greedy_shared_ids_triangle_respects_node_budget(spark, tmp_path):
    """Triangle 1-2(9), 2-3(8), 3-1(7) in ONE id space: node 2's best is
    the (1,2) edge, so (2,3) must NOT be accepted in the same round —
    column-wise mutual-best would take both. Oracle agrees."""
    import duckdb as _dd

    from bigmatch_utilities_spark.operators.assignment import (
        greedy_one_to_one,
        greedy_one_to_one_sql,
    )

    df = spark.createDataFrame(
        [(1, 2, 9.0), (2, 3, 8.0), (1, 3, 7.0)],
        "id_rec long, id_mem long, weight double",
    )
    got = {
        (r.id_rec, r.id_mem)
        for r in greedy_one_to_one(df, rounds=4, shared_ids=True).collect()
    }
    assert got == {(1, 2)}
    path = str(tmp_path / "tri.parquet")
    df.write.mode("overwrite").parquet(path)
    exp = {
        (r, m)
        for r, m, *_ in _dd.sql(
            greedy_one_to_one_sql(
                f"SELECT * FROM read_parquet('{path}/*.parquet')",
                rounds=4,
                shared_ids=True,
            )
        ).fetchall()
    }
    assert exp == got


def test_greedy_matches_sequential_greedy_and_duckdb(spark, tmp_path):
    import random

    from bigmatch_utilities_spark.operators.assignment import (
        greedy_one_to_one,
        greedy_one_to_one_sql,
    )

    rng = random.Random(17)
    pairs = [
        (rng.randint(0, 30), 100 + rng.randint(0, 30), round(rng.uniform(-5, 15), 3))
        for _ in range(200)
    ]
    df = spark.createDataFrame(pairs, "id_rec long, id_mem long, weight double")
    path = str(tmp_path / "p.parquet")
    df.write.mode("overwrite").parquet(path)
    got = sorted(tuple(r) for r in greedy_one_to_one(df, rounds=6).collect())
    exp = sorted(
        tuple(r)
        for r in duckdb.sql(
            greedy_one_to_one_sql(
                f"SELECT * FROM read_parquet('{path}/*.parquet')", rounds=6
            )
        ).fetchall()
    )
    assert got == exp

    # equivalence with SEQUENTIAL greedy (weight desc, ties (mem, rec) asc
    # per the per-side tie-breaks)
    best = {}
    for r, m, w in pairs:
        best[(r, m)] = max(w, best.get((r, m), float("-inf")))
    order = sorted(best.items(), key=lambda kv: (-round(kv[1], 6), kv[0][1], kv[0][0]))
    used_r, used_m, acc = set(), set(), set()
    for (r, m), _ in order:
        if r not in used_r and m not in used_m:
            used_r.add(r)
            used_m.add(m)
            acc.add((r, m))
    assert {(g[0], g[1]) for g in got} == acc
    # 1:1 property
    recs = [g[0] for g in got]
    mems = [g[1] for g in got]
    assert len(recs) == len(set(recs)) and len(mems) == len(set(mems))


def test_greedy_shared_ids_excludes_matched_from_both_columns(spark):
    from bigmatch_utilities_spark.operators.assignment import greedy_one_to_one

    # canonical-pair chain: (1,2) strong, (2,3), (3,4) — shared-id mode
    # consumes 2 entirely in round 0, then 3-4 pairs in round 1
    df = spark.createDataFrame(
        [(1, 2, 9.0), (2, 3, 8.0), (3, 4, 7.0)],
        "id_rec long, id_mem long, weight double",
    )
    got = {
        (r.id_rec, r.id_mem): r.round
        for r in greedy_one_to_one(df, rounds=4, shared_ids=True).collect()
    }
    assert got == {(1, 2): 0, (3, 4): 1}
    # two-file reading of the same rows: rec-2 and mem-2 are DIFFERENT
    # entities, so all three pairs are assignable
    two_file = {(r.id_rec, r.id_mem) for r in greedy_one_to_one(df, rounds=4).collect()}
    assert two_file == {(1, 2), (2, 3), (3, 4)}


def _sequential_bmatch(edges, rec_cap, mem_cap):
    """Reference: sort by (round(w,6) DESC, rec ASC, mem ASC); accept iff
    both ids still have capacity."""
    used_r, used_m, out = {}, {}, []
    for r, m, w in sorted(edges, key=lambda e: (-round(e[2], 6), e[0], e[1])):
        if used_r.get(r, 0) < rec_cap and used_m.get(m, 0) < mem_cap:
            used_r[r] = used_r.get(r, 0) + 1
            used_m[m] = used_m.get(m, 0) + 1
            out.append((r, m))
    return sorted(out)


def test_greedy_capacitated_matches_sequential_reference(spark):
    import random

    from bigmatch_utilities_spark.operators.assignment import (
        greedy_capacitated,
    )

    random.seed(11)
    for rec_cap, mem_cap in ((1, 1), (1, 3), (2, 2)):
        edges = list(
            {
                (random.randint(0, 14), random.randint(100, 109)): None
                for _ in range(60)
            }
        )
        edges = [
            (r, m, float(random.randint(1, 40)) / 4.0) for r, m in edges
        ]
        df = spark.createDataFrame(
            edges, "id_rec long, id_mem long, weight double"
        )
        got = sorted(
            (r.id_rec, r.id_mem)
            for r in greedy_capacitated(
                df, rec_cap, mem_cap, rounds=8
            ).collect()
        )
        want = _sequential_bmatch(edges, rec_cap, mem_cap)
        assert got == want, (rec_cap, mem_cap)


def test_greedy_capacitated_matches_duckdb_oracle(spark, tmp_path):
    import random

    import duckdb

    from bigmatch_utilities_spark.operators.assignment import (
        greedy_capacitated,
        greedy_capacitated_sql,
    )

    random.seed(3)
    edges = [
        (r, m, float(random.randint(1, 30)) / 2.0)
        for r, m in {
            (random.randint(0, 9), random.randint(50, 57)): None
            for _ in range(40)
        }
    ]
    df = spark.createDataFrame(edges, "id_rec long, id_mem long, weight double")
    pq = str(tmp_path / "pairs.parquet")
    df.write.mode("overwrite").parquet(pq)
    got = sorted(
        (r.id_rec, r.id_mem, r.weight, r.round)
        for r in greedy_capacitated(df, 1, 2, rounds=3).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW pairs AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            greedy_capacitated_sql("SELECT * FROM pairs", 1, 2, rounds=3)
        ).fetchall()
    )
    assert got == want


def test_greedy_capacitated_cap_one_equals_greedy_one_to_one(spark):
    from bigmatch_utilities_spark.operators.assignment import (
        greedy_capacitated,
        greedy_one_to_one,
    )

    edges = [
        (1, 10, 9.0), (2, 10, 8.0), (2, 11, 7.5), (3, 11, 7.0), (3, 12, 6.0),
    ]
    df = spark.createDataFrame(edges, "id_rec long, id_mem long, weight double")
    a = sorted(
        (r.id_rec, r.id_mem)
        for r in greedy_capacitated(df, 1, 1, rounds=4).collect()
    )
    b = sorted(
        (r.id_rec, r.id_mem)
        for r in greedy_one_to_one(df, rounds=4).collect()
    )
    assert a == b


def test_greedy_capacitated_leaves_join_strategy_to_the_planner(spark):
    """The per-node capacity tables are node-scale, so no join may force a
    broadcast: with auto-broadcast off, the executed plan has none."""
    from bigmatch_utilities_spark.operators.assignment import (
        greedy_capacitated,
    )

    edges = [
        (1, 10, 9.0), (2, 10, 8.0), (2, 11, 7.5), (3, 11, 7.0), (3, 12, 6.0),
    ]
    df = spark.createDataFrame(edges, "id_rec long, id_mem long, weight double")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = greedy_capacitated(df, 1, 2, rounds=3)
        got = sorted((r.id_rec, r.id_mem) for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert got == _sequential_bmatch(edges, 1, 2)
    assert "BroadcastExchange" not in plan
