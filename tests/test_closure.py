"""Connected-components tests: union-find oracle, pathological chains,
idempotence / permutation invariance — each on both closure paths (the
driver union-find below ``DRIVER_EDGES`` canonical edges, large-star /
small-star above it)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from bigmatch_utilities_spark.operators import closure
from bigmatch_utilities_spark.operators.closure import (
    cluster_accepted_pairs,
    connected_components,
)

PATHS = {"driver": closure.DRIVER_EDGES, "spark": 0}


def each_path(monkeypatch):
    """Yield once per closure path, with that path forced."""
    for name, limit in PATHS.items():
        monkeypatch.setattr(closure, "DRIVER_EDGES", limit)
        yield name


def union_find(edges, nodes=None):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for n in nodes or []:
        find(n)
    out = {}
    for n in parent:
        out[n] = find(n)
    return out


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}


def test_simple_components(spark, monkeypatch):
    edges = [(1, 2), (2, 3), (10, 11), (20, 20)]
    for path in each_path(monkeypatch):
        got = _run(spark, edges)
        assert got[1] == got[2] == got[3] == 1, path
        assert got[10] == got[11] == 10, path
        # self-loop-only node is dropped (no real edge)
        assert 20 not in got, path


def test_long_chain(spark, monkeypatch):
    """Pathological chain — worst case for naive propagation; large/small
    star must converge in O(log^2 n) rounds, not O(n)."""
    n = 200
    edges = [(i, i + 1) for i in range(n)]
    for path in each_path(monkeypatch):
        got = _run(spark, edges)
        assert set(got.values()) == {0}, path
        assert len(got) == n + 1, path


def test_random_graphs_match_union_find(spark, monkeypatch):
    rng = random.Random(99)
    for trial in range(3):
        nodes = list(range(rng.randint(10, 60)))
        edges = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randint(5, 80))
        ]
        edges = [e for e in edges if e[0] != e[1]]
        if not edges:
            continue
        uf = union_find(edges)
        for path in each_path(monkeypatch):
            got = _run(spark, edges)
            # same partition: roots must agree exactly (both use min-id labels)
            for n_, root in uf.items():
                assert got[n_] == root, (path, trial, n_, got.get(n_), root)


def test_permutation_invariance(spark, monkeypatch):
    edges = [(5, 9), (9, 2), (7, 8), (3, 7)]
    for path in each_path(monkeypatch):
        a = _run(spark, edges)
        b = _run(spark, list(reversed([(b_, a_) for a_, b_ in edges])))
        assert a == b, path


def test_cluster_accepted_pairs_with_singletons(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_rec", "id_mem"])
    ids = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    for path in each_path(monkeypatch):
        got = {
            r["id"]: r["cluster_id"]
            for r in cluster_accepted_pairs(pairs, all_ids=ids).collect()
        }
        assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5}, path


def test_string_ids(spark, monkeypatch):
    """Record ids are strings in the legacy model — closure must not assume
    numerics."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_rec", "id_mem"]
    )
    for path in each_path(monkeypatch):
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(pairs, "id_rec", "id_mem").collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}, path


def _spark_rounds(monkeypatch):
    """Count `_truncate` calls: only the Spark path checkpoints."""
    calls = []
    real = closure._truncate
    monkeypatch.setattr(closure, "_truncate", lambda df: calls.append(1) or real(df))
    return calls


@pytest.mark.parametrize("offset", [-1, 0, 1])
def test_random_graphs_at_the_threshold(spark, monkeypatch, offset):
    """Canonical edge counts one below, at and one above DRIVER_EDGES:
    both sides of the switch give the union-find partition."""
    threshold = 40
    monkeypatch.setattr(closure, "DRIVER_EDGES", threshold)
    calls = _spark_rounds(monkeypatch)
    rng = random.Random(7 + offset)
    canon: set = set()
    while len(canon) < threshold + offset:
        a, b = rng.sample(range(60), 2)
        canon.add((max(a, b), min(a, b)))
    # duplicates, reversed copies and self-loops collapse in canonicalisation
    edges = list(canon) + [(b, a) for a, b in list(canon)[:10]] + [(3, 3), (70, 70)]
    rng.shuffle(edges)
    got = _run(spark, edges)
    assert got == union_find(canon)
    assert bool(calls) == (offset > 0)


def test_string_ids_null_ends_self_loops_duplicates(spark, monkeypatch):
    rows = [
        ("b", "a"), ("a", "b"), ("a", "b"), ("b", "b"),
        (None, "c"), ("c", None), (None, None), ("q", None),
        ("c", "d"), ("d", "c"), ("é", "e"), ("e", "Z"), ("s", "s"),
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    # "q" and "s" only sit on NULL-ended or self-loop edges: absent
    want = union_find([(a, b) for a, b in rows if a is not None and b is not None and a != b])
    for path in each_path(monkeypatch):
        got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
        assert got == want, path
        assert got["é"] == "Z", path  # code-point (UTF-8 binary) order: "Z" < "e" < "é"


@pytest.mark.parametrize(
    "dtype,nullable,rows",
    [
        (T.LongType(), True, [(1, 2), (2, 3), (None, 4)]),
        (T.LongType(), False, [(1, 2), (2, 3)]),
        (T.IntegerType(), True, [(1, 2), (5, 4)]),
        (T.StringType(), True, [("a", "b"), ("c", None)]),
        (T.StringType(), False, [("a", "b")]),
        (T.StringType(), True, [("a", "a"), (None, "b")]),  # no edge left
    ],
)
def test_schema_equal_on_both_paths(spark, monkeypatch, dtype, nullable, rows):
    df = spark.createDataFrame(
        rows,
        T.StructType([T.StructField("src", dtype, nullable), T.StructField("dst", dtype, nullable)]),
    )
    out = {}
    for path in each_path(monkeypatch):
        res = connected_components(df)
        out[path] = (res.schema, sorted(res.collect()))
    assert out["driver"] == out["spark"]
    assert [f.dataType for f in out["driver"][0].fields] == [dtype, dtype]
