"""ANN / similarity-search tests: brute-force cosine vs numpy oracle,
LSH bucketing recall on clustered vectors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_neardup,
    ivf_pivots,
    ivf_refined_pivots,
    ivf_topk,
    lsh_topk,
    rh_lsh_topk,
    rh_signs,
    sign_bucket,
)


def _vectors(spark, n=60, dim=8, seed=5):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [(i, vecs[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), vecs


def test_cosine_matches_numpy(spark):
    df, vecs = _vectors(spark, n=10)
    pairs = df.toDF("id_a", "va").crossJoin(df.toDF("id_b", "vb"))
    got = {
        (r["id_a"], r["id_b"]): r["c"]
        for r in pairs.select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("c")).collect()
    }
    for a in range(10):
        for b in range(10):
            want = float(
                vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            )
            assert got[(a, b)] == pytest.approx(want, abs=1e-5)


def test_brute_force_topk_exact(spark):
    df, vecs = _vectors(spark, n=40)
    queries = df.filter(F.col("vec_id") < 3).toDF("query_id", "embedding")
    got = brute_force_topk(df, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i != q][:5]
        want = [int(x) for x in order]
        gotq = [v for _, v in sorted(by_q[q])]
        assert gotq == want, (q, gotq, want)


def test_lsh_topk_same_bucket_recall(spark):
    """Queries find their planted near neighbors (same bucket by
    construction: tiny perturbations keep sign bits)."""
    rng = np.random.default_rng(9)
    base = rng.normal(size=(5, 8)).astype(np.float32)
    base = np.where(np.abs(base) < 0.2, 0.5, base)  # keep signs stable
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, v.tolist()))
        rows.append((i * 10 + 1, (v + rng.normal(scale=0.01, size=8).astype(np.float32)).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") % 10 == 0).toDF("query_id", "embedding")
    got = lsh_topk(df, queries, k=1, n_bits=8).collect()
    for r in got:
        assert r["vec_id"] == r["query_id"] + 1
        assert r["score"] > 0.999


def _neardup_input(spark, dim=8, seed=11):
    """5 well-separated base vectors, each with a near-identical twin."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(5, dim)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, v.tolist()))
        rows.append(
            (i * 10 + 1, (v + rng.normal(scale=0.005, size=dim).astype(np.float32)).tolist())
        )
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_neardup_finds_planted_twins(spark):
    df = _neardup_input(spark)
    got = {
        (r["id_l"], r["id_r"]): r["score"]
        for r in embedding_neardup(
            df, threshold=0.99, n_bands=2, bits_per_band=4, dim=8
        ).collect()
    }
    for i in range(5):
        assert (i * 10, i * 10 + 1) in got, (i, got)
        assert got[(i * 10, i * 10 + 1)] > 0.999


def test_embedding_neardup_bucket_cap(spark):
    # 20 identical vectors collapse into one bucket per band; a cap of 5
    # drops the degenerate bucket entirely.
    v = [0.5] * 8
    df = spark.createDataFrame([(i, v) for i in range(20)], ["vec_id", "embedding"])
    got = embedding_neardup(
        df, threshold=0.0, n_bands=2, bits_per_band=4, dim=8, max_bucket=5
    ).count()
    assert got == 0


def test_embedding_neardup_shard_invariant(spark):
    df = _neardup_input(spark)
    base = {
        (r["id_l"], r["id_r"])
        for r in embedding_neardup(
            df, threshold=0.9, n_bands=2, bits_per_band=4, dim=8
        ).collect()
    }
    assert base
    for t in (1, 3):
        sharded = {
            (r["id_l"], r["id_r"])
            for r in embedding_neardup(
                df, threshold=0.9, n_bands=2, bits_per_band=4, dim=8, shard_rows=t
            ).collect()
        }
        assert sharded == base, t


def test_rh_lsh_topk_finds_planted_neighbors(spark):
    """Banded RH-LSH must recover every planted near-identical twin as its
    query's top-1 (any-band collision: a twin this close collides in at
    least one of the bands with overwhelming probability)."""
    df = _neardup_input(spark, dim=8, seed=23)
    queries = df.filter(F.col("vec_id") % 10 == 0).toDF("query_id", "embedding")
    got = {
        r["query_id"]: r["vec_id"]
        for r in rh_lsh_topk(
            df, queries, 1, n_bands=2, bits_per_band=4, dim=8
        ).collect()
    }
    for q in (0, 10, 20, 30, 40):
        assert got.get(q) == q + 1, (q, got)


def test_ivf_topk_finds_planted_neighbors(spark):
    """A near-identical twin lands in the same IVF cell (argmax-cosine
    pivot assignment is stable under tiny perturbations), so nprobe=1
    already recovers it as top-1."""
    df = _neardup_input(spark, dim=8, seed=31)
    queries = df.filter(F.col("vec_id") % 10 == 0).toDF("query_id", "embedding")
    got = {
        r["query_id"]: r["vec_id"]
        for r in ivf_topk(df, queries, 1, n_pivots=4, nprobe=1).collect()
    }
    for q in (0, 10, 20, 30, 40):
        assert got.get(q) == q + 1, (q, got)


def test_nearest_cell_matches_windowed_rank1_and_has_no_sort(spark):
    """The map-side argmax assignment must (a) agree exactly with the
    window-rank==1 assignment it replaced, and (b) compile to a plan with
    no Window/Sort/shuffle at all — assignment is a per-row projection
    over the broadcast pivot array."""
    from bigmatch_utilities_spark.operators.similarity import (
        _cell_ranked,
        _nearest_cell,
    )

    df, _ = _vectors(spark, n=80, dim=8, seed=13)
    pivots = ivf_pivots(df, 6)
    via_window = {
        (r["vec_id"], r["pivot_id"])
        for r in _cell_ranked(df, pivots, "vec_id", "embedding")
        .filter(F.col("rank") == 1)
        .collect()
    }
    via_argmax = {
        (r["vec_id"], r["cell"])
        for r in _nearest_cell(df, pivots, "vec_id", "embedding").collect()
    }
    assert via_argmax == via_window
    plan = _nearest_cell(df, pivots, "vec_id", "embedding")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the pivot-side collect_list may sort-aggregate its k rows; the big
    # side must carry no sort and no hash-partitioned exchange.
    big_side = plan.split("BroadcastExchange")[0]
    assert "Sort" not in big_side, plan
    assert "Exchange hashpartitioning" not in big_side, plan


def test_ivf_pivots_deterministic(spark):
    df, _ = _vectors(spark, n=40)
    a = [r["pivot_id"] for r in ivf_pivots(df, 8).collect()]
    b = [r["pivot_id"] for r in ivf_pivots(df, 8).collect()]
    assert a == b and len(a) == 8


def test_ivf_matches_brute_force_with_full_probe(spark):
    """nprobe = n_pivots searches every cell — IVF must then equal the
    exact brute-force ranking."""
    df, _ = _vectors(spark, n=30)
    queries = df.filter(F.col("vec_id") < 3).toDF("query_id", "embedding")
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(df, queries, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(df, queries, 3, n_pivots=4, nprobe=4).collect()
    }
    assert ivf == exact


def _quantization_error(spark, df, pivots):
    """mean (1 - cosine(vec, assigned pivot)) — lower is tighter cells."""
    from bigmatch_utilities_spark.operators.similarity import _cell_ranked

    assigned = _cell_ranked(df, pivots, "vec_id", "embedding").filter(
        F.col("rank") == 1
    )
    return assigned.agg(F.avg(1 - F.col("_sim"))).collect()[0][0]


def test_ivf_lloyd_refinement_reduces_error(spark):
    df, _ = _vectors(spark, n=120, dim=8, seed=3)
    raw = ivf_pivots(df, 6)
    refined = ivf_refined_pivots(df, 6, iterations=2)
    assert refined.count() == 6
    e_raw = _quantization_error(spark, df, raw)
    e_ref = _quantization_error(spark, df, refined)
    assert e_ref < e_raw, (e_raw, e_ref)
    # refined pivots plug into the same search path
    queries = df.filter(F.col("vec_id") < 2).toDF("query_id", "embedding")
    got = ivf_topk(df, queries, 3, nprobe=2, pivots=refined)
    assert got.count() == 6  # 2 queries x top-3


def test_rh_signs_deterministic_blocks():
    # band b's hyperplanes = rows [offset, offset+n) of the seeded stream:
    # the same (seed, dim) must yield identical planes for any prefix length.
    all16 = rh_signs(16, 8, seed=7)
    assert rh_signs(8, 8, seed=7) == all16[:8]
    assert all(s in (-1, 1) for row in all16 for s in row)


def test_sign_bucket_deterministic(spark):
    df, _ = _vectors(spark, n=20)
    a = df.select("vec_id", sign_bucket(F.col("embedding")).alias("b")).collect()
    b = df.select("vec_id", sign_bucket(F.col("embedding")).alias("b")).collect()
    assert sorted(a) == sorted(b)
    assert all(0 <= r["b"] < 256 for r in a)


# ---------------------------------------------------------------------------
# Ann declarable pass
# ---------------------------------------------------------------------------


def _ann_cfg(**ann_kw):
    from bigmatch_utilities_spark.config import (
        Ann,
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
    )

    cut = CutoffSpec(hi=1.0, lo=-50.0)
    return MatchConfig(
        passes=(
            BlockingPassSpec(
                blocker=Ann(**ann_kw),
                block_fields=(),
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


def test_ann_pass_kind_validation():
    import pytest as _pt

    from bigmatch_utilities_spark.config import Ann, BlockingPassSpec

    with _pt.raises(TypeError, match="field"):
        _ann_cfg()
    with _pt.raises(ValueError, match="needs a field"):
        _ann_cfg(field=None)
    with _pt.raises(ValueError, match=">= 1"):
        _ann_cfg(field="embedding", bands=0)
    with _pt.raises(TypeError, match="kind"):
        BlockingPassSpec(kind="vector", block_fields=(), match_fields=())
    with _pt.raises(TypeError, match="lsh_bands"):
        Ann(field="embedding", lsh_bands=2)


def test_ann_pass_blocks_semantic_neighbors_without_lexical_overlap(spark):
    """Two records with DISJOINT text but near-identical embeddings must
    co-block in an ann pass (no equi key could propose them), and the
    standard FS scoring still runs on the carried match fields."""
    from bigmatch_utilities_spark.operators.pipeline import run_match

    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    far = rng.normal(size=8)
    rows = [
        (1, "alpha", (base + 0.01 * rng.normal(size=8)).tolist()),
        (2, "alpha", (base + 0.01 * rng.normal(size=8)).tolist()),
        (3, "gamma", (far * -1).tolist()),
    ]
    df = spark.createDataFrame(
        [(i, n, [float(x) for x in v]) for i, n, v in rows],
        "rid long, name string, embedding array<double>",
    )
    cfg = _ann_cfg(
        field="embedding", dim=8, bands=4, bits=2, threshold=0.9,
        max_bucket=None,
    )
    res = run_match(df, None, cfg, id_col="rid", persist=False)
    got = {(r.id_rec, r.id_mem): r.decision for r in res.pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] == "match"
    assert all(3 not in k for k in got)


def test_ann_pass_requires_dedupe_mode(spark):
    from bigmatch_utilities_spark.operators.pipeline import pass_candidates

    df = spark.createDataFrame(
        [(1, "a", [1.0, 0.0])], "rid long, name string, embedding array<double>"
    )
    other = df.withColumn("rid", F.col("rid") + 10)
    spec = _ann_cfg(field="embedding", dim=2).passes[0]
    with pytest.raises(ValueError, match="single-file"):
        pass_candidates(df, other, spec, "rid", dedupe=False)
