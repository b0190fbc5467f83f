"""Star emission for mega-blocks on exact-hash passes: linear pair count,
closure-equivalent clusters (SURVEY §4 skew handling; the AQE skew splitter
cannot catch same-key output explosion)."""

from __future__ import annotations

from dataclasses import replace

import pytest

from bigmatch_utilities_spark.config import (
    BlockField,
    BlockingPassSpec,
    Equi,
    MatchField,
)
from bigmatch_utilities_spark.operators.blocking import candidate_pairs
from bigmatch_utilities_spark.operators.closure import connected_components

SPEC = BlockingPassSpec(
    block_fields=(BlockField(name="k"),),
    match_fields=(MatchField(name="v", comparator="c", m=0.9, u=0.1),),
)
#: SPEC with star emission for blocks over 10 rows
STAR = replace(SPEC, blocker=Equi(star_block_rows=10))


@pytest.fixture(scope="module")
def blocks(spark):
    # one mega-block (40 rows, key 'hot'), one small block (3 rows, 'cold')
    rows = [(i, "hot", "x") for i in range(40)] + [
        (100 + i, "cold", "y") for i in range(3)
    ]
    return spark.createDataFrame(rows, "id long, k string, v string")


def test_star_linearizes_mega_block(blocks):
    pairs = candidate_pairs(blocks, blocks, STAR, "id", dedupe=True).toPandas()
    hot = pairs[pairs.bk_k == "hot"]
    cold = pairs[pairs.bk_k == "cold"]
    assert len(hot) == 39  # star: n-1, not n(n-1)/2 = 780
    assert (hot.id_rec == 0).all()  # rep is the min id
    assert len(cold) == 3  # below threshold: full clique 3*2/2
    assert (pairs.id_rec < pairs.id_mem).all()
    assert (hot.rec_v == "x").all() and (hot.mem_v == "x").all()


def test_star_is_closure_equivalent(blocks):
    full = candidate_pairs(blocks, blocks, SPEC, "id", dedupe=True)
    star = candidate_pairs(blocks, blocks, STAR, "id", dedupe=True)

    def clusters(pairs):
        cc = connected_components(pairs, src="id_rec", dst="id_mem").toPandas()
        return set(map(tuple, cc.sort_values("id").to_numpy().tolist()))

    assert clusters(full) == clusters(star)


def test_star_requires_self_join(blocks):
    with pytest.raises(ValueError, match="self-join"):
        candidate_pairs(blocks, blocks, STAR, "id", dedupe=False)
    # star emission exists only for one frame joined to itself
    with pytest.raises(ValueError, match="self-join"):
        candidate_pairs(blocks, blocks.alias("m"), STAR, "id", dedupe=True)


def _pair_set(df):
    pdf = df.toPandas()
    return set(zip(pdf.id_rec, pdf.id_mem))


def test_windowed_path_matches_generic_path(blocks):
    """The one-window self-join plan must emit EXACTLY the pairs of the
    two-frame plan (one block-statistics aggregate, then a broadcast)
    under every combination of the cap / shard knobs.
    `blocks.alias('m')` is the same data in a different frame object, so
    candidate_pairs takes the two-frame plan."""
    other = blocks.alias("m")  # rec is not mem -> two-frame plan
    for kwargs in ({}, {"max_block_rows": 35}, {"shard_rows": 7}):
        windowed = candidate_pairs(blocks, blocks, SPEC, "id", dedupe=True, **kwargs)
        two_frame = candidate_pairs(blocks, other, SPEC, "id", dedupe=True, **kwargs)
        assert _pair_set(windowed) == _pair_set(two_frame), kwargs


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_plan_is_chosen_by_input(blocks):
    """One frame joined to itself runs the window plan; two frames run
    the block-statistics aggregate plan, whatever the guardrails."""
    other = blocks.alias("m")
    for kwargs in ({"max_block_rows": 35}, {"shard_rows": 3}):
        self_plan = _plan(candidate_pairs(blocks, blocks, SPEC, "id", dedupe=True, **kwargs))
        two_plan = _plan(candidate_pairs(blocks, other, SPEC, "id", dedupe=True, **kwargs))
        assert "Window [" in self_plan and "Aggregate [" not in self_plan
        assert "Aggregate [" in two_plan and "Window [" not in two_plan


def test_shard_rows_preserves_pairs(blocks):
    base = candidate_pairs(blocks, blocks, SPEC, "id", dedupe=True)
    for t in (1, 5, 50):
        sharded = candidate_pairs(
            blocks, blocks, SPEC, "id", dedupe=True, shard_rows=t
        )
        assert _pair_set(sharded) == _pair_set(base), t
