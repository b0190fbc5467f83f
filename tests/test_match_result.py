"""MatchResult: every run entry point splits ONE persisted first-pass-wins
frame. The exact/accepted/possible splits and ``good_pairs()`` keep the row
sets (and ``good_pairs``' column order) of the filters each entry point
used to build for itself, and once the pairs are written ``good_pairs()``
is one scan of the cache, not a second run of the linkage plan."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import (
    BlockField,
    BlockingPassSpec,
    CutoffSpec,
    FieldRef,
    MatchConfig,
    MatchField,
)
from bigmatch_utilities_spark.operators.pipeline import (
    apply_manual_accepts,
    run_match,
)

GOOD_COLUMNS = ["pass_id", "weight", "id_rec", "id_mem"]

REC = [
    ("1", "JOHN", "SMITH", "19800101"),
    ("2", "MARY", "JONES", "19750505"),
    ("3", "PETER", "PARKER", "19900312"),
    ("4", "ANNA", "LEE", "19651111"),
    ("5", "JOHN", "SMYTH", "19800101"),
    ("6", "BOB", "BROWN", "19700707"),
]
MEM = [
    ("1", "JOHN", "SMITH", "19800101"),
    ("2", "MARIE", "JONES", "19750505"),
    ("3", "PAUL", "PARKER", "19900312"),
    ("4", "ANNA", "LEE", "19651112"),
    ("5", "JON", "SMITH", "19800101"),
    ("6", "ROBERT", "BROWN", "19700707"),
    ("7", "XAVIER", "SMITH", "20000101"),
]


def _config(accept_threshold: float) -> MatchConfig:
    fields = (
        MatchField(name="fname", comparator="uo", m=0.9, u=0.05),
        MatchField(name="lname", comparator="uo", m=0.95, u=0.02),
        MatchField(name="dob", comparator="c", m=0.97, u=0.01),
    )
    cut = CutoffSpec(hi=12.0, lo=-30.0)
    return MatchConfig(
        passes=tuple(
            BlockingPassSpec(
                block_fields=(BlockField(name=b),),
                match_fields=fields,
                cutoff=cut,
                print_cutoff=cut,
            )
            for b in ("dob", "lname", "fname")
        ),
        id_field=FieldRef(name="id"),
        accept_threshold=accept_threshold,
    )


@pytest.fixture(scope="module")
def people(spark):
    schema = "id string, fname string, lname string, dob string"
    return spark.createDataFrame(REC, schema), spark.createDataFrame(MEM, schema)


def legacy_sets(pairs, accept_threshold: float):
    """The split run_match, run_repo_linkage, run_repo_linkage_delta and
    CheckpointedMatch.run each spelled out before they shared
    MatchResult.from_pairs."""
    exact = pairs.filter(F.col("is_exact") & (F.col("decision") != "below"))
    accepted = pairs.filter(
        (~F.col("is_exact"))
        & (
            (F.col("decision") == "match")
            | (
                (F.col("decision") == "possible")
                & (F.col("weight") >= F.lit(float(accept_threshold)))
            )
        )
    )
    possible = pairs.filter(
        (~F.col("is_exact"))
        & (F.col("decision") == "possible")
        & (F.col("weight") < F.lit(float(accept_threshold)))
    )
    return exact, accepted, possible


def legacy_reviewed_sets(flagged):
    """apply_manual_accepts' own split of the flagged pairs."""
    default_accept = (F.col("decision") == "match") | (F.col("accept_wgt") == 1)
    final_accept = F.when(
        F.col("accept_usr").isNotNull(), F.col("accept_usr") == 1
    ).otherwise(default_accept)
    emittable = F.col("decision") != "below"
    exact = flagged.filter(F.col("is_exact") & emittable)
    accepted = flagged.filter((~F.col("is_exact")) & emittable & final_accept)
    possible = flagged.filter(
        (~F.col("is_exact")) & (F.col("decision") == "possible") & (~final_accept)
    )
    return exact, accepted, possible


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def assert_matches_legacy(result, exact, accepted, possible) -> None:
    for name, got, want in (
        ("exact", result.exact, exact),
        ("accepted", result.accepted, accepted),
        ("possible", result.possible, possible),
    ):
        assert got.columns == want.columns, name
        assert _rows(got) == _rows(want), name
    want_good = (
        exact.unionByName(accepted)
        .select(*GOOD_COLUMNS)
        .dropDuplicates(["id_rec", "id_mem"])
    )
    good = result.good_pairs()
    assert good.columns == GOOD_COLUMNS
    assert _rows(good) == _rows(want_good)


def test_run_match_splits_match_legacy(people):
    rec, mem = people
    cfg = _config(accept_threshold=2.0)
    result = run_match(rec, mem, cfg, id_col="id")
    assert result.pairs.is_cached
    sets = legacy_sets(result.pairs, cfg.accept_threshold)
    # the fixture exercises every branch of the split
    assert all(s.count() > 0 for s in sets)
    assert result.pairs.filter(F.col("decision") == "match").count() > 0
    assert_matches_legacy(result, *sets)


def test_checkpointed_run_splits_match_legacy(spark, people, tmp_path):
    from bigmatch_utilities_spark.plans.checkpoint import CheckpointedMatch

    rec, mem = people
    cfg = _config(accept_threshold=2.0)
    result = CheckpointedMatch(spark, str(tmp_path / "ckpt")).run(
        rec, mem, cfg, id_col="id"
    )
    assert result.pairs.is_cached
    assert_matches_legacy(result, *legacy_sets(result.pairs, cfg.accept_threshold))


def test_manual_accepts_split_matches_legacy_both_directions(spark, people):
    rec, mem = people
    cfg = _config(accept_threshold=2.0)
    result = run_match(rec, mem, cfg, id_col="id")
    accepted = result.accepted.orderBy("weight", "id_rec", "id_mem").first()
    possible = result.possible.orderBy("weight", "id_rec", "id_mem").first()
    decisions = spark.createDataFrame(
        [
            (possible["id_rec"], possible["id_mem"], True),   # checked
            (accepted["id_rec"], accepted["id_mem"], False),  # unchecked
        ],
        "id_rec string, id_mem string, accept boolean",
    )
    reviewed = apply_manual_accepts(result, decisions, cfg.accept_threshold)
    good = {(r["id_rec"], r["id_mem"]) for r in reviewed.good_pairs().collect()}
    assert (possible["id_rec"], possible["id_mem"]) in good
    assert (accepted["id_rec"], accepted["id_mem"]) not in good
    assert_matches_legacy(reviewed, *legacy_reviewed_sets(reviewed.pairs))


@pytest.fixture(scope="module")
def repo_input(spark):
    from bigmatch_utilities_spark.synthdata import repo_files_df

    return spark.createDataFrame(repo_files_df(spark, seed=11, n_clusters=30).toPandas())


def _node_names(plan, into_cache: bool = False) -> list[str]:
    """Operator names of an executed plan, descending into adaptive and
    query-stage wrappers, and into a cached relation's own plan only when
    ``into_cache``."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return [name, *_node_names(plan.executedPlan(), into_cache)]
    if hasattr(plan, "plan") and "QueryStage" in name:
        return [name, *_node_names(plan.plan(), into_cache)]
    if into_cache and name == "InMemoryTableScan":
        return [name, *_node_names(plan.relation().cachedPlan(), into_cache)]
    children = plan.children()
    return [name] + [
        n
        for i in range(children.size())
        for n in _node_names(children.apply(i), into_cache)
    ]


def test_repo_linkage_good_pairs_reads_the_written_pairs_cache(
    spark, repo_input, tmp_path
):
    from bigmatch_utilities_spark.repo_linkage import (
        repo_match_config,
        run_repo_linkage,
    )

    result = run_repo_linkage(repo_input, use_minhash_pass=True)
    result.pairs.write.parquet(str(tmp_path / "pairs"))

    good = result.good_pairs()
    sc = spark.sparkContext
    sc.setJobGroup("good_pairs_write", "good_pairs after pairs")
    try:
        good.write.parquet(str(tmp_path / "good_pairs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("good_pairs_write")) == 1

    good.collect()
    names = _node_names(good._jdf.queryExecution().executedPlan())
    assert "InMemoryTableScan" in names, names
    assert not any("ArrowEvalPython" in n or "BatchEvalPython" in n for n in names)

    accept = repo_match_config().accept_threshold
    assert_matches_legacy(result, *legacy_sets(result.pairs, accept))
    result.pairs.unpersist()


def test_repo_linkage_delta_splits_match_legacy(repo_input):
    from bigmatch_utilities_spark.repo_linkage import (
        repo_match_config,
        run_repo_linkage_delta,
    )

    delta = repo_input.filter(F.crc32("path") % 4 == 0)
    standing = repo_input.filter(F.crc32("path") % 4 != 0)
    result = run_repo_linkage_delta(delta, standing, use_minhash_pass=True)
    assert result.pairs.is_cached
    accept = repo_match_config().accept_threshold
    assert_matches_legacy(result, *legacy_sets(result.pairs, accept))
    result.pairs.unpersist()


def _arrow_nodes(df) -> int:
    """``ArrowEvalPython`` nodes of ``df``'s executed plan, a cached
    relation's plan included (run ``df`` first: AQE plans lazily)."""
    names = _node_names(df._jdf.queryExecution().executedPlan(), True)
    return sum("ArrowEvalPython" in n for n in names)


def _repo_seed41(spark):
    from bigmatch_utilities_spark.synthdata import repo_files_df

    return spark.createDataFrame(
        repo_files_df(spark, seed=41, n_clusters=60).toPandas()
    )


def test_repo_linkage_delta_scores_each_fuzzy_pass_once(spark):
    """Each fuzzy pass of the delta run evaluates its Jaro-Winkler UDF in
    one plan node, under its emission floor: delta-delta pass 2,
    delta-standing pass 2 and the MinHash pass."""
    from bigmatch_utilities_spark.repo_linkage import run_repo_linkage_delta

    df = _repo_seed41(spark)
    delta = df.filter(F.crc32("path") % 5 == 0)
    standing = df.filter(F.crc32("path") % 5 != 0)
    result = run_repo_linkage_delta(delta, standing, use_minhash_pass=True)
    assert result.pairs.count() == 38
    assert result.good_pairs().count() == 34
    assert _arrow_nodes(result.pairs) == 3
    result.pairs.unpersist()


def test_repo_linkage_scores_each_fuzzy_pass_once(spark):
    """run_repo_linkage's fuzzy passes 2 and 3 each evaluate the
    Jaro-Winkler UDF in one plan node, under their emission floors."""
    from bigmatch_utilities_spark.repo_linkage import run_repo_linkage

    result = run_repo_linkage(_repo_seed41(spark), use_minhash_pass=True)
    assert result.pairs.count() == 121
    assert result.good_pairs().count() == 112
    assert _arrow_nodes(result.pairs) == 2
    result.pairs.unpersist()


def test_parmf_passes_score_each_comparison_once(spark, tmp_path):
    """Every pass of the F2 3-pass parmf scores its Jaro-Winkler fields in
    one plan node, though its floor filter and decision read the weight."""
    from bigmatch_utilities_spark.operators.pipeline import score_pass
    from tests.person_f2 import read_person_f2, write_person_f2

    cfg, rec, mem = read_person_f2(spark, write_person_f2(tmp_path))
    for k, spec in enumerate(cfg.passes):
        scored = score_pass(rec, mem, spec, k, "id")
        scored.collect()
        assert _arrow_nodes(scored) == 1, k
