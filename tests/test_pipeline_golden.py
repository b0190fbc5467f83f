"""Golden end-to-end: a 3-pass parmf over a two-file person pair in the
reference's fixed-width layouts (tests/person_f2.py), asserted
pair-for-pair and weight-for-weight against an independent pandas oracle
implementing the same published semantics (Fellegi-Sunter weights over
blocked candidate pairs, the print-cutoff emission floor, first-pass-wins)."""

from __future__ import annotations

import math

import pytest

from bigmatch_utilities_spark.operators.pipeline import run_match
from tests.person_f2 import (
    BELOW_FLOOR,
    PLANTED_LINKS,
    read_person_f2,
    write_person_f2,
)
from tests.test_comparators import scalar_jaro_winkler
from tests.test_match_result import (
    assert_matches_legacy,
    legacy_reviewed_sets,
    legacy_sets,
)

PARTIAL_FLOOR = 0.75


def _oracle_weight(match_fields, rrow, mrow):
    w = 0.0
    for mf in match_fields:
        a, b = rrow[mf.name].strip(), mrow[mf.name].strip()
        if not a or not b:
            continue
        assert mf.comparator in ("uo", "c")
        sim = scalar_jaro_winkler(a, b) if mf.comparator == "uo" else float(a == b)
        agr = math.log2(mf.m / mf.u)
        dis = math.log2((1 - mf.m) / (1 - mf.u))
        if sim >= 1.0:
            w += agr
        elif sim >= PARTIAL_FLOOR:
            w += dis + (agr - dis) * (sim - PARTIAL_FLOOR) / (1 - PARTIAL_FLOOR)
        else:
            w += dis
    return w


def _oracle_pairs(cfg, rec_rows, mem_rows):
    """Independent multi-pass blocked join + FS scoring + first-pass-wins.
    Returns the kept pairs and the blocked pairs the emission floor
    dropped in every pass that blocked them."""
    best: dict[tuple[str, str], tuple[int, float, bool]] = {}
    dropped: set[tuple[str, str]] = set()
    for k, spec in enumerate(cfg.passes):
        for rrow in rec_rows:
            for mrow in mem_rows:
                ok = True
                for bf in spec.block_fields:
                    a, b = rrow[bf.name].strip(), mrow[bf.name].strip()
                    if bf.blank_flag and (not a or not b):
                        ok = False
                        break
                    if a != b:
                        ok = False
                        break
                if not ok:
                    continue
                w = _oracle_weight(spec.match_fields, rrow, mrow)
                key = (rrow["id"], mrow["id"])
                if w < min(spec.cutoff.lo, spec.print_cutoff.lo):
                    dropped.add(key)
                    continue
                if key not in best:
                    exact = all(
                        rrow[mf.name] == mrow[mf.name] for mf in spec.match_fields
                    )
                    best[key] = (k, w, exact)
    return best, dropped - set(best)


@pytest.fixture(scope="module")
def golden(spark, tmp_path_factory):
    cfg, rec, mem = read_person_f2(
        spark, write_person_f2(tmp_path_factory.mktemp("golden_f2"))
    )
    result = run_match(rec, mem, cfg, id_col="id")
    rec_rows = [r.asDict() for r in rec.collect()]
    mem_rows = [r.asDict() for r in mem.collect()]
    oracle, dropped = _oracle_pairs(cfg, rec_rows, mem_rows)
    return cfg, result, oracle, dropped


def test_pair_set_matches_oracle(golden):
    _, result, oracle, dropped = golden
    got = {
        (r["id_rec"], r["id_mem"]): (r["pass_id"], r["weight"], r["is_exact"])
        for r in result.pairs.collect()
    }
    assert set(got) == set(oracle)
    for key, (k, w, exact) in oracle.items():
        gk, gw, gx = got[key]
        assert gk == k, (key, gk, k)
        assert gw == pytest.approx(w, abs=1e-9), (key, gw, w)
        assert gx == exact, (key, gx, exact)
    # the floor check is exercised: a blocked pair scored below the floor
    assert BELOW_FLOOR in dropped


def test_known_links_found(golden):
    """Every link planted in the fixture (the same person in both files,
    perturbed) is found; the below-floor pair is not emitted."""
    _, result, _, _ = golden
    got = {(r["id_rec"], r["id_mem"]) for r in result.pairs.collect()}
    assert PLANTED_LINKS <= got
    assert BELOW_FLOOR not in got


def test_exact_accepted_possible_partition(golden):
    cfg, result, _, _ = golden
    pairs = result.pairs.collect()
    exact = {(r["id_rec"], r["id_mem"]) for r in result.exact.collect()}
    accepted = {(r["id_rec"], r["id_mem"]) for r in result.accepted.collect()}
    possible = {(r["id_rec"], r["id_mem"]) for r in result.possible.collect()}
    assert not (exact & accepted) and not (accepted & possible) and not (exact & possible)
    for r in pairs:
        key = (r["id_rec"], r["id_mem"])
        if r["decision"] == "below":
            # emitted above the print floor but under the cutoff: no set
            assert key not in exact | accepted | possible
        elif r["is_exact"]:
            assert key in exact
        elif r["decision"] == "match" or r["weight"] >= cfg.accept_threshold:
            assert key in accepted
        else:
            assert key in possible
    assert exact and accepted and possible
    assert any(r["decision"] == "below" for r in pairs)


def test_good_pairs_schema(golden):
    cfg, result, _, _ = golden
    gp = result.good_pairs()
    assert gp.columns == ["pass_id", "weight", "id_rec", "id_mem"]
    assert gp.count() == result.exact.count() + result.accepted.count()
    assert_matches_legacy(result, *legacy_sets(result.pairs, cfg.accept_threshold))


def test_manual_accepts_override_threshold(golden, spark):
    """MatchReview.py:392-439: the user's click overrides the weight
    default in either direction — a below-threshold pair the user checked
    lands in good_pairs, an above-threshold pair the user unchecked does
    not."""
    from bigmatch_utilities_spark.operators.pipeline import apply_manual_accepts

    cfg, result, _, _ = golden
    # pick a review threshold strictly between two distinct non-exact
    # weights so the fixture yields both a default-unchecked pair (below)
    # and a default-checked pair (above) to override. Only pairs at or
    # over the cutoff are reviewable: a 'below' decision is never accepted.
    rows = sorted(
        (
            r for r in result.pairs.collect()
            if not r["is_exact"] and r["decision"] != "below"
        ),
        key=lambda r: r["weight"],
    )
    below = rows[0]
    above = rows[-1]
    assert below["weight"] < above["weight"]
    threshold = (below["weight"] + above["weight"]) / 2
    decisions = spark.createDataFrame(
        [
            (below["id_rec"], below["id_mem"], True),   # user checks a low pair
            (above["id_rec"], above["id_mem"], False),  # user unchecks a high one
        ],
        ["id_rec", "id_mem", "accept"],
    )
    reviewed = apply_manual_accepts(result, decisions, threshold)
    assert_matches_legacy(reviewed, *legacy_reviewed_sets(reviewed.pairs))
    good = {(r["id_rec"], r["id_mem"]) for r in reviewed.good_pairs().collect()}
    assert (below["id_rec"], below["id_mem"]) in good
    assert (above["id_rec"], above["id_mem"]) not in good
    # flags carried per meta_row semantics (MatchReview.py:223-227)
    flags = {
        (r["id_rec"], r["id_mem"]): (r["accept_wgt"], r["accept_usr"])
        for r in reviewed.pairs.collect()
    }
    assert flags[(below["id_rec"], below["id_mem"])] == (0, 1)
    assert flags[(above["id_rec"], above["id_mem"])][1] == 0
    # untouched pairs keep the engine's split (same threshold, no clicks)
    unreviewed = apply_manual_accepts(result, decisions.limit(0), threshold)
    base_good = {
        (r["id_rec"], r["id_mem"]) for r in unreviewed.good_pairs().collect()
    }
    touched = {
        (below["id_rec"], below["id_mem"]),
        (above["id_rec"], above["id_mem"]),
    }
    assert good - touched == base_good - touched


def test_scored_pass_with_edit_comparator(spark):
    """A MatchField(comparator='e') flows through score_pass end-to-end:
    a one-edit typo scores between exact-agree and full-disagree."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        BlockField,
        CutoffSpec,
        MatchField,
    )
    from bigmatch_utilities_spark.operators.pipeline import score_pass
    from bigmatch_utilities_spark.operators.scoring import (
        agreement_weight,
        disagreement_weight,
    )

    rec = spark.createDataFrame(
        [(1, "b", "smith"), (2, "b", "smyth"), (3, "b", "jones")],
        ["rid", "blk", "surname"],
    )
    spec = BlockingPassSpec(
        block_fields=(BlockField(name="blk"),),
        match_fields=(MatchField(name="surname", comparator="e", m=0.9, u=0.05),),
        cutoff=CutoffSpec(hi=3.0, lo=-100.0),
        print_cutoff=CutoffSpec(hi=3.0, lo=-100.0),
    )
    out = {
        (r["id_rec"], r["id_mem"]): r["weight"]
        for r in score_pass(rec, rec, spec, 0, "rid", dedupe=True).collect()
    }
    agr = agreement_weight(0.9, 0.05)
    dis = disagreement_weight(0.9, 0.05)
    # smith/smyth: 1 edit over len 5 -> sim 0.8, interpolated weight strictly between
    w_typo = out[(1, 2)]
    assert dis < w_typo < agr
    # smith/jones: sim 0.2 -> full disagreement
    assert abs(out[(1, 3)] - dis) < 1e-9


def test_match_field_pair_swap_tolerance(spark):
    """A MatchFieldPair scores a transposed first/last name as an exact
    agreement (crossed alignment wins); strictly-positional fields would
    charge two disagreements. Also exact under pair semantics."""
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        MatchFieldPair,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match
    from bigmatch_utilities_spark.operators.scoring import agreement_weight

    rows = [
        (1, "b", "maria", "garcia"),
        (2, "b", "garcia", "maria"),    # pure swap of 1
        (3, "b", "maria", "lopez"),     # half agreement whichever way
    ]
    df = spark.createDataFrame(rows, ["rid", "blk", "fname", "lname"])
    cut = CutoffSpec(hi=3.0, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(BlockField(name="blk"),),
                match_fields=(),
                match_field_pairs=(
                    MatchFieldPair(
                        name_a="fname", name_b="lname",
                        comparator="c", m=0.9, u=0.1,
                    ),
                ),
                cutoff=cut, print_cutoff=cut,
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, persist=False)
    out = {(r["id_rec"], r["id_mem"]): r for r in res.pairs.collect()}
    agr = agreement_weight(0.9, 0.1)
    # swap pair: crossed alignment is a full agreement
    assert abs(out[(1, 2)]["weight"] - agr) < 1e-9
    assert out[(1, 2)]["is_exact"]
    # half agreement scores strictly below full
    assert out[(1, 3)]["weight"] < out[(1, 2)]["weight"]
    assert not out[(1, 3)]["is_exact"]


def test_write_parmf_refuses_extensions():
    import pytest

    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        MatchFieldPair,
        Snm,
        write_parmf,
    )

    base = dict(
        block_fields=(BlockField(name="k"),),
        match_fields=(MatchField(name="k"),),
    )
    snm_cfg = MatchConfig(
        passes=(BlockingPassSpec(blocker=Snm(), **base),),
        id_field=FieldRef(name="rid"),
    )
    pair_cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                match_field_pairs=(MatchFieldPair(name_a="a", name_b="b"),),
                **base,
            ),
        ),
        id_field=FieldRef(name="rid"),
    )
    with pytest.raises(ValueError):
        write_parmf(snm_cfg)
    with pytest.raises(ValueError):
        write_parmf(pair_cfg)
