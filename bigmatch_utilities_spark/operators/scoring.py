"""Fellegi-Sunter pairwise scoring as pure Column arithmetic.

Per matching field with parameters (m, u) — m = P(agree | match),
u = P(agree | non-match), parsed from parmf matching rows
(/root/reference/app/BigMatchParmFile.py:489-494, GUI defaults m=0.90
u=0.10 at app/BlockingPass.py:75-76):

    agreement weight     agr = log2(m / u)
    disagreement weight  dis = log2((1-m) / (1-u))

Partial agreement (the `uo` family returns a similarity in [0,1]) is
interpolated linearly between dis (at sim = PARTIAL_FLOOR) and agr (at
sim = 1), the standard Winkler down-weighting; below the floor the field
scores the full disagreement weight. Blank-on-either-side contributes 0
(missing data is neither evidence for nor against — the reference engine's
blank handling is otherwise only visible in blocking blank_flag).

The pair weight is the sum of field weights — written as the first token of
every pairs row in the reference output (app/MatchReview.py:188-202,
rounded to 3dp for display).

Everything here is JVM-side Column arithmetic; the only Python in the
scoring path is the Jaro-Winkler Arrow kernel upstream.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import MatchField, MatchFieldPair
from bigmatch_utilities_spark.functions.comparators import (
    best_alignment,
    similarity,
    similarity_sql,
    swapped_agreement_sql,
)

#: similarity below this is full disagreement; linear interpolation above.
PARTIAL_FLOOR = 0.75


def agreement_weight(m: float, u: float) -> float:
    return math.log2(m / u)


def disagreement_weight(m: float, u: float) -> float:
    return math.log2((1.0 - m) / (1.0 - u))


def _weight_from_sim(
    agr: float, dis: float, sim: Column, blank: Column, partial_floor: float
) -> Column:
    """FS weight for one term: agr at sim=1, interpolated down to dis at
    the partial floor, full dis below, 0 when blank."""
    interp = F.lit(dis) + (F.lit(agr) - F.lit(dis)) * (sim - F.lit(partial_floor)) / F.lit(
        1.0 - partial_floor
    )
    return (
        F.when(blank, F.lit(0.0))
        .when(sim >= 1.0, F.lit(agr))
        .when(sim >= partial_floor, interp)
        .otherwise(F.lit(dis))
    )


def field_weight(
    mf: MatchField,
    sim: Column,
    left: Column,
    right: Column,
    partial_floor: float = PARTIAL_FLOOR,
) -> Column:
    """FS weight for one field given its similarity column."""
    agr = agreement_weight(mf.m, mf.u)
    dis = disagreement_weight(mf.m, mf.u)
    blank = (left.isNull() | (F.trim(left) == "")) | (right.isNull() | (F.trim(right) == ""))
    return _weight_from_sim(agr, dis, sim, blank, partial_floor)


def _pair_blank(
    fp: MatchFieldPair, rec_prefix: str, mem_prefix: str
) -> Column:
    """A field PAIR is blank when either side is blank in BOTH its
    fields — one present field still carries signal through the better
    alignment; a fully-blank side carries none."""
    def blank(c: Column) -> Column:
        return c.isNull() | (F.trim(c) == "")

    rec_blank = blank(F.col(rec_prefix + fp.name_a)) & blank(
        F.col(rec_prefix + fp.name_b)
    )
    mem_blank = blank(F.col(mem_prefix + fp.name_a)) & blank(
        F.col(mem_prefix + fp.name_b)
    )
    return rec_blank | mem_blank


def pair_field_weight(
    fp: MatchFieldPair,
    sim: Column,
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    partial_floor: float = PARTIAL_FLOOR,
) -> Column:
    """FS weight term for a transposition-tolerant field pair given its
    swapped_agreement similarity (best of straight/crossed alignment),
    interpolated between this pair's (m, u) weights."""
    agr = agreement_weight(fp.m, fp.u)
    dis = disagreement_weight(fp.m, fp.u)
    return _weight_from_sim(
        agr, dis, sim, _pair_blank(fp, rec_prefix, mem_prefix), partial_floor
    )


def pair_field_weight_sql(
    fp: MatchFieldPair,
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    partial_floor: float = PARTIAL_FLOOR,
) -> str:
    """DuckDB twin of :func:`pair_field_weight`."""
    agr = agreement_weight(fp.m, fp.u)
    dis = disagreement_weight(fp.m, fp.u)
    ra, rb = rec_prefix + fp.name_a, rec_prefix + fp.name_b
    ma, mb = mem_prefix + fp.name_a, mem_prefix + fp.name_b
    sim = swapped_agreement_sql(fp.comparator, ra, rb, ma, mb)

    def blank(c: str) -> str:
        return f"({c} IS NULL OR trim({c}) = '')"

    blank_pred = (
        f"(({blank(ra)} AND {blank(rb)}) OR ({blank(ma)} AND {blank(mb)}))"
    )
    interp = (
        f"({dis!r} + ({agr!r} - {dis!r}) * ({sim} - {partial_floor!r}) / "
        f"{1.0 - partial_floor!r})"
    )
    return (
        f"(CASE WHEN {blank_pred} THEN 0.0 "
        f"WHEN {sim} >= 1.0 THEN {agr!r} "
        f"WHEN {sim} >= {partial_floor!r} THEN {interp} "
        f"ELSE {dis!r} END)"
    )


def field_weight_sql(
    mf: MatchField,
    left: str,
    right: str,
    partial_floor: float = PARTIAL_FLOOR,
) -> str:
    """Identical semantics as DuckDB SQL text (oracle parity)."""
    agr = agreement_weight(mf.m, mf.u)
    dis = disagreement_weight(mf.m, mf.u)
    sim = similarity_sql(mf.comparator, left, right)
    blank = (
        f"({left} IS NULL OR trim({left}) = '' OR {right} IS NULL OR trim({right}) = '')"
    )
    interp = f"({dis!r} + ({agr!r} - {dis!r}) * ({sim} - {partial_floor!r}) / {1.0 - partial_floor!r})"
    return (
        f"(CASE WHEN {blank} THEN 0.0 "
        f"WHEN {sim} >= 1.0 THEN {agr!r} "
        f"WHEN {sim} >= {partial_floor!r} THEN {interp} "
        f"ELSE {dis!r} END)"
    )


def pair_weight(
    match_fields: tuple[MatchField, ...],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    field_pairs: tuple[MatchFieldPair, ...] = (),
) -> Column:
    """Total pair weight = Σ field weights (+ Σ swap-tolerant pair-field
    weights), over `rec_<f>` / `mem_<f>` cols."""
    terms = weight_terms(match_fields, field_pairs, _sim, rec_prefix, mem_prefix)
    return reduce(lambda a, b: a + b, terms)


def _sim(comparator: str, rec_col: str, mem_col: str) -> Column:
    return similarity(comparator, F.col(rec_col), F.col(mem_col))


def weight_terms(
    match_fields: tuple[MatchField, ...],
    field_pairs: tuple[MatchFieldPair, ...],
    sim: Callable[[str, str, str], Column],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> list[Column]:
    """The terms :func:`pair_weight` sums, in its order, each similarity
    read from ``sim(comparator, rec column name, mem column name)``."""
    terms = []
    for mf in match_fields:
        rec, mem = rec_prefix + mf.name, mem_prefix + mf.name
        terms.append(
            field_weight(mf, sim(mf.comparator, rec, mem), F.col(rec), F.col(mem))
        )
    for fp in field_pairs:
        ra, rb = rec_prefix + fp.name_a, rec_prefix + fp.name_b
        ma, mb = mem_prefix + fp.name_a, mem_prefix + fp.name_b
        c = fp.comparator
        s = best_alignment(
            sim(c, ra, ma), sim(c, rb, mb), sim(c, ra, mb), sim(c, rb, ma)
        )
        terms.append(pair_field_weight(fp, s, rec_prefix, mem_prefix))
    return terms


def field_weight_columns(
    match_fields: tuple[MatchField, ...],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> dict[str, Column]:
    """Per-field weight Columns — the waterfall breakdown behind
    :func:`pair_weight`.  The reference shows only the summed weight as
    the first token of each pairs row (app/MatchReview.py:188-202); the
    per-field decomposition is the review view that explains WHY a pair
    scored where it did (popularized by Splink's waterfall chart).  Same
    Column arithmetic as pair_weight, so Σ breakdown == total exactly."""
    terms = weight_terms(match_fields, (), _sim, rec_prefix, mem_prefix)
    return {mf.name: t for mf, t in zip(match_fields, terms)}


def pair_weight_sql(
    match_fields: tuple[MatchField, ...],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    field_pairs: tuple[MatchFieldPair, ...] = (),
) -> str:
    terms = [
        field_weight_sql(mf, rec_prefix + mf.name, mem_prefix + mf.name)
        for mf in match_fields
    ] + [pair_field_weight_sql(fp, rec_prefix, mem_prefix) for fp in field_pairs]
    return "(" + " + ".join(terms) + ")"


def pair_weight_rescaled(
    match_fields: tuple[MatchField, ...],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> Column:
    """Missing-data-adjusted pair weight: Σ observed field weights scaled
    by (total fields / observed fields).

    The standard FS blank rule (field_weight: blank → 0) silently SHRINKS
    the weight of pairs with missing fields toward zero — with a single
    global cutoff, a true match missing 2 of 5 fields needs its remaining
    3 fields to carry the whole bar, so sparse records systematically
    under-link. Rescaling extrapolates the observed evidence to the full
    field set (the missing-at-random reading: E[weight | observed]), the
    same per-pair normalization BigMatch sites handle by hand-lowering
    cutoffs for sparse files. A pair with NO observed field scores 0.

    Same Column arithmetic as :func:`pair_weight` on the observed terms,
    so the two agree exactly when nothing is blank. Pure JVM expression.
    """
    terms = weight_terms(match_fields, (), _sim, rec_prefix, mem_prefix)
    obs = []
    for mf in match_fields:
        lc = F.col(rec_prefix + mf.name)
        rc = F.col(mem_prefix + mf.name)
        blank = (lc.isNull() | (F.trim(lc) == "")) | (
            rc.isNull() | (F.trim(rc) == "")
        )
        obs.append(F.when(blank, F.lit(0)).otherwise(F.lit(1)))
    total = reduce(lambda a, b: a + b, terms)
    k = reduce(lambda a, b: a + b, obs)
    n = len(match_fields)
    return F.when(k == 0, F.lit(0.0)).otherwise(
        total * F.lit(float(n)) / k.cast("double")
    )


def pair_weight_rescaled_sql(
    match_fields: tuple[MatchField, ...],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> str:
    """DuckDB twin of :func:`pair_weight_rescaled` — identical term order
    and one final double multiply/divide (same IEEE operands on both
    engines)."""
    terms, obs = [], []
    for mf in match_fields:
        left = rec_prefix + mf.name
        right = mem_prefix + mf.name
        terms.append(field_weight_sql(mf, left, right))
        blank = (
            f"({left} IS NULL OR trim({left}) = '' "
            f"OR {right} IS NULL OR trim({right}) = '')"
        )
        obs.append(f"(CASE WHEN {blank} THEN 0 ELSE 1 END)")
    total = "(" + " + ".join(terms) + ")"
    k = "(" + " + ".join(obs) + ")"
    n = len(match_fields)
    return (
        f"(CASE WHEN {k} = 0 THEN 0.0 "
        f"ELSE {total} * {float(n)!r} / CAST({k} AS DOUBLE) END)"
    )


def is_exact(match_fields: tuple[MatchField, ...],
             rec_prefix: str = "rec_", mem_prefix: str = "mem_",
             field_pairs: tuple[MatchFieldPair, ...] = (),
             level_fields: tuple = ()) -> Column:
    """The reference's exact-match partition: rec match values == mem match
    values as concatenated strings (app/MatchReview.py:157-173). A
    swap-tolerant field pair is exact when EITHER alignment (straight or
    crossed) matches exactly — a pure transposition is still an exact
    match under pair semantics. An ordinal level field is exact only on
    plain equality (level 0 is defined by similarity >= 1.0, but the
    exactness flag keeps the reference's string-equality reading)."""
    def eq(a: str, b: str) -> Column:
        return F.coalesce(F.col(a), F.lit("")) == F.coalesce(F.col(b), F.lit(""))

    conds = [
        eq(rec_prefix + mf.name, mem_prefix + mf.name) for mf in match_fields
    ]
    for fp in field_pairs:
        straight = eq(rec_prefix + fp.name_a, mem_prefix + fp.name_a) & eq(
            rec_prefix + fp.name_b, mem_prefix + fp.name_b
        )
        crossed = eq(rec_prefix + fp.name_a, mem_prefix + fp.name_b) & eq(
            rec_prefix + fp.name_b, mem_prefix + fp.name_a
        )
        conds.append(straight | crossed)
    for cl in level_fields:
        conds.append(eq(rec_prefix + cl.name, mem_prefix + cl.name))
    if not conds:
        raise ValueError("is_exact: pass scores no fields")
    return reduce(lambda a, b: a & b, conds)
