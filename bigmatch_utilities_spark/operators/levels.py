"""Ordinal comparison levels: multi-level gammas with per-level m/u.

The reference scores every field with ONE binary agree/disagree split
(fixed per-row m/u in the parmf grammar,
/root/reference/app/BigMatchParmFile.py:489-494) — "ROBERT vs ROBERT",
"ROBERT vs ROBERTO", and "ROBERT vs XAVIER" collapse to two buckets.
Modern Fellegi-Sunter practice (Splink's comparison levels; Winkler's
string-comparator piecewise weights) grades each field into ORDINAL
levels — exact, one band per similarity threshold, then disagree — and
gives every level its own (m_l, u_l), so the per-level log2(m_l/u_l)
weight can be positive for "close" without paying full agreement credit.

This module provides:

* :class:`ComparisonLevels` — declarative spec: comparator, descending
  similarity thresholds, per-level m/u vectors.
* :func:`level_index` / :func:`level_weight` — pure Column CASE chains
  (codegen, no UDF): blank → -1 / 0.0, exact → level 0, one level per
  threshold, else the final disagree level.
* :func:`levels_pair_weight` — the summed per-pair composite.
* :func:`level_histogram` + :func:`em_fit_levels` +
  :func:`estimate_levels` — multinomial EM over the level-pattern
  histogram: the latent match/non-match mixture where each field is a
  categorical over its levels (missing = level -1 contributes likelihood
  1 to both classes — missing-at-random, unlike the binary path's
  blank-counts-as-disagreement, which a 2-state gamma forces).

Scale design: identical envelope to ``operators/em.py`` — billions of
pairs collapse to a ``prod_k(L_k + 1)``-row histogram in one
map-side-combined groupBy; EM runs driver-side on that sufficient
statistic with zero per-iteration Spark jobs. The scoring path is a pure
CASE chain inside whole-stage codegen: no join, no shuffle, no Python.

Cross-engine parity: iterations are FIXED (no tolerance test), every
probability is clamped to [EPS, 1-EPS] with the same repr'd literals,
likelihood products are fixed-order left folds, and all emitted floats
are rounded to 6dp — the same contract :func:`em.estimate_mu_sql` ships.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigmatch_utilities_spark.functions.comparators import (
    similarity,
    similarity_sql,
)
from bigmatch_utilities_spark.operators.em import EPS, N_ITER


@dataclass(frozen=True)
class ComparisonLevels:
    """Ordinal level spec for one field.

    Levels, in order: 0 = exact (similarity >= 1.0), 1..T = one band per
    entry of ``thresholds`` (similarity >= thresholds[i], tested in the
    given strictly-descending order), T+1 = disagree (everything below
    the last threshold). ``m``/``u`` carry one probability per level and
    each must sum to <= 1 (they are categorical distributions over the
    levels; validation enforces length and positivity, the EM estimator
    enforces normalization by construction).
    """

    name: str
    comparator: str = "e"
    thresholds: tuple[float, ...] = (0.9, 0.7)
    m: tuple[float, ...] = field(default=None)  # type: ignore[assignment]
    u: tuple[float, ...] = field(default=None)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        n = self.n_levels
        if self.m is None:
            object.__setattr__(self, "m", _geometric(n, favor_low=True))
        if self.u is None:
            object.__setattr__(self, "u", _geometric(n, favor_low=False))
        if len(self.m) != n or len(self.u) != n:
            raise ValueError(
                f"{self.name}: m/u must carry {n} probabilities "
                f"(exact + {len(self.thresholds)} bands + disagree)"
            )
        if any(p <= 0.0 or p >= 1.0 for p in (*self.m, *self.u)):
            raise ValueError(f"{self.name}: level probabilities must be in (0,1)")
        ts = list(self.thresholds)
        if any(not (0.0 < t < 1.0) for t in ts) or ts != sorted(ts, reverse=True):
            raise ValueError(
                f"{self.name}: thresholds must be strictly descending in (0,1)"
            )

    @property
    def n_levels(self) -> int:
        return len(self.thresholds) + 2

    def weights(self) -> list[float]:
        """Per-level log2(m_l / u_l), rounded to 6dp (shared literal set
        for the Column chain and the SQL twin)."""
        return [round(math.log2(mi / ui), 6) for mi, ui in zip(self.m, self.u)]


def _geometric(n: int, favor_low: bool) -> tuple[float, ...]:
    """Deterministic diffuse init: a normalized 4^-l profile peaked at
    level 0 (for m: matches agree) or at the last level (for u:
    non-matches disagree)."""
    raw = [4.0 ** -i for i in range(n)]
    if not favor_low:
        raw = raw[::-1]
    s = sum(raw)
    return tuple(p / s for p in raw)


def _blank(c: Column) -> Column:
    return c.isNull() | (F.trim(c) == "")


def _blank_sql(c: str) -> str:
    return f"({c} IS NULL OR trim({c}) = '')"


def level_index(cl: ComparisonLevels, left: Column, right: Column) -> Column:
    """Ordinal level of one comparison: -1 blank, 0 exact, 1..T bands,
    T+1 disagree. Pure when-chain — codegen collapses the repeated
    similarity subexpression."""
    sim = similarity(cl.comparator, left, right)
    expr = F.when(_blank(left) | _blank(right), F.lit(-1)).when(
        sim >= 1.0, F.lit(0)
    )
    for i, t in enumerate(cl.thresholds):
        expr = expr.when(sim >= float(t), F.lit(i + 1))
    return expr.otherwise(F.lit(len(cl.thresholds) + 1)).cast("int")


def level_index_sql(cl: ComparisonLevels, left: str, right: str) -> str:
    """DuckDB twin of :func:`level_index` (same branch order)."""
    sim = similarity_sql(cl.comparator, left, right)
    branches = [
        f"WHEN {_blank_sql(left)} OR {_blank_sql(right)} THEN -1",
        f"WHEN {sim} >= 1.0 THEN 0",
    ]
    branches += [
        f"WHEN {sim} >= {float(t)!r} THEN {i + 1}"
        for i, t in enumerate(cl.thresholds)
    ]
    return (
        "(CASE " + " ".join(branches) + f" ELSE {len(cl.thresholds) + 1} END)"
    )


def level_weight(cl: ComparisonLevels, left: Column, right: Column) -> Column:
    """log2(m_l/u_l) at this pair's level; 0.0 when blank. Same literals
    as :meth:`ComparisonLevels.weights` so SQL and Column agree exactly."""
    return level_weight_at(cl, similarity(cl.comparator, left, right), left, right)


def level_weight_at(
    cl: ComparisonLevels, sim: Column, left: Column, right: Column
) -> Column:
    """:func:`level_weight` given the comparison's similarity column."""
    ws = cl.weights()
    expr = F.when(_blank(left) | _blank(right), F.lit(0.0)).when(
        sim >= 1.0, F.lit(ws[0])
    )
    for i, t in enumerate(cl.thresholds):
        expr = expr.when(sim >= float(t), F.lit(ws[i + 1]))
    return expr.otherwise(F.lit(ws[-1]))


def level_weight_sql(cl: ComparisonLevels, left: str, right: str) -> str:
    ws = cl.weights()
    sim = similarity_sql(cl.comparator, left, right)
    branches = [
        f"WHEN {_blank_sql(left)} OR {_blank_sql(right)} THEN 0.0",
        f"WHEN {sim} >= 1.0 THEN {ws[0]!r}",
    ]
    branches += [
        f"WHEN {sim} >= {float(t)!r} THEN {ws[i + 1]!r}"
        for i, t in enumerate(cl.thresholds)
    ]
    return "(CASE " + " ".join(branches) + f" ELSE {ws[-1]!r} END)"


def levels_pair_weight(
    fields: Sequence[ComparisonLevels],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> Column:
    """Composite pair weight: fixed-order sum of per-field level weights."""
    total = F.lit(0.0)
    for cl in fields:
        total = total + level_weight(
            cl, F.col(rec_prefix + cl.name), F.col(mem_prefix + cl.name)
        )
    return total


def levels_pair_weight_sql(
    fields: Sequence[ComparisonLevels],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> str:
    return (
        "(0.0 + "
        + " + ".join(
            level_weight_sql(cl, rec_prefix + cl.name, mem_prefix + cl.name)
            for cl in fields
        )
        + ")"
    )


# ---------------------------------------------------------------------------
# multinomial EM over level patterns
# ---------------------------------------------------------------------------


def level_histogram(
    pairs: DataFrame,
    fields: Sequence[ComparisonLevels],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
) -> DataFrame:
    """Level-pattern sufficient statistic: one map-side-combined groupBy;
    at most ``prod_k(L_k + 1)`` rows leave the executors."""
    cols = [
        level_index(
            cl, F.col(rec_prefix + cl.name), F.col(mem_prefix + cl.name)
        ).alias(f"g_{cl.name}")
        for cl in fields
    ]
    return pairs.select(*cols).groupBy(
        *[f"g_{cl.name}" for cl in fields]
    ).agg(F.count(F.lit(1)).alias("n"))


def _clamp(x: float) -> float:
    return min(max(x, EPS), 1.0 - EPS)


def em_fit_levels(
    hist: Sequence[tuple[tuple[int, ...], float]],
    fields: Sequence[ComparisonLevels],
    n_iter: int = N_ITER,
    init_lambda: float = 0.1,
) -> tuple[float, list[list[float]], list[list[float]]]:
    """Driver-side multinomial EM on the level histogram.

    Missing (level -1) contributes likelihood 1.0 to BOTH classes and is
    excluded from that field's M-step denominator (missing-at-random).
    Arithmetic shape (left-fold products, clamp after every update)
    mirrors :func:`estimate_levels_sql`'s unrolled CTEs term for term.
    """
    K = len(fields)
    m = [list(cl.m) for cl in fields]
    u = [list(cl.u) for cl in fields]
    lam = float(init_lambda)
    for _ in range(n_iter):
        sn = sw = 0.0
        num_m = [[0.0] * cl.n_levels for cl in fields]
        den_m = [0.0] * K
        num_u = [[0.0] * cl.n_levels for cl in fields]
        den_u = [0.0] * K
        for g, n in hist:
            w = lam
            v = 1.0 - lam
            for k in range(K):
                if g[k] != -1:
                    w *= m[k][g[k]]
                    v *= u[k][g[k]]
            p = w / (w + v)
            sn += n
            sw += n * p
            for k in range(K):
                if g[k] != -1:
                    num_m[k][g[k]] += n * p
                    den_m[k] += n * p
                    num_u[k][g[k]] += n * (1.0 - p)
                    den_u[k] += n * (1.0 - p)
        lam = _clamp(sw / sn)
        for k, cl in enumerate(fields):
            for l in range(cl.n_levels):
                m[k][l] = _clamp(num_m[k][l] / den_m[k])
                u[k][l] = _clamp(num_u[k][l] / den_u[k])
    return lam, m, u


def estimate_levels(
    pairs: DataFrame,
    fields: Sequence[ComparisonLevels],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    n_iter: int = N_ITER,
    init_lambda: float = 0.1,
) -> DataFrame:
    """EM-calibrate the per-level (m, u) and emit one row per
    (field, level) with the fitted probabilities and the induced
    log2(m/u) weight — BigMatch's parmf m/u block, graduated to ordinal
    levels and learned from unlabeled candidates. One Spark pass
    (histogram) + driver-side EM + a tiny literal frame."""
    gcols = [f"g_{cl.name}" for cl in fields]
    rows = level_histogram(pairs, fields, rec_prefix, mem_prefix).collect()
    hist = [
        (tuple(int(r[c]) for c in gcols), float(r["n"])) for r in rows
    ]
    if not hist:
        raise ValueError("estimate_levels: no candidate pairs")
    lam, m, u = em_fit_levels(hist, fields, n_iter, init_lambda)
    out = [
        (
            cl.name,
            l,
            round(m[k][l], 6),
            round(u[k][l], 6),
            round(math.log2(_clamp(m[k][l]) / _clamp(u[k][l])), 6),
            round(lam, 6),
        )
        for k, cl in enumerate(fields)
        for l in range(cl.n_levels)
    ]
    spark = pairs.sparkSession
    return spark.createDataFrame(
        out, "field string, level int, m double, u double, weight double, lam double"
    )


def estimate_levels_sql(
    pairs_sql: str,
    fields: Sequence[ComparisonLevels],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    n_iter: int = N_ITER,
    init_lambda: float = 0.1,
) -> str:
    """DuckDB twin of :func:`estimate_levels`: the histogram CTE, then
    ``n_iter`` unrolled E/M CTE pairs carrying the full (lam, m_k_l,
    u_k_l) state as one-row scalars, then the per-(field, level) UNION.
    Same clamp literals, same left-fold product order, 6dp rounding."""
    K = len(fields)

    def clamp(expr: str) -> str:
        return f"LEAST(GREATEST({expr}, {EPS!r}), {1.0 - EPS!r})"

    gexprs = ", ".join(
        level_index_sql(
            cl, rec_prefix + cl.name, mem_prefix + cl.name
        )
        + f" AS g{k}"
        for k, cl in enumerate(fields)
    )
    gnames = ", ".join(f"g{k}" for k in range(K))
    ctes = [
        f"h AS (SELECT {gnames}, CAST(count(*) AS DOUBLE) AS n FROM "
        f"(SELECT {gexprs} FROM ({pairs_sql})) GROUP BY {gnames})"
    ]
    # s0: literal init state
    init_cols = [f"{float(init_lambda)!r} AS lam"]
    for k, cl in enumerate(fields):
        for l in range(cl.n_levels):
            init_cols.append(f"{float(cl.m[l])!r} AS m{k}_{l}")
            init_cols.append(f"{float(cl.u[l])!r} AS u{k}_{l}")
    ctes.append("s0 AS (SELECT " + ", ".join(init_cols) + ")")
    for t in range(n_iter):
        # E-step: per-pattern posterior, left-fold product order
        wprod = "lam"
        vprod = "(1.0 - lam)"
        for k, cl in enumerate(fields):
            mcase = (
                "(CASE g" + str(k) + " "
                + " ".join(
                    f"WHEN {l} THEN m{k}_{l}" for l in range(cl.n_levels)
                )
                + " ELSE 1.0 END)"
            )
            ucase = (
                "(CASE g" + str(k) + " "
                + " ".join(
                    f"WHEN {l} THEN u{k}_{l}" for l in range(cl.n_levels)
                )
                + " ELSE 1.0 END)"
            )
            wprod = f"({wprod} * {mcase})"
            vprod = f"({vprod} * {ucase})"
        ctes.append(
            f"e{t} AS (SELECT h.*, {wprod} AS w, {vprod} AS v "
            f"FROM h CROSS JOIN s{t})"
        )
        mterms = []
        for k, cl in enumerate(fields):
            den_m = f"SUM(CASE WHEN g{k} <> -1 THEN n * (w/(w+v)) ELSE 0.0 END)"
            den_u = (
                f"SUM(CASE WHEN g{k} <> -1 THEN n * (1.0 - w/(w+v)) "
                f"ELSE 0.0 END)"
            )
            for l in range(cl.n_levels):
                num_m = (
                    f"SUM(CASE WHEN g{k} = {l} THEN n * (w/(w+v)) "
                    f"ELSE 0.0 END)"
                )
                num_u = (
                    f"SUM(CASE WHEN g{k} = {l} THEN n * (1.0 - w/(w+v)) "
                    f"ELSE 0.0 END)"
                )
                mterms.append(clamp(f"{num_m} / {den_m}") + f" AS m{k}_{l}")
                mterms.append(clamp(f"{num_u} / {den_u}") + f" AS u{k}_{l}")
        ctes.append(
            f"s{t + 1} AS (SELECT "
            + clamp("SUM(n * (w/(w+v))) / SUM(n)")
            + " AS lam, "
            + ", ".join(mterms)
            + f" FROM e{t})"
        )
    rows = "\n            UNION ALL ".join(
        f"SELECT '{cl.name}' AS field, {l} AS level, "
        f"round(m{k}_{l}, 6) AS m, round(u{k}_{l}, 6) AS u, "
        f"round(log2({clamp(f'm{k}_{l}')} / {clamp(f'u{k}_{l}')}), 6) "
        f"AS weight, round(lam, 6) AS lam FROM s{n_iter}"
        for k, cl in enumerate(fields)
        for l in range(cl.n_levels)
    )
    return "WITH " + ",\n        ".join(ctes) + f"\n        {rows}"
