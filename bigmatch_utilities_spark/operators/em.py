"""Fellegi-Sunter m/u estimation by EM over gamma-pattern histograms.

The reference engine takes per-field m/u probabilities as parmf givens
(/root/reference/app/BigMatchParmFile.py:489-494; GUI defaults m=0.90
u=0.10 at app/BlockingPass.py:75-76) and never calibrates them.
Estimating them from *unlabeled* candidate pairs is the standard published
procedure (Winkler 1988, "Using the EM algorithm for weight computation in
the Fellegi-Sunter model of record linkage"): treat match/non-match as a
latent class over binary field-agreement vectors (gamma patterns) and run
EM on the pattern counts.

Scale design (the part that matters at 100 TB): billions of candidate
pairs collapse to a <= 2^K gamma-pattern histogram — K = number of match
fields — in ONE map-side-combined aggregation; the shuffle moves at most
``num_partitions * 2^K`` tiny rows.  EM then runs driver-side on that
histogram: each iteration is O(2^K * K) scalar arithmetic with zero Spark
jobs.  The data pass is a single ``groupBy().count()``; everything
iterative touches only the sufficient statistic.  (Contrast with running
EM "on the cluster": per-iteration Spark jobs would add scheduler
round-trips while computing the exact same 2^K-row reduction.)

EM is run for a FIXED number of iterations (default 5) rather than to a
tolerance so that the result is deterministic and the SQL twin
(:func:`estimate_mu_sql`, the same iterations unrolled as chained CTEs)
computes bit-equal-at-6dp values on any engine.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import MatchField
from bigmatch_utilities_spark.functions.comparators import similarity, similarity_sql
from bigmatch_utilities_spark.operators.scoring import PARTIAL_FLOOR

#: default EM hyper-parameters (standard diffuse init: matches are rare,
#: agreement is informative). Kept as module constants so the Spark path
#: and the generated SQL are guaranteed to share them.
INIT_LAMBDA = 0.1
INIT_M = 0.9
INIT_U = 0.1
N_ITER = 5
#: probabilities are clamped to [EPS, 1-EPS] after every M-step — keeps EM
#: out of the absorbing 0/1 states and the induced log2 weights finite.
#: Mirrored verbatim in the generated SQL (LEAST/GREATEST).
EPS = 1e-6


def gamma_column(
    mf: MatchField,
    left: Column,
    right: Column,
    agree_threshold: float = PARTIAL_FLOOR,
) -> Column:
    """Binary agreement indicator for one field: 1 iff both sides present
    and similarity >= agree_threshold (blank-on-either-side counts as
    disagreement — EM needs a 2-state gamma; the 3-state missing treatment
    is a refinement the reference has no analog of)."""
    sim = similarity(mf.comparator, left, right)
    return gamma_at(sim, left, right, agree_threshold)


def gamma_at(
    sim: Column, left: Column, right: Column, agree_threshold: float = PARTIAL_FLOOR
) -> Column:
    """:func:`gamma_column` given the field's similarity column."""
    blank = (left.isNull() | (F.trim(left) == "")) | (
        right.isNull() | (F.trim(right) == "")
    )
    return (
        F.when(blank, F.lit(0))
        .when(sim >= F.lit(agree_threshold), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )


def gamma_sql(
    mf: MatchField,
    left: str,
    right: str,
    agree_threshold: float = PARTIAL_FLOOR,
) -> str:
    """Identical gamma semantics as DuckDB SQL text."""
    sim = similarity_sql(mf.comparator, left, right)
    blank = (
        f"({left} IS NULL OR trim({left}) = '' OR {right} IS NULL OR trim({right}) = '')"
    )
    return (
        f"(CASE WHEN {blank} THEN 0 "
        f"WHEN {sim} >= {agree_threshold!r} THEN 1 ELSE 0 END)"
    )


def pattern_histogram(
    pairs: DataFrame,
    match_fields: Sequence[MatchField],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
) -> DataFrame:
    """Gamma-pattern histogram: one row per observed agreement vector.

    Columns ``g_<field>`` (int 0/1) + ``n`` (count).  This is the single
    distributed pass of the estimator; partial aggregation collapses each
    task's output to <= 2^K rows before the shuffle.

    Fast path: when `pairs` already carries every ``g_<field>`` column
    (scoring ran with ``gamma_fields=...``, which computes the indicators
    in the same stage as the weights), those are aggregated directly — no
    comparator re-evaluation, no join back to the source table.  That is
    how ``run_match --estimate-mu`` folds EM onto the one scoring pass.
    """
    gcols = [f"g_{mf.name}" for mf in match_fields]
    if all(c in pairs.columns for c in gcols):
        projected = pairs.select(*gcols)
    else:
        gammas = [
            gamma_column(
                mf,
                F.col(rec_prefix + mf.name),
                F.col(mem_prefix + mf.name),
                agree_threshold,
            ).alias(f"g_{mf.name}")
            for mf in match_fields
        ]
        projected = pairs.select(*gammas)
    return projected.groupBy(*gcols).count().withColumnRenamed("count", "n")


def em_fit(
    hist: Sequence[tuple[tuple[int, ...], float]],
    n_fields: int,
    n_iter: int = N_ITER,
    init_lambda: float = INIT_LAMBDA,
    init_m: float = INIT_M,
    init_u: float = INIT_U,
) -> tuple[float, list[float], list[float]]:
    """Driver-side EM on the pattern histogram.

    ``hist`` is [(gamma_tuple, count), ...].  Iteration order and the
    arithmetic shape (per-row posterior division, then sums over patterns
    in sorted-pattern order) mirror the generated SQL exactly so both
    engines agree to well past 6dp.
    """
    rows = sorted(hist)  # deterministic summation order
    lam = init_lambda
    m = [init_m] * n_fields
    u = [init_u] * n_fields
    for _ in range(n_iter):
        # E-step: per-pattern posterior P(match | gamma)
        posts = []  # (gamma, n, gpost)
        for g, n in rows:
            w = lam
            v = 1.0 - lam
            for k in range(n_fields):
                w *= pow(m[k], g[k]) * pow(1.0 - m[k], 1 - g[k])
                v *= pow(u[k], g[k]) * pow(1.0 - u[k], 1 - g[k])
            posts.append((g, n, w / (w + v)))
        # M-step
        tot = sum(n for _, n, _ in posts)
        tot_match = sum(n * p for _, n, p in posts)
        tot_non = sum(n * (1.0 - p) for _, n, p in posts)
        clamp = lambda x: min(max(x, EPS), 1.0 - EPS)  # noqa: E731
        lam = clamp(tot_match / tot)
        m = [
            clamp(sum(n * p * g[k] for g, n, p in posts) / tot_match)
            for k in range(n_fields)
        ]
        u = [
            clamp(sum(n * (1.0 - p) * g[k] for g, n, p in posts) / tot_non)
            for k in range(n_fields)
        ]
    return lam, m, u


def estimate_mu(
    pairs: DataFrame,
    match_fields: Sequence[MatchField],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
    n_iter: int = N_ITER,
    init_lambda: float = INIT_LAMBDA,
    init_m: float = INIT_M,
    init_u: float = INIT_U,
) -> DataFrame:
    """Estimate per-field (m, u) and match prevalence lambda from unlabeled
    candidate pairs.  Returns one row per match field:

        field | m | u | lam | agr_w | dis_w      (all rounded to 6dp)

    agr_w / dis_w are the induced log2 agreement/disagreement weights —
    i.e. exactly what a parmf matching row would carry, now calibrated
    from data instead of GUI defaults.
    """
    spark = pairs.sparkSession
    hist_df = pattern_histogram(
        pairs, match_fields, rec_prefix, mem_prefix, agree_threshold
    )
    gcols = [f"g_{mf.name}" for mf in match_fields]
    hist = [
        (tuple(int(r[c]) for c in gcols), float(r["n"]))
        for r in hist_df.collect()  # <= 2^K rows by construction
    ]
    if not hist:
        raise ValueError("estimate_mu: no candidate pairs")
    lam, m, u = em_fit(
        hist, len(match_fields), n_iter, init_lambda, init_m, init_u
    )
    import math

    out = [
        (
            mf.name,
            round(m[k], 6),
            round(u[k], 6),
            round(lam, 6),
            round(math.log2(m[k] / u[k]), 6),
            round(math.log2((1.0 - m[k]) / (1.0 - u[k])), 6),
        )
        for k, mf in enumerate(match_fields)
    ]
    return spark.createDataFrame(
        out, "field string, m double, u double, lam double, agr_w double, dis_w double"
    )


def estimate_mu_sql(
    pairs_sql: str,
    match_fields: Sequence[MatchField],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
    n_iter: int = N_ITER,
    init_lambda: float = INIT_LAMBDA,
    init_m: float = INIT_M,
    init_u: float = INIT_U,
) -> str:
    """The same estimator as one ANSI-SQL statement: gamma exprs ->
    histogram CTE -> ``n_iter`` EM iterations unrolled as chained CTEs
    (state = a single row of scalars) -> per-field output rows.

    Oracle twin of :func:`estimate_mu`; generated, never handwritten.
    """
    ctes = _em_state_ctes(
        pairs_sql, match_fields, rec_prefix, mem_prefix, agree_threshold,
        n_iter, init_lambda, init_m, init_u,
    )
    last = f"s{n_iter}"
    selects = [
        f"SELECT '{mf.name}' AS field, round(m{k}, 6) AS m, round(u{k}, 6) AS u, "
        f"round(lam, 6) AS lam, round(log2(m{k} / u{k}), 6) AS agr_w, "
        f"round(log2((1.0 - m{k}) / (1.0 - u{k})), 6) AS dis_w FROM {last}"
        for k, mf in enumerate(match_fields)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(selects)


def _em_state_ctes(
    pairs_sql: str,
    match_fields: Sequence[MatchField],
    rec_prefix: str,
    mem_prefix: str,
    agree_threshold: float,
    n_iter: int,
    init_lambda: float,
    init_m: float,
    init_u: float,
) -> list[str]:
    """The gamma/histogram/unrolled-EM CTE list shared by
    :func:`estimate_mu_sql` and :func:`estimate_posterior_sql` — ends with
    the 1-row state CTE ``s{n_iter}(lam, m0, u0, ...)``."""
    K = len(match_fields)
    gnames = [f"g{k}" for k in range(K)]
    gexprs = ", ".join(
        f"{gamma_sql(mf, rec_prefix + mf.name, mem_prefix + mf.name, agree_threshold)} AS g{k}"
        for k, mf in enumerate(match_fields)
    )
    glist = ", ".join(gnames)
    ctes = [
        f"gm AS (SELECT {gexprs} FROM ({pairs_sql}))",
        f"h AS (SELECT {glist}, CAST(COUNT(*) AS DOUBLE) AS n FROM gm GROUP BY {glist})",
        "s0 AS (SELECT "
        + f"CAST({init_lambda!r} AS DOUBLE) AS lam, "
        + ", ".join(
            f"CAST({init_m!r} AS DOUBLE) AS m{k}, CAST({init_u!r} AS DOUBLE) AS u{k}"
            for k in range(K)
        )
        + ")",
    ]
    for t in range(1, n_iter + 1):
        prev = f"s{t-1}"
        wprod = " * ".join(
            f"(pow(s.m{k}, h.g{k}) * pow(1.0 - s.m{k}, 1 - h.g{k}))" for k in range(K)
        )
        vprod = " * ".join(
            f"(pow(s.u{k}, h.g{k}) * pow(1.0 - s.u{k}, 1 - h.g{k}))" for k in range(K)
        )
        ctes.append(
            f"e{t} AS (SELECT h.n, {', '.join('h.' + g for g in gnames)}, "
            f"s.lam * {wprod} AS w, (1.0 - s.lam) * {vprod} AS v "
            f"FROM h CROSS JOIN {prev} s)"
        )
        def _clamp(expr: str) -> str:
            # exact mirror of em_fit's min(max(x, EPS), 1-EPS): repr() emits
            # the shortest round-tripping literal, so both engines clamp to
            # bit-identical doubles
            return f"LEAST(GREATEST({expr}, {EPS!r}), {1.0 - EPS!r})"

        mterms = ", ".join(
            _clamp(f"SUM(n * (w/(w+v)) * g{k}) / SUM(n * (w/(w+v)))") + f" AS m{k}, "
            + _clamp(f"SUM(n * (1.0 - w/(w+v)) * g{k}) / SUM(n * (1.0 - w/(w+v)))")
            + f" AS u{k}"
            for k in range(K)
        )
        ctes.append(
            f"s{t} AS (SELECT "
            + _clamp("SUM(n * (w/(w+v))) / SUM(n)")
            + f" AS lam, {mterms} FROM e{t})"
        )
    return ctes


def match_posterior(
    pairs: DataFrame,
    match_fields: Sequence[MatchField],
    lam: float,
    m: Sequence[float],
    u: Sequence[float],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
    id_cols: Sequence[str] = ("id_l", "id_r"),
) -> DataFrame:
    """Per-pair posterior match probability P(M | gamma) under calibrated
    Fellegi-Sunter parameters - the probabilistic reading of the pair
    weight (Splink's match_probability; the reference only ever surfaces
    the log2 composite weight, never the probability:
    /root/reference/app/BigMatchParmFile.py carries fixed m/u per row and
    the GUI shows weights).

        P(M | gamma) = lam * prod_k(g_k ? m_k : 1-m_k)
                       / (lam * prod(...) + (1-lam) * prod_k(g_k ? u_k : 1-u_k))

    Map-only: the gammas are codegen CASE expressions and the products are
    a fixed-order multiply chain over scalar literals - no shuffle, no
    join, linear scan at any scale. Because g is binary the chain never
    calls pow(), so Spark and the SQL twin multiply the exact same IEEE
    doubles in the exact same order (1-ulp-identical before the 6dp
    round).
    """
    w: Column = F.lit(float(lam))
    v: Column = F.lit(1.0 - float(lam))
    for k, mf in enumerate(match_fields):
        g = gamma_column(
            mf,
            F.col(rec_prefix + mf.name),
            F.col(mem_prefix + mf.name),
            agree_threshold,
        )
        w = w * F.when(g == 1, F.lit(float(m[k]))).otherwise(
            F.lit(1.0 - float(m[k]))
        )
        v = v * F.when(g == 1, F.lit(float(u[k]))).otherwise(
            F.lit(1.0 - float(u[k]))
        )
    return pairs.select(
        *id_cols, F.round(w / (w + v), 6).alias("posterior")
    )


def estimate_posterior(
    pairs: DataFrame,
    match_fields: Sequence[MatchField],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
    n_iter: int = N_ITER,
    id_cols: Sequence[str] = ("id_l", "id_r"),
) -> DataFrame:
    """EM-calibrate (lam, m, u) on ``pairs`` (driver-side fold of the
    <= 2^K pattern histogram, exactly :func:`estimate_mu`'s path), then
    attach the per-pair posterior. One scoring-shaped pass over the pairs
    plus the histogram aggregate - the same cost envelope as
    ``run_match --estimate-mu``."""
    hist_df = pattern_histogram(
        pairs, match_fields, rec_prefix, mem_prefix, agree_threshold
    )
    gcols = [f"g_{mf.name}" for mf in match_fields]
    hist = [
        (tuple(int(r[c]) for c in gcols), float(r["n"]))
        for r in hist_df.collect()  # <= 2^K rows by construction
    ]
    if not hist:
        raise ValueError("estimate_posterior: no candidate pairs")
    lam, m, u = em_fit(hist, len(match_fields), n_iter)
    return match_posterior(
        pairs, match_fields, lam, m, u, rec_prefix, mem_prefix,
        agree_threshold, id_cols,
    )


def estimate_posterior_sql(
    pairs_sql: str,
    match_fields: Sequence[MatchField],
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
    n_iter: int = N_ITER,
    init_lambda: float = INIT_LAMBDA,
    init_m: float = INIT_M,
    init_u: float = INIT_U,
    id_exprs: Sequence[str] = ("id_l", "id_r"),
) -> str:
    """Oracle twin of :func:`estimate_posterior`: the unrolled-EM CTE
    chain of :func:`estimate_mu_sql` (same state CTEs), then every pair's
    gamma CASE-chained against the final 1-row state. The posterior
    product uses CASE (never pow) in the same left-fold order as the
    Column chain."""
    K = len(match_fields)
    gnames = [f"g{k}" for k in range(K)]
    id_list = ", ".join(id_exprs)
    gexprs = ", ".join(
        f"{gamma_sql(mf, rec_prefix + mf.name, mem_prefix + mf.name, agree_threshold)} AS g{k}"
        for k, mf in enumerate(match_fields)
    )
    ctes = _em_state_ctes(
        pairs_sql, match_fields, rec_prefix, mem_prefix, agree_threshold,
        n_iter, init_lambda, init_m, init_u,
    )
    last = f"s{n_iter}"
    wprod = " * ".join(
        f"(CASE WHEN p.g{k} = 1 THEN s.m{k} ELSE 1.0 - s.m{k} END)"
        for k in range(K)
    )
    vprod = " * ".join(
        f"(CASE WHEN p.g{k} = 1 THEN s.u{k} ELSE 1.0 - s.u{k} END)"
        for k in range(K)
    )
    ctes.append(
        f"pp AS (SELECT {id_list}, {gexprs} FROM ({pairs_sql}))"
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT {', '.join('p.' + e.split(' AS ')[-1].strip() for e in id_exprs)},
       round((s.lam * {wprod}) / (s.lam * {wprod} + (1.0 - s.lam) * {vprod}), 6)
         AS posterior
FROM pp p CROSS JOIN {last} s
"""
    )


# ---------------------------------------------------------------------------
# Direct u estimation from deterministic random pairing
# ---------------------------------------------------------------------------


def estimate_u_random(
    df: DataFrame,
    id_col: str,
    match_fields: Sequence[MatchField],
    *,
    max_pairs: int | None = None,
    agree_threshold: float = PARTIAL_FLOOR,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-field u probabilities from DETERMINISTIC random pairing.

    u_k = P(field k agrees | the pair is NOT a match). EM
    (:func:`estimate_mu`) infers u jointly with m from *blocked* candidate
    pairs; when true matches are rare (the usual census/linkage regime),
    the standard direct estimate — Splink's
    ``estimate_u_using_random_sampling``, Fellegi–Sunter's original
    frequency argument — is the agreement RATE over random pairs: a
    uniformly random pair is a non-match with probability ~1, so the raw
    agreement rate estimates u with O(prevalence) bias and no latent-class
    machinery. The reference takes u as a parmf given
    (/root/reference/app/BigMatchParmFile.py:489-494) and never estimates
    it; this supplies the estimator its users run elsewhere.

    Determinism (the engine-parity contract): instead of RNG sampling, the
    table is ranked in md5(id) order — a fixed pseudo-random total order —
    and rank 2i-1 pairs with rank 2i (disjoint consecutive pairs in the
    shuffled order, floor(N/2) pairs). Same input ⇒ the exact same pair
    set on any engine, any partitioning, any cluster size.

    Scale: the rank comes from :func:`with_global_rank` (range-partition +
    O(P) offsets frame — no single-task sort); the pairing is ONE
    integer-key equi-join; the per-field rates are a single
    map-side-combined 1-row aggregate, melted driver-side. ``max_pairs``
    bounds the join to the first 2·max_pairs ranks — a uniform random
    sample, since md5 order is independent of every field. (For a cheaper
    pre-cut at extreme scale, compose with
    ``corpus_ops.stratified_sample`` to thin rows BEFORE ranking.)

    Blank semantics: a pair contributes to field k's denominator only when
    BOTH sides are non-blank (``n_obs``); ``u`` = n_agree / n_obs, rounded
    to 6dp. Returns one row per match field:
    (field, n_pairs, n_obs, n_agree, u).
    """
    from bigmatch_utilities_spark.operators.sorted_neighborhood import (
        with_global_rank,
    )

    cols = [mf.name for mf in match_fields]
    keyed = df.select(
        F.col(id_col).alias("_ur_id"),
        F.md5(F.col(id_col).cast("string")).alias("_ur_key"),
        *[F.col(c) for c in cols],
    )
    ranked = with_global_rank(
        keyed, ["_ur_key", "_ur_id"], out_col="_ur_rank",
        num_partitions=num_partitions,
    )
    left = ranked.filter(F.col("_ur_rank") % 2 == 1)
    if max_pairs is not None:
        left = left.filter(F.col("_ur_rank") <= 2 * max_pairs - 1)
    l = left.select(
        F.col("_ur_rank").alias("_ur_lrank"),
        *[F.col(c).alias(f"rec_{c}") for c in cols],
    )
    r = ranked.select(
        (F.col("_ur_rank") - 1).alias("_ur_lrank"),
        *[F.col(c).alias(f"mem_{c}") for c in cols],
    )
    pairs = l.join(r, "_ur_lrank")

    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for mf in match_fields:
        lc, rc = F.col(f"rec_{mf.name}"), F.col(f"mem_{mf.name}")
        obs = ~(
            lc.isNull() | (F.trim(lc) == "") | rc.isNull() | (F.trim(rc) == "")
        )
        agree = obs & (
            similarity(mf.comparator, lc, rc) >= F.lit(agree_threshold)
        )
        aggs.append(F.sum(obs.cast("long")).alias(f"obs_{mf.name}"))
        aggs.append(F.sum(agree.cast("long")).alias(f"agr_{mf.name}"))
    one = pairs.agg(*aggs)

    # melt the 1-row frame to one row per field: stack() keeps it in-plan
    # (no collect), and the frame is K rows total regardless of data size
    stack_args: list[str] = []
    for mf in match_fields:
        stack_args.append(f"'{mf.name}'")
        stack_args.append(f"obs_{mf.name}")
        stack_args.append(f"agr_{mf.name}")
    melted = one.selectExpr(
        "n_pairs",
        f"stack({len(match_fields)}, {', '.join(stack_args)}) "
        "AS (field, n_obs, n_agree)",
    )
    return melted.select(
        "field",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.round(
            F.col("n_agree") / F.greatest(F.col("n_obs"), F.lit(1)), 6
        ).alias("u"),
    )


def estimate_u_random_sql(
    source_sql: str,
    id_col: str,
    match_fields: Sequence[MatchField],
    *,
    max_pairs: int | None = None,
    agree_threshold: float = PARTIAL_FLOOR,
) -> str:
    """Oracle twin of :func:`estimate_u_random`: row_number() over the
    identical (md5(id), id) order, the identical odd-rank consecutive
    pairing, the identical blank/agree predicates, melted via UNION ALL.
    Integer counts end-to-end; the only float is the final 6dp-rounded
    division — bit-stable cross-engine."""
    cap = (
        f"AND l._ur_rank <= {2 * max_pairs - 1} " if max_pairs is not None else ""
    )
    per_field = []
    for mf in match_fields:
        lc, rc = mf.name, f"_mem_{mf.name}"
        obs = (
            f"NOT ({lc} IS NULL OR trim({lc}) = '' "
            f"OR {rc} IS NULL OR trim({rc}) = '')"
        )
        sim = similarity_sql(mf.comparator, lc, rc)
        agree = f"({obs}) AND {sim} >= {agree_threshold!r}"
        per_field.append(
            f"SELECT '{mf.name}' AS field, count(*) AS n_pairs, "
            f"sum(CASE WHEN {obs} THEN 1 ELSE 0 END) AS n_obs, "
            f"sum(CASE WHEN {agree} THEN 1 ELSE 0 END) AS n_agree "
            f"FROM pairs_cte"
        )
    unions = " UNION ALL ".join(per_field)
    return f"""
WITH ranked AS (
    SELECT *, row_number() OVER (
        ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
    ) AS _ur_rank
    FROM ({source_sql})
),
pairs_cte AS (
    SELECT l.*, {', '.join(f'r.{mf.name} AS _mem_{mf.name}' for mf in match_fields)}
    FROM ranked l JOIN ranked r ON r._ur_rank = l._ur_rank + 1
    WHERE l._ur_rank % 2 = 1 {cap}
)
SELECT field,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_agree AS BIGINT) AS n_agree,
       round(n_agree / greatest(n_obs, 1), 6) AS u
FROM ({unions})
"""


def posterior_from_gammas(
    pairs: DataFrame,
    field_names: Sequence[str],
    lam: float,
    m: Sequence[float],
    u: Sequence[float],
    gamma_prefix: str = "g_",
    out_col: str = "posterior",
) -> DataFrame:
    """Attach P(M | gamma) when the binary gamma indicators are ALREADY
    materialized as columns (``score_pass gamma_fields`` writes them with
    the decision core) — the zero-rescore path :func:`match_posterior`
    cannot take because it recomputes gammas from the raw field values.
    Map-only: a fixed-order multiply chain over scalar literals, no join,
    no shuffle."""
    w: Column = F.lit(float(lam))
    v: Column = F.lit(1.0 - float(lam))
    for k, name in enumerate(field_names):
        g = F.col(gamma_prefix + name)
        w = w * F.when(g == 1, F.lit(float(m[k]))).otherwise(
            F.lit(1.0 - float(m[k]))
        )
        v = v * F.when(g == 1, F.lit(float(u[k]))).otherwise(
            F.lit(1.0 - float(u[k]))
        )
    return pairs.withColumn(out_col, F.round(w / (w + v), 6))


def pattern_dependence(
    pairs: DataFrame,
    match_fields: Sequence[MatchField],
    *,
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
) -> DataFrame:
    """Gamma-pattern conditional-dependence diagnostic: observed count of
    every agreement pattern vs the count expected if the field gammas
    were INDEPENDENT (the assumption both naive-FS weights and the
    latent-class EM lean on; Winkler 1993's interaction-model work is
    the refinement this table tells you whether you need).

    Emits, per observed pattern: the ``g_<field>`` indicators, observed
    ``n``, ``expected_scaled`` = prod_k(gamma_k ? a_k : N - a_k) — the
    independence expectation scaled by the EXACT integer N^(K-1), where
    a_k = pairs agreeing on field k — and ``lift`` = observed/expected
    (NULL when a marginal is degenerate and the expectation is 0).
    lift >> 1 on a multi-agree pattern means the fields co-fire far more
    than independence predicts (shared typo processes, copied records).

    Cross-engine exactness: marginals and expected_scaled are integer
    arithmetic end-to-end; ``lift`` is a single multiply-then-divide on
    exactly-representable integers, bit-identical across IEEE engines.
    Overflow bound: ``expected_scaled`` is a product of K factors each up
    to N, so it leaves BIGINT once N^K > 2^63 — N > 2^(63/K), about
    2^21 (~2M blocked pairs) at K = 3 — and the N^(K-1) lift factor
    leaves it once N > 2^(63/(K-1)). There is no guard: under the
    session's ANSI default (``spark.sql.ansi.enabled``, on in Spark 4)
    the query then raises ``ARITHMETIC_OVERFLOW`` rather than wrapping,
    and the DuckDB twin's BIGINT cast raises as well. At that scale
    compute on the histogram (<= 2^K rows) driver-side or switch the
    product to DOUBLE; the histogram pass itself (the only distributed
    stage: one map-side-combined groupBy) is unchanged.

    Reference parity: beyond-reference diagnostic over the same gamma
    machinery the reference's weight model implies
    (`/root/reference/app/BigMatchParmFile.py` m/u rows assume
    independence when summing field weights).
    """
    hist = pattern_histogram(
        pairs, match_fields, rec_prefix, mem_prefix, agree_threshold
    )
    gcols = [f"g_{mf.name}" for mf in match_fields]
    marg = hist.agg(
        F.sum("n").alias("_N"),
        *[F.sum(F.col("n") * F.col(g)).alias(f"_a_{g}") for g in gcols],
    )
    es: Column = F.lit(1).cast("long")
    for g in gcols:
        es = es * F.when(
            F.col(g) == 1, F.col(f"_a_{g}")
        ).otherwise(F.col("_N") - F.col(f"_a_{g}"))
    nk1: Column = F.lit(1).cast("long")
    for _ in range(len(gcols) - 1):
        nk1 = nk1 * F.col("_N")
    out = (
        hist.crossJoin(F.broadcast(marg))
        .withColumn("expected_scaled", es)
        .withColumn(
            "lift",
            F.when(
                F.col("expected_scaled") > 0,
                F.col("n").cast("double") * nk1 / F.col("expected_scaled"),
            ),
        )
    )
    return out.select(*gcols, "n", "expected_scaled", "lift")


def pattern_dependence_sql(
    pairs_sql: str,
    match_fields: Sequence[MatchField],
    *,
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    agree_threshold: float = PARTIAL_FLOOR,
) -> str:
    """DuckDB twin of :func:`pattern_dependence` — identical gamma
    semantics, integer expectation, and single-division lift."""
    gexprs = [
        f"{gamma_sql(mf, rec_prefix + mf.name, mem_prefix + mf.name, agree_threshold)}"
        f" AS g_{mf.name}"
        for mf in match_fields
    ]
    gcols = [f"g_{mf.name}" for mf in match_fields]
    glist = ", ".join(gcols)
    margs = ", ".join(
        [f"sum(n) AS _N"]
        + [f"sum(n * {g}) AS _a_{g}" for g in gcols]
    )
    es = " * ".join(
        f"(CASE WHEN {g} = 1 THEN _a_{g} ELSE _N - _a_{g} END)" for g in gcols
    )
    nk1 = " * ".join(["_N"] * (len(gcols) - 1)) or "1"
    return f"""
        WITH pd_pairs AS ({pairs_sql}),
        pd_g AS (SELECT {", ".join(gexprs)} FROM pd_pairs),
        pd_h AS (SELECT {glist}, count(*) AS n FROM pd_g GROUP BY {glist}),
        pd_m AS (SELECT {margs} FROM pd_h),
        pd_e AS (
            SELECT {glist}, n, CAST({es} AS BIGINT) AS expected_scaled,
                   CAST({nk1} AS BIGINT) AS _nk1
            FROM pd_h CROSS JOIN pd_m
        )
        SELECT {glist}, n, expected_scaled,
               CASE WHEN expected_scaled > 0
                    THEN CAST(n AS DOUBLE) * _nk1 / expected_scaled
               END AS lift
        FROM pd_e
    """
