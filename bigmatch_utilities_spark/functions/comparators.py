"""Field comparators (the `c/ci/uo/uoi/p/y/q/s` vocabulary).

Reference vocabulary: /root/reference/app/BlockingPass.py:117-127. The
engine-side similarity semantics are reconstructed from the BigMatch /
Fellegi-Sunter literature (Winkler's string comparator); the reference repo
only names the codes.

Design rules (BASELINE input_hint: "vectorized pandas/Arrow UDFs, no
per-row Python"):

* ``c``/``ci``/``p``/``y``/``q`` — and the engine-extension codes ``e``/
  ``ei`` (normalized edit similarity), ``d`` (calendar-date bands +
  day/month-swap tolerance), ``n`` (relative numeric tolerance), ``t``
  (token-set Jaccard) — are pure Column expressions: they never leave the
  JVM / whole-stage codegen.
* ``uo``/``uoi``/``s`` need Jaro-Winkler: implemented as a **numpy
  batch-vectorized** kernel wrapped in a scalar ``pandas_udf``. The inner
  loops run over *character positions* (bounded by field width), vectorized
  across the whole Arrow batch — no per-row Python.

The Jaro-Winkler convention matches DuckDB's ``jaro_winkler_similarity``
(our correctness oracle): empty-vs-anything → 0.0, match window
``max(|a|,|b|)//2 - 1``, transpositions = mismatched matched-sequence
positions / 2, Winkler prefix boost (scale 0.1, prefix cap 4) applied only
when jaro > 0.7.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

WINKLER_PREFIX_SCALE = 0.1
WINKLER_BOOST_THRESHOLD = 0.7
WINKLER_PREFIX_CAP = 4


# ---------------------------------------------------------------------------
# numpy-vectorized Jaro-Winkler kernel
# ---------------------------------------------------------------------------


def _char_matrix(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series[str] → (uint32 codepoint matrix [n, L], lengths [n]).

    Zero-padded on the right; real text never contains U+0000 so zero is a
    safe pad sentinel.
    """
    vals = s.fillna("").astype(str).to_numpy(dtype=object)
    u = np.array(vals, dtype="U")
    n = len(vals)
    width = u.dtype.itemsize // 4
    if width == 0:
        return np.zeros((n, 0), np.uint32), np.zeros(n, np.int64)
    mat = u.view(np.uint32).reshape(n, width)
    lengths = (mat != 0).sum(axis=1)
    return mat, lengths


def jaro_winkler_np(
    s1: pd.Series,
    s2: pd.Series,
    prefix_scale: float = WINKLER_PREFIX_SCALE,
    boost_threshold: float = WINKLER_BOOST_THRESHOLD,
) -> np.ndarray:
    """Batched Jaro-Winkler similarity: loops over char positions (≤ field
    width), vectorized across the batch dimension.

    Fast path: rows whose two sides are byte-identical score 1.0 without
    entering the O(L·window) match loop. Candidate pairs from blocking are
    dominated by near-duplicates, where exact agreement on a match field
    is the COMMON case — skipping them typically halves kernel time."""
    A, la = _char_matrix(s1)
    B, lb = _char_matrix(s2)
    n = len(la)
    out = np.zeros(n, np.float64)
    La, Lb = A.shape[1], B.shape[1]
    alive = (la > 0) & (lb > 0)
    if La == 0 or Lb == 0 or not alive.any():
        return out

    W0 = min(La, Lb)
    eq = alive & (la == lb) & (A[:, :W0] == B[:, :W0]).all(axis=1)
    out[eq] = 1.0
    todo = alive & ~eq
    if not todo.any():
        return out
    out[todo] = _jw_core(
        A[todo], la[todo], B[todo], lb[todo], prefix_scale, boost_threshold
    )
    return out


def _jw_core(
    A: np.ndarray,
    la: np.ndarray,
    B: np.ndarray,
    lb: np.ndarray,
    prefix_scale: float,
    boost_threshold: float,
) -> np.ndarray:
    """The general-case kernel over rows known non-blank and non-equal."""
    n = len(la)
    La, Lb = A.shape[1], B.shape[1]

    # match window per row
    d = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    dmax = int(d.max())

    used_b = np.zeros((n, Lb), bool)
    matched_a = np.zeros((n, La), bool)
    for i in range(La):
        ai = A[:, i]
        found = np.zeros(n, bool)
        for j in range(max(0, i - dmax), min(Lb, i + dmax + 1)):
            bj = B[:, j]
            ok = (
                (ai != 0)
                & (bj != 0)
                & ~found
                & ~used_b[:, j]
                & (np.abs(i - j) <= d)
                & (bj == ai)
            )
            if ok.any():
                used_b[:, j] |= ok
                found |= ok
        matched_a[:, i] = found

    m = matched_a.sum(axis=1).astype(np.float64)

    # matched character sequences, in order, for transposition count
    W = min(La, Lb)
    seq_a = np.zeros((n, La), np.uint32)
    pos = matched_a.cumsum(axis=1) - 1
    r, c = np.nonzero(matched_a)
    seq_a[r, pos[r, c]] = A[r, c]
    seq_b = np.zeros((n, Lb), np.uint32)
    pos = used_b.cumsum(axis=1) - 1
    r, c = np.nonzero(used_b)
    seq_b[r, pos[r, c]] = B[r, c]
    sa, sb = seq_a[:, :W], seq_b[:, :W]
    # DuckDB (our oracle) floors the transposition count: t = mismatches // 2
    # (verified empirically; textbook uses mismatches / 2.0 — the two differ
    # only on odd mismatch counts, i.e. already-low similarities).
    t = (((sa != sb) & (sa != 0) & (sb != 0)).sum(axis=1) // 2).astype(np.float64)

    safe_m = np.maximum(m, 1.0)
    la_f = np.maximum(la, 1).astype(np.float64)
    lb_f = np.maximum(lb, 1).astype(np.float64)
    jaro = np.where(m > 0, (m / la_f + m / lb_f + (m - t) / safe_m) / 3.0, 0.0)

    # Winkler prefix boost
    P = min(WINKLER_PREFIX_CAP, La, Lb)
    still = np.ones(n, bool)
    prefix = np.zeros(n, np.float64)
    for i in range(P):
        still = still & (A[:, i] == B[:, i]) & (A[:, i] != 0)
        prefix += still
    return np.where(
        jaro > boost_threshold, jaro + prefix * prefix_scale * (1.0 - jaro), jaro
    )


# DoubleType() (not the DDL string "double"): a DDL-typed pandas_udf needs an
# active SparkSession at decoration time, which breaks plain imports.
@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_np(s1, s2))


#: The kernel as a second, nondeterministic UDF (:func:`similarity_once`);
#: ``asNondeterministic()`` mutates its UDF, so never call it on the first.
_jaro_winkler_once = pandas_udf(
    jaro_winkler_udf.func, DoubleType()
).asNondeterministic()


def jaro_winkler(c1: Column | str, c2: Column | str) -> Column:
    return jaro_winkler_udf(F.col(c1) if isinstance(c1, str) else c1,
                            F.col(c2) if isinstance(c2, str) else c2)


# ---------------------------------------------------------------------------
# comparator → similarity Column (all emit a double in [0, 1])
# ---------------------------------------------------------------------------


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _tok_sorted(c: Column) -> Column:
    """Token normalization for street names: split on whitespace, drop
    empties, sort, rejoin — order-insensitive JW."""
    return F.array_join(
        F.array_sort(F.filter(F.split(F.trim(c), " +"), lambda x: x != F.lit(""))),
        " ",
    )


def similarity(comparator: str, left: Column | str, right: Column | str) -> Column:
    """Similarity in [0,1] for one comparator code. Blank semantics are the
    caller's job (the scoring layer zero-weights blank-either-side)."""
    return _similarity(comparator, _col(left), _col(right), jaro_winkler_udf)


def similarity_once(
    comparator: str, left: Column | str, right: Column | str
) -> Column:
    """:func:`similarity` with the Jaro-Winkler kernel marked
    nondeterministic: the same values, but a ``select`` of such columns is
    a plan barrier (operators.pipeline.score_pass). Each call must appear
    once in that ``select``: a repeated nondeterministic call runs again."""
    return _similarity(comparator, _col(left), _col(right), _jaro_winkler_once)


def _similarity(comparator: str, lc: Column, rc: Column, jw) -> Column:
    if comparator == "c":
        return F.when(lc == rc, F.lit(1.0)).otherwise(F.lit(0.0))
    if comparator == "ci":
        return F.when(F.lower(lc) == F.lower(rc), F.lit(1.0)).otherwise(F.lit(0.0))
    if comparator == "uo":
        return jw(lc, rc)
    if comparator == "uoi":
        return jw(F.lower(lc), F.lower(rc))
    if comparator == "s":
        return jw(_tok_sorted(F.lower(lc)), _tok_sorted(F.lower(rc)))
    if comparator in ("e", "ei"):
        # normalized edit similarity: 1 - lev/max(len) — the classic
        # typo-tolerant comparator BigMatch lacks (its string codes are all
        # JW-family); both engines implement plain unweighted Levenshtein,
        # so the values cross-check exactly. Both-empty → 1.0; either side
        # NULL → 0.0 (blank semantics stay the scoring layer's job).
        a = F.lower(lc) if comparator == "ei" else lc
        b = F.lower(rc) if comparator == "ei" else rc
        mx = F.greatest(F.length(a), F.length(b)).cast("double")
        sim = F.when(mx == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - F.levenshtein(a, b).cast("double") / mx
        )
        return F.coalesce(sim, F.lit(0.0))
    if comparator == "b":
        # privacy-preserving bloom-dice (functions/pprl.py): similarity is
        # the Dice coefficient of the two values' CLK bigram encodings at
        # the module defaults (m=512, k=3) — usable where cleartext must
        # not cross the comparison boundary, and a bigram-overlap partial
        # agreement in its own right. Both-blank → 1.0 (trivial agreement,
        # zero-weighted by the scoring layer's blank rule); either side
        # NULL → 0.0, matching the e/ei convention.
        from bigmatch_utilities_spark.functions.pprl import bloom_bits, dice

        d = dice(bloom_bits(lc), bloom_bits(rc))
        return F.when(
            (F.trim(lc) == "") & (F.trim(rc) == ""), F.lit(1.0)
        ).otherwise(F.coalesce(d, F.lit(0.0)))
    if comparator == "d":
        # calendar-date comparator: banded day-difference agreement plus the
        # classic day/month-transposition tolerance (a keyed "03/02" for
        # "02/03" is a clerical error, not a different person). Engine
        # extension — the reference's numeric codes (p/y/q) operate on bare
        # numbers and read "1999-12-31" vs "2000-01-01" as a full
        # disagreement; d reads it as 1 day. Either side unparseable → 0.0
        # (e/ei convention). Parsing is STRICT ISO yyyy-MM-dd: Spark's bare
        # try_cast accepts year-only strings ("1980" → 1980-01-01) where
        # DuckDB returns NULL, so both engines regex-gate before the cast —
        # the oracle contract demands identical accept sets.
        iso = r"^\d{4}-\d{2}-\d{2}$"
        da = F.when(lc.rlike(iso), lc.try_cast("date"))
        db = F.when(rc.rlike(iso), rc.try_cast("date"))
        diff = F.abs(F.datediff(da, db))
        # swapped(make_date(y, day, month)): the month argument is clamped
        # with least(day, 12) because BOTH engines evaluate conjuncts
        # vectorized — `day <= 12 AND make_date(...)` still builds the
        # date for day > 12 rows (DuckDB throws Date-out-of-range). The
        # clamped value only matters when the day <= 12 conjunct holds, so
        # semantics are unchanged; the new day is an old month <= 12 <= 28,
        # always valid.
        swap = (
            (F.dayofmonth(db) <= 12)
            & (
                da
                == F.make_date(
                    F.year(db),
                    F.least(F.dayofmonth(db), F.lit(12)),
                    F.month(db),
                )
            )
        ) | (
            (F.dayofmonth(da) <= 12)
            & (
                db
                == F.make_date(
                    F.year(da),
                    F.least(F.dayofmonth(da), F.lit(12)),
                    F.month(da),
                )
            )
        )
        return (
            F.when(da.isNull() | db.isNull(), F.lit(0.0))
            .when(diff == 0, F.lit(1.0))
            .when(diff <= 1, F.lit(0.9))
            .when(swap, F.lit(0.8))
            .when(diff <= 7, F.lit(0.7))
            .when(diff <= 30, F.lit(0.5))
            .when(diff <= 366, F.lit(0.25))
            .otherwise(F.lit(0.0))
        )
    if comparator == "n":
        # relative-tolerance numeric comparator for amounts/measurements,
        # where the stepped ABSOLUTE bands of p/y (built for ages/years)
        # misfire: $10,000 vs $10,050 is a 0.5% discrepancy, not five
        # disagreement steps. rel = |a-b| / max(|a|,|b|); both engines run
        # the identical short IEEE-double expression, so the oracle
        # cross-check is exact.
        a = lc.try_cast("double")
        b = rc.try_cast("double")
        rel = F.abs(a - b) / F.greatest(F.abs(a), F.abs(b))
        return (
            F.when(a.isNull() | b.isNull(), F.lit(0.0))
            .when(a == b, F.lit(1.0))  # covers 0 == 0 before rel's 0/0
            .when(rel <= 0.01, F.lit(0.9))
            .when(rel <= 0.05, F.lit(0.7))
            .when(rel <= 0.10, F.lit(0.4))
            .otherwise(F.lit(0.0))
        )
    if comparator == "t":
        # token-set Jaccard: word-order- and duplication-insensitive overlap
        # for multi-token fields (company names, addresses, titles) — "ACME
        # TRADING LTD" vs "LTD ACME TRADING" scores 1.0 where every
        # positional string comparator pays for the rotation. Lowercased,
        # whitespace-split, empty tokens dropped. Both sides tokenless
        # (blank or NULL) → 1.0 trivial agreement, zero-weighted by the
        # scoring layer's blank rule; one side tokenless → 0.0.
        def toks(c: Column) -> Column:
            return F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            )

        ta, tb = toks(lc), toks(rc)
        union = F.size(F.array_union(ta, tb))
        return F.when(union == 0, F.lit(1.0)).otherwise(
            F.size(F.array_intersect(ta, tb)).cast("double") / union.cast("double")
        )
    if comparator == "me":
        # symmetrized Monge-Elkan over normalized edit similarity: for each
        # token of one side, the best edit-similarity against the other
        # side's tokens, averaged; mean of the two directions. The standard
        # hybrid comparator for multi-token fields with per-token typos
        # ("JHON SMITH" vs "SMITH JOHN JR"), where token-set Jaccard ("t")
        # sees zero overlap and whole-string JW pays for the rotation.
        # Tokens are lowercased, whitespace-split, empties dropped, DISTINCT
        # (bounds the |a|x|b| inner-sim cost by vocabulary, not length).
        # Cross-engine exactness: NO float rounding anywhere — each
        # per-token best is half-up-quantized to 1e-6 in PURE INTEGER
        # arithmetic (round(p/q) = (2p+q) DIV 2q), the two direction sums
        # and their mean stay integers, and ONE final division by 10^6
        # produces the double. A float round() here is a trap: the
        # two-direction mean lands on x.xxxxx5 midpoints, where Spark
        # (decimal-string HALF_UP) and DuckDB (binary value) disagree.
        # Pure JVM expression: no UDF, no shuffle. Both sides tokenless →
        # 1.0 trivial agreement (zero-weighted by the blank rule); one side
        # tokenless → 0.0.
        def toks(c: Column) -> Column:
            return F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            )

        def idiv_half_up(p: Column, q: Column) -> Column:
            # round_half_up(p / q) for non-negative integer Columns:
            # (2p + q) DIV 2q. floor(double-div) is exact here — operands
            # stay far below 2^53 and a non-integer quotient of integers
            # q <= ~1e8 apart is never within an ulp of an integer.
            return F.floor((p * 2 + q) / (q * 2)).cast("long")

        def qdir(ta: Column, tb: Column) -> Column:
            # Σ over tokens x of max_y round_half_up((mx-lev)*1e6/mx)
            def qsim(x: Column, y: Column) -> Column:
                mx = F.greatest(F.length(x), F.length(y)).cast("long")
                p = (mx - F.levenshtein(x, y).cast("long")) * F.lit(1_000_000)
                return idiv_half_up(p, mx)

            return F.aggregate(
                F.transform(
                    ta, lambda x: F.array_max(F.transform(tb, lambda y: qsim(x, y)))
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )

        ta, tb = toks(lc), toks(rc)
        na, nb = F.size(ta).cast("long"), F.size(tb).cast("long")
        num = qdir(ta, tb) * nb + qdir(tb, ta) * na
        me_int = idiv_half_up(num, na * nb * 2)
        return (
            F.when((F.size(ta) == 0) & (F.size(tb) == 0), F.lit(1.0))
            .when((F.size(ta) == 0) | (F.size(tb) == 0), F.lit(0.0))
            .otherwise(me_int.cast("double") / F.lit(1_000_000.0))
        )
    if comparator in ("p", "y", "q"):
        # try_cast: ANSI mode (Spark 4 default) makes plain cast throw on junk
        a = lc.try_cast("double")
        b = rc.try_cast("double")
        diff = F.abs(a - b)
        if comparator == "q":  # strict numeric: equal or nothing
            return F.when(a.isNotNull() & b.isNotNull() & (diff == 0), F.lit(1.0)).otherwise(F.lit(0.0))
        if comparator == "y":  # year: one-off tolerated partially
            return (
                F.when(a.isNull() | b.isNull(), F.lit(0.0))
                .when(diff == 0, F.lit(1.0))
                .when(diff <= 1, F.lit(0.75))
                .when(diff <= 2, F.lit(0.5))
                .otherwise(F.lit(0.0))
            )
        # p — age: stepped partial agreement, wider tolerance
        return (
            F.when(a.isNull() | b.isNull(), F.lit(0.0))
            .when(diff == 0, F.lit(1.0))
            .when(diff <= 1, F.lit(0.8))
            .when(diff <= 2, F.lit(0.6))
            .when(diff <= 3, F.lit(0.4))
            .otherwise(F.lit(0.0))
        )
    raise ValueError(f"unknown comparator {comparator!r}")


def similarity_sql(comparator: str, left: str, right: str) -> str:
    """The same similarity as ANSI/DuckDB SQL text — used by oracle_sql()
    so the DuckDB cross-check computes byte-identical semantics."""
    if comparator == "c":
        return f"(CASE WHEN {left} = {right} THEN 1.0 ELSE 0.0 END)::DOUBLE"
    if comparator == "ci":
        return f"(CASE WHEN lower({left}) = lower({right}) THEN 1.0 ELSE 0.0 END)::DOUBLE"
    if comparator == "uo":
        return f"jaro_winkler_similarity({left}, {right})"
    if comparator == "uoi":
        return f"jaro_winkler_similarity(lower({left}), lower({right}))"
    if comparator == "s":
        def tok(c: str) -> str:
            return (
                "array_to_string(list_sort(list_filter("
                f"string_split_regex(trim(lower({c})), ' +'), x -> x <> '')), ' ')"
            )
        return f"jaro_winkler_similarity({tok(left)}, {tok(right)})"
    if comparator in ("e", "ei"):
        a = f"lower({left})" if comparator == "ei" else left
        b = f"lower({right})" if comparator == "ei" else right
        mx = f"greatest(length({a}), length({b}))::DOUBLE"
        return (
            f"coalesce(CASE WHEN {mx} = 0 THEN 1.0 "
            f"ELSE 1.0 - levenshtein({a}, {b})::DOUBLE / {mx} END, 0.0)"
        )
    if comparator == "b":
        from bigmatch_utilities_spark.functions.pprl import bloom_bits_sql, dice_sql

        d = dice_sql(bloom_bits_sql(left), bloom_bits_sql(right))
        return (
            f"(CASE WHEN trim({left}) = '' AND trim({right}) = '' THEN 1.0 "
            f"ELSE coalesce({d}, 0.0) END)::DOUBLE"
        )
    if comparator == "d":
        # strict ISO gate mirrors the Column expression (Spark would accept
        # "1980" bare; DuckDB would not — see similarity())
        da = (
            f"(CASE WHEN regexp_matches({left}, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$') "
            f"THEN TRY_CAST({left} AS DATE) END)"
        )
        db = (
            f"(CASE WHEN regexp_matches({right}, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$') "
            f"THEN TRY_CAST({right} AS DATE) END)"
        )
        diff = f"abs({da} - {db})"  # DuckDB date - date = integer days
        # least(day, 12) clamp: DuckDB evaluates AND conjuncts vectorized,
        # so an unclamped make_date throws Date-out-of-range for day > 12
        # rows even though the guard is false (see the Column expression)
        swap = (
            f"((day({db}) <= 12 AND {da} = make_date(year({db}), least(day({db}), 12), month({db}))) "
            f"OR (day({da}) <= 12 AND {db} = make_date(year({da}), least(day({da}), 12), month({da}))))"
        )
        return (
            f"(CASE WHEN {da} IS NULL OR {db} IS NULL THEN 0.0 "
            f"WHEN {diff} = 0 THEN 1.0 WHEN {diff} <= 1 THEN 0.9 "
            f"WHEN {swap} THEN 0.8 "
            f"WHEN {diff} <= 7 THEN 0.7 WHEN {diff} <= 30 THEN 0.5 "
            f"WHEN {diff} <= 366 THEN 0.25 ELSE 0.0 END)::DOUBLE"
        )
    if comparator == "n":
        a = f"try_cast({left} AS DOUBLE)"
        b = f"try_cast({right} AS DOUBLE)"
        rel = f"(abs({a} - {b}) / greatest(abs({a}), abs({b})))"
        return (
            f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
            f"WHEN {a} = {b} THEN 1.0 "
            f"WHEN {rel} <= 0.01 THEN 0.9 WHEN {rel} <= 0.05 THEN 0.7 "
            f"WHEN {rel} <= 0.10 THEN 0.4 ELSE 0.0 END)::DOUBLE"
        )
    if comparator == "t":
        def toks(c: str) -> str:
            return (
                "list_distinct(list_filter(string_split_regex("
                f"trim(lower(coalesce({c}, ''))), '\\s+'), x -> x <> ''))"
            )

        ta, tb = toks(left), toks(right)
        union = f"len(list_distinct(list_concat({ta}, {tb})))"
        return (
            f"(CASE WHEN {union} = 0 THEN 1.0 "
            f"ELSE len(list_intersect({ta}, {tb}))::DOUBLE / ({union})::DOUBLE "
            f"END)::DOUBLE"
        )
    if comparator == "me":
        # symmetrized Monge-Elkan (see the Column branch): ALL-INTEGER
        # half-up quantization to 1e-6 — round(p/q) = (2p+q) // 2q — with
        # one final double division, so no float round() can diverge
        # between engines
        def toks(c: str) -> str:
            return (
                "list_distinct(list_filter(string_split_regex("
                f"trim(lower(coalesce({c}, ''))), '\\s+'), x -> x <> ''))"
            )

        qsim = (
            "((2 * ((greatest(length(x), length(y)) - levenshtein(x, y))"
            " * 1000000) + greatest(length(x), length(y)))"
            " // (2 * greatest(length(x), length(y))))"
        )

        def qdir(ta: str, tb: str) -> str:
            return (
                f"CAST(list_sum(list_transform({ta}, "
                f"x -> list_max(list_transform({tb}, y -> {qsim})))) AS BIGINT)"
            )

        ta, tb = toks(left), toks(right)
        num = f"({qdir(ta, tb)} * len({tb}) + {qdir(tb, ta)} * len({ta}))"
        den = f"(2 * len({ta}) * len({tb}))"
        me_int = f"CAST((2 * {num} + {den}) // (2 * {den}) AS BIGINT)"
        return (
            f"(CASE WHEN len({ta}) = 0 AND len({tb}) = 0 THEN 1.0 "
            f"WHEN len({ta}) = 0 OR len({tb}) = 0 THEN 0.0 "
            f"ELSE {me_int}::DOUBLE / 1000000.0 "
            f"END)::DOUBLE"
        )
    if comparator in ("p", "y", "q"):
        a = f"try_cast({left} AS DOUBLE)"
        b = f"try_cast({right} AS DOUBLE)"
        diff = f"abs({a} - {b})"
        if comparator == "q":
            return (
                f"(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL AND {diff} = 0 "
                "THEN 1.0 ELSE 0.0 END)::DOUBLE"
            )
        if comparator == "y":
            return (
                f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
                f"WHEN {diff} = 0 THEN 1.0 WHEN {diff} <= 1 THEN 0.75 "
                f"WHEN {diff} <= 2 THEN 0.5 ELSE 0.0 END)::DOUBLE"
            )
        return (
            f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0.0 "
            f"WHEN {diff} = 0 THEN 1.0 WHEN {diff} <= 1 THEN 0.8 "
            f"WHEN {diff} <= 2 THEN 0.6 WHEN {diff} <= 3 THEN 0.4 ELSE 0.0 END)::DOUBLE"
        )
    raise ValueError(f"unknown comparator {comparator!r}")


def swapped_agreement(
    comparator: str,
    rec_a: Column | str,
    rec_b: Column | str,
    mem_a: Column | str,
    mem_b: Column | str,
) -> Column:
    """Transposition-tolerant agreement over a FIELD PAIR: the classic
    census trick for first/last name swaps ("MARIA GARCIA" keyed as
    lastname=MARIA). Scores the straight alignment (a-a, b-b) and the
    crossed one (a-b, b-a) with the given comparator and takes the better
    mean — a swap costs nothing instead of two disagreements.

    The reference's comparators are strictly positional (one field per
    BlockingPass row, `/root/reference/app/BigMatchParmFile.py:434-470`);
    swap tolerance is the standard remedy the engine itself lacks. Pure
    column expression — whole-stage codegen, no UDF, no shuffle.
    """
    return best_alignment(
        similarity(comparator, rec_a, mem_a),
        similarity(comparator, rec_b, mem_b),
        similarity(comparator, rec_a, mem_b),
        similarity(comparator, rec_b, mem_a),
    )


def best_alignment(aa: Column, bb: Column, ab: Column, ba: Column) -> Column:
    """The better mean of the straight and the crossed alignment."""
    return F.greatest((aa + bb) / 2.0, (ab + ba) / 2.0)


def swapped_agreement_sql(
    comparator: str, rec_a: str, rec_b: str, mem_a: str, mem_b: str
) -> str:
    """DuckDB twin of :func:`swapped_agreement`."""
    straight = (
        f"(({similarity_sql(comparator, rec_a, mem_a)}) + "
        f"({similarity_sql(comparator, rec_b, mem_b)})) / 2.0"
    )
    crossed = (
        f"(({similarity_sql(comparator, rec_a, mem_b)}) + "
        f"({similarity_sql(comparator, rec_b, mem_a)})) / 2.0"
    )
    return f"greatest({straight}, {crossed})"
