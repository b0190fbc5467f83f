"""Training-corpus curation operators: leakage-safe splits, benchmark
contamination detection, and intra-document repetition profiling.

These are the steps a large-scale LLM-training-data pipeline runs AFTER
deduplication/linkage (operators/dedup.py, operators/closure.py) has
produced entity/near-dup clusters — the reference engine stops at the
matched-pairs file (`/root/reference/app/MatchReview.py` hands pairs to a
human), so all three are beyond-reference additions in the spirit of its
pipeline: decide what a downstream consumer may safely use.

1. ``leakage_safe_split`` — assign train/val/test at CLUSTER granularity,
   so two near-duplicate documents can never straddle a split (the classic
   train/test-contamination bug when splitting at row granularity).  The
   split is a pure deterministic map over the cluster id (md5-prefix mod
   100), so it is reproducible across runs, engines, and cluster sizes —
   no sampling, no RNG state, no shuffle beyond what clustering already
   paid.

2. ``contamination_report`` — per corpus document, how many of its
   distinct word n-grams also appear anywhere in a benchmark/eval corpus
   (Lee et al. 2022; the n-gram-overlap decontamination used for public
   LLM corpora).  Grams are 48-bit md5-prefix ints (operators/dedup.py's
   oracle-portable hash), so the join shuffles longs, not strings.

3. ``repetition_profile`` — per document, total vs distinct word n-grams
   and the duplicate fraction (the Gopher/MassiveText repetition rules):
   boilerplate and degenerate generations repeat n-grams heavily.  Pure
   map-only projection — no shuffle at all.

At 100 TB: (1) is map-only over the clustered output; (2) shuffles one
long per distinct gram — linear in corpus size, with the benchmark side
typically small enough that AQE picks a broadcast join on its own; (3) is
embarrassingly parallel.  Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _hash64, _hash64_sql, word_shingles

# ---------------------------------------------------------------------------
# 1. leakage-safe split
# ---------------------------------------------------------------------------


def split_bucket(cluster: Column) -> Column:
    """Deterministic 0..99 bucket from the cluster id: md5-prefix of the
    id's string form, mod 100. Same arithmetic as split_bucket_sql."""
    return F.conv(F.substring(F.md5(cluster.cast("string")), 1, 4), 16, 10).cast(
        "long"
    ) % 100


def split_bucket_sql(cluster_expr: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({cluster_expr} AS VARCHAR)), 1, 4)) "
        f"AS BIGINT) % 100"
    )


def leakage_safe_split(
    assignments: DataFrame,
    *,
    cluster_col: str = "cluster_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Append a ``split`` column ('train'/'val'/'test') decided ONLY by the
    cluster id, so every member of a near-dup cluster lands in the same
    split. Map-only; bucket < train_pct -> train, < train+val -> val."""
    b = split_bucket(F.col(cluster_col))
    return assignments.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def leakage_safe_split_sql(
    cluster_expr: str, *, train_pct: int = 80, val_pct: int = 10
) -> str:
    """The split CASE expression for the DuckDB oracle twin."""
    b = split_bucket_sql(cluster_expr)
    return (
        f"CASE WHEN {b} < {train_pct} THEN 'train' "
        f"WHEN {b} < {train_pct + val_pct} THEN 'val' ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# 2. benchmark contamination
# ---------------------------------------------------------------------------


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """(id, n_grams, n_contaminated, contaminated_frac) per corpus doc.

    n_grams counts the doc's DISTINCT word n-grams; n_contaminated counts
    how many of those also occur anywhere in `benchmark`. Documents whose
    text yields no usable gram (empty/whitespace) report 0/0 with a NULL
    fraction rather than vanishing.

    Plan: explode distinct grams (one row per doc-gram), hash to 48-bit
    longs, LEFT SEMI-free left join against the benchmark's distinct gram
    hashes, one groupBy(id). The benchmark side is aggregated to DISTINCT
    before the join, so a gram repeated across benchmark docs can't
    double-count a corpus gram.
    """
    grams = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
    ).filter(F.col("_g") != "")
    grams = grams.select("id", _hash64(F.col("_g")).alias("_h"))
    bench = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("_g")
        )
        .filter(F.col("_g") != "")
        .select(_hash64(F.col("_g")).alias("_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        grams.join(bench, "_h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0))
                / F.when(F.coalesce("n_grams", F.lit(0)) > 0, F.col("n_grams"))
            ).alias("contaminated_frac"),
        )
    )


# ---------------------------------------------------------------------------
# 3. repetition profile
# ---------------------------------------------------------------------------


def _word_ngrams_all(c: Column, n: int) -> Column:
    """ALL word n-grams (duplicates kept — unlike dedup.word_shingles,
    which is distinct by design). Short docs fall back to the whole token
    string, matching the shingle convention."""
    toks = F.filter(F.split(F.trim(c), "\\s+"), lambda x: x != F.lit(""))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(cnt >= n, sh).otherwise(F.array(F.array_join(toks, " ")))


def repetition_profile(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 2
) -> DataFrame:
    """(id, n_grams_total, n_grams_distinct, dup_frac) per document —
    the MassiveText/Gopher 'duplicate n-gram fraction' rule. Map-only:
    the gram array is built, sized, and deduped inside one projection;
    empty docs report 0/0 with NULL dup_frac."""
    grams = _word_ngrams_all(F.col(text_col), n)
    grams = F.filter(grams, lambda x: x != F.lit(""))
    total = F.size(grams).cast("long")
    distinct = F.size(F.array_distinct(grams)).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        total.alias("n_grams_total"),
        distinct.alias("n_grams_distinct"),
        ((total - distinct) / F.when(total > 0, total)).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# 4. deterministic stratified sampling (data mixing)
# ---------------------------------------------------------------------------


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    *,
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum downsample — the data-mixing step that
    rebalances over-represented strata (languages, sources) to target
    proportions.  A row is kept iff its md5-prefix bucket (0..999999 over
    the ID) falls under its stratum's rate; no RNG state, so the sample
    is reproducible across runs, engines, and cluster sizes, and is
    MONOTONE in the rate (raising a stratum's rate only ADDS rows — the
    property that lets a pipeline re-cut mixtures without reshuffling
    what was already selected).  Map-only: no shuffle, no sampleBy RNG.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 1_000_000
    )
    limit = F.lit(int(round(default_rate * 1_000_000)))
    for k, v in rates.items():
        limit = F.when(
            F.col(strata_col) == k, F.lit(int(round(v * 1_000_000)))
        ).otherwise(limit)
    return df.filter(bucket < limit)


def stratified_sample_sql(
    id_expr: str,
    strata_expr: str,
    rates: dict[str, float],
    *,
    default_rate: float = 1.0,
) -> str:
    """The keep-predicate for the DuckDB oracle twin (WHERE clause body)."""
    bucket = (
        f"(CAST(('0x' || substring(md5(CAST({id_expr} AS VARCHAR)), 1, 6)) "
        f"AS BIGINT) % 1000000)"
    )
    cases = " ".join(
        f"WHEN {strata_expr} = '{k}' THEN {int(round(v * 1_000_000))}"
        for k, v in rates.items()
    )
    limit = f"(CASE {cases} ELSE {int(round(default_rate * 1_000_000))} END)"
    return f"{bucket} < {limit}"


# ---------------------------------------------------------------------------
# 5. PII detection + redaction
# ---------------------------------------------------------------------------

#: (name, pattern, replacement-token). Patterns are restricted to the
#: regex subset Java (Spark) and RE2 (DuckDB) evaluate IDENTICALLY — no
#: lookaround, no backreferences, no possessive quantifiers; \b/\d/{m,n}
#: and greedy quantifiers have the same leftmost-first semantics in both
#: engines for these patterns. ORDER MATTERS and is part of the contract:
#: each category counts/replaces on the text as scrubbed by the previous
#: ones (email first so its digits never double-count as phones; the
#: digit-run phone pattern last as the catch-all).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str = "text_scrubbed",
    count_prefix: str = "n_",
) -> DataFrame:
    """Redact PII spans and count them, in one map-only projection.

    The standard pre-release curation stage (emails / IPv4 / SSN-shaped
    ids / phone-shaped digit runs → fixed tokens). Every category adds a
    ``n_<name>`` count column (matches found in the progressively
    scrubbed text) and the final ``out_col`` holds the fully scrubbed
    text. Pure codegen ``regexp_count``/``regexp_replace`` chain: no
    shuffle, no UDF, whole-stage-codegen end to end — at 100 TB this is
    scan-bound like every other map-only stage.

    Precision/recall of the patterns is the usual regex-PII tradeoff
    (phone-shaped catches year lists too); the point here is the
    deterministic, engine-portable plumbing — swap patterns per policy.
    The reference has no PII surface at all (its review GUI shows raw
    fields: /root/reference/app/MatchReview.py); this is a
    beyond-reference addition for the training-data pipeline.
    """
    d = df
    cur = F.col(text_col)
    for name, pat, tok in PII_PATTERNS:
        d = d.withColumn(f"{count_prefix}{name}", F.regexp_count(cur, F.lit(pat)))
        d = d.withColumn(f"_pii_{name}", F.regexp_replace(cur, pat, tok))
        cur = F.col(f"_pii_{name}")
    d = d.withColumn(out_col, cur)
    return d.drop(*[f"_pii_{name}" for name, _, _ in PII_PATTERNS])


def pii_scrub_sql(
    source_sql: str,
    text_col: str,
    *,
    out_col: str = "text_scrubbed",
    count_prefix: str = "n_",
) -> str:
    """Oracle twin of :func:`pii_scrub` (DuckDB RE2): the identical
    pattern chain via len(regexp_extract_all(...)) counts and global
    regexp_replace. Nested CTEs mirror the sequential-scrub semantics."""
    ctes = [f"pii0 AS (SELECT *, {text_col} AS _pii_t0 FROM ({source_sql}))"]
    prev = "_pii_t0"
    for i, (name, pat, tok) in enumerate(PII_PATTERNS):
        nxt = f"_pii_t{i + 1}"
        ctes.append(
            f"pii{i + 1} AS (SELECT *, "
            f"len(regexp_extract_all({prev}, '{pat}')) AS {count_prefix}{name}, "
            f"regexp_replace({prev}, '{pat}', '{tok}', 'g') AS {nxt} "
            f"FROM pii{i})"
        )
        prev = nxt
    n = len(PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * EXCLUDE ("
        + ", ".join(f"_pii_t{i}" for i in range(n + 1))
        + f"), {prev} AS {out_col} FROM pii{n}"
    )


#: SPDX-ish license detection patterns, ordered by specificity — FIRST
#: match wins. Kept RE2-safe (no lookaround/backrefs) so Spark's Java
#: regex and DuckDB's RE2 agree — the pii_scrub portability discipline.
LICENSE_PATTERNS: tuple[tuple[str, str], ...] = (
    ("Apache-2.0", r"apache license,? version 2\.0|licensed under the apache license"),
    ("MIT", r"permission is hereby granted, free of charge|mit license"),
    ("GPL-3.0", r"gnu general public license.{0,60}version 3|gplv3"),
    ("GPL-2.0", r"gnu general public license.{0,60}version 2|gplv2"),
    ("BSD-3-Clause", r"redistribution and use in source and binary forms"),
    ("MPL-2.0", r"mozilla public license.{0,30}2\.0"),
)


def license_detect(c: Column) -> Column:
    """SPDX-ish license id of a source file's text ('none' when no
    pattern fires). First match in LICENSE_PATTERNS order wins — the
    order resolves dual-license headers deterministically. Pure codegen
    CASE chain over rlike on the lowercased text: map-only, scan-bound
    at any corpus size.

    A training-data pipeline over source code (the input_hint's repo
    table) gates on this: permissive-only corpora drop GPL/MPL files.
    Pattern recall is the usual header-regex tradeoff — licenses
    referenced by bare URL are missed; swap patterns per policy."""
    t = F.lower(c)
    expr = F.lit("none")
    for name, pat in reversed(LICENSE_PATTERNS):
        expr = F.when(t.rlike(pat), F.lit(name)).otherwise(expr)
    return expr


def license_detect_sql(expr: str) -> str:
    """DuckDB twin of license_detect (regexp_matches is RE2; the
    patterns are written to the common subset)."""
    cases = " ".join(
        f"WHEN regexp_matches(lower({expr}), '{pat}') THEN '{name}'"
        for name, pat in LICENSE_PATTERNS
    )
    return f"CASE {cases} ELSE 'none' END"


def license_histogram(
    df: DataFrame, text_col: str = "text", by: str | None = "lang"
) -> DataFrame:
    """(license[, by], n_docs) — the corpus license census. One map-only
    detection pass + one map-side-combined groupBy."""
    d = df.withColumn("license", license_detect(F.col(text_col)))
    keys = ["license"] + ([by] if by else [])
    return d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# 7. per-group quota cap (skew-safe deterministic top-N per domain/source)
# ---------------------------------------------------------------------------


def quota_cap(
    df: DataFrame,
    id_col: str,
    group_col: str,
    cap: int,
    *,
    quality_col: str | None = None,
    salt: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` rows per group (domain, source repo, crawl
    host), the best-first quota sampling every web-corpus mixing recipe
    applies so one giant domain cannot dominate the training mix.

    Rows are ranked inside each group by (quality DESC NULLS LAST,
    id ASC) — a deterministic total order when ids are unique — and the
    first ``cap`` survive, emitted with their 1-based ``quota_rank``.
    Without ``quality_col`` the order is id ASC alone (oldest/lowest-id
    wins, still deterministic).

    Scale path: a single ``row_number`` window partitioned by group is
    one shuffle, but a mega-group (a 10^9-row domain in a web crawl)
    lands on ONE task — windows do not split under AQE skew handling.
    So this runs the classic two-phase salted top-N: phase 1 ranks
    within (group, hash(id) % salt) and keeps ``cap`` per salted subgroup —
    map-reducible, bounding any group's survivors to ``salt * cap``
    rows — and phase 2 ranks the tiny survivor frame exactly. Phase 1
    keeps a superset of the true per-group top-``cap`` (every global
    top-``cap`` row is within the top ``cap`` of its own salt slice),
    so the result is IDENTICAL to the single-window plan; the oracle
    twin (``quota_cap_sql``) is that single-window formulation.

    Beyond-reference addition (the reference's pipeline stops at matched
    pairs, `/root/reference/app/MatchReview.py`); quota capping is the
    corpus-mixing stage downstream of entity resolution.
    """
    from pyspark.sql.window import Window

    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    order = (
        [F.desc_nulls_last(quality_col)] if quality_col else []
    ) + [F.asc(id_col)]
    # a hash spreads ids of any type over the slices (a long cast of a
    # string id raises under ANSI, or is NULL for every row without it)
    sliced = Window.partitionBy(
        F.col(group_col), _hash64(F.col(id_col).cast("string")) % salt
    ).orderBy(*order)
    phase1 = df.withColumn("_qr1", F.row_number().over(sliced)).filter(
        F.col("_qr1") <= cap
    )
    exact = Window.partitionBy(group_col).orderBy(*order)
    return (
        phase1.withColumn("quota_rank", F.row_number().over(exact))
        .filter(F.col("quota_rank") <= cap)
        .drop("_qr1")
    )


def quota_cap_sql(
    table: str,
    id_expr: str,
    group_expr: str,
    cap: int,
    *,
    quality_expr: str | None = None,
    cols: str = "*",
) -> str:
    """DuckDB oracle twin: the plain single-window ROW_NUMBER plan the
    salted operator is provably equivalent to. Null ordering rendered
    explicitly (DESC NULLS LAST) — Spark and DuckDB defaults differ."""
    order = (
        f"{quality_expr} DESC NULLS LAST, {id_expr} ASC"
        if quality_expr
        else f"{id_expr} ASC"
    )
    return (
        f"SELECT * FROM (SELECT {cols}, ROW_NUMBER() OVER "
        f"(PARTITION BY {group_expr} ORDER BY {order}) AS quota_rank "
        f"FROM {table}) WHERE quota_rank <= {cap}"
    )


# ---------------------------------------------------------------------------
# 8. cross-document frequent-line excision (RefinedWeb/CCNet line dedup)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_df: int = 10,
) -> DataFrame:
    """Remove every line that appears verbatim in >= ``min_df`` distinct
    documents — the line-level dedup step of the CCNet/RefinedWeb
    pipelines that strips navigation chrome, cookie banners, and license
    footers which whole-doc and span-level dedup both miss (the line
    recurs across MILLIONS of docs but is a tiny fraction of each).

    Emits (doc_id, clean_text, n_lines, n_removed): surviving lines
    rejoined with NEWLINE in original order; a document whose every line
    is boilerplate keeps a row with clean_text = '' (no silent row loss —
    the golden_record lesson), and so does a NULL-text document (read as
    one blank line). Blank lines are never counted or removed.

    Plan: posexplode lines (map-only), one groupBy on the md5-prefix
    line hash counting DISTINCT docs (linear in total lines, map-side
    combined), semi-join of the frequent set back onto the line stream,
    one groupBy(doc) to reassemble via sort_array(collect_list(struct))
    — deterministic order, no window. At 100 TB the frequent-line set
    is tiny by construction (each member appears >= min_df times), so
    AQE broadcasts the anti-join side; the two line-stream shuffles are
    the irreducible cost of exact line-level dedup.
    """
    lines = df.select(
        F.col(id_col).alias("_ld_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_pos", "_ln"),
    ).withColumn("_h", _hash64(F.col("_ln")))
    counted = (
        lines.filter(F.trim(F.col("_ln")) != "")
        .groupBy("_h")
        .agg(F.countDistinct("_ld_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h")
    )
    flagged = lines.join(counted, "_h", "left_semi").select(
        "_ld_id", "_pos"
    ).withColumn("_rm", F.lit(1))
    merged = (
        lines.join(flagged, ["_ld_id", "_pos"], "left")
        .groupBy("_ld_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.coalesce(F.col("_rm"), F.lit(0))).alias("n_removed"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull(),
                                F.struct(
                                    F.col("_pos").alias("pos"),
                                    F.col("_ln").alias("ln"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["ln"],
                ),
            ).alias("clean_text"),
        )
        .select(
            F.col("_ld_id").alias("doc_id"),
            "clean_text",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
    )
    return merged


def line_dedup_sql(
    table: str,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    *,
    min_df: int = 10,
) -> str:
    """DuckDB twin: zipped unnest for (pos, line), HAVING count(DISTINCT)
    for the frequent set, string_agg(... ORDER BY pos) to reassemble.
    collect_list drops the NULL structs Spark's when() emits for removed
    lines, so the FILTER clause here is the exact mirror."""
    h = _hash64_sql("_ln")
    return f"""
        WITH ld_lines AS (
            SELECT {id_expr} AS _id,
                   unnest(range(1, len(string_split(
                       COALESCE({text_expr}, ''), chr(10))) + 1)) AS _pos,
                   unnest(string_split(COALESCE({text_expr}, ''), chr(10))) AS _ln
            FROM {table}
        ),
        ld_freq AS (
            SELECT {h} AS _h FROM ld_lines
            WHERE trim(_ln) <> ''
            GROUP BY 1 HAVING count(DISTINCT _id) >= {min_df}
        ),
        ld_mark AS (
            SELECT _id, _pos, _ln,
                   ({h} IN (SELECT _h FROM ld_freq)) AS _rm
            FROM ld_lines
        )
        SELECT _id AS doc_id,
               COALESCE(
                   string_agg(_ln, chr(10) ORDER BY _pos)
                       FILTER (WHERE NOT _rm), '') AS clean_text,
               count(*) AS n_lines,
               CAST(sum(CASE WHEN _rm THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed
        FROM ld_mark GROUP BY _id
    """
