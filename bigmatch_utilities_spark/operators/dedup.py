"""Deduplication operators for large-scale text/training-data pipelines.

All of these are expressed as declarative DataFrame plans (hash-groupBy,
array functions, band-bucket self-joins) so Catalyst owns the physical
strategy; the hash functions are md5-prefix based so the exact same values
are computable in ANSI/DuckDB SQL for the correctness oracle.

Scale notes: every family reduces the O(N^2) pair space to hash-bucket
blocks before any pairwise work; bucket joins shuffle on the bucket key
only; `id_l < id_r` canonicalization halves pair output and removes
self-pairs everywhere.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import BlockField, BlockingPassSpec
from bigmatch_utilities_spark.operators.blocking import candidate_pairs


@contextmanager
def lsh_cache():
    """Scoped cache handle for the LSH candidate families: every frame an
    operator persists inside the block is unpersisted on exit, success or
    failure. The one-liner opt-in to band caching:

        with lsh_cache() as caches:
            n = minhash_candidates(df, "text", "id", cache_handle=caches).count()
    """
    handle: list = []
    try:
        yield handle
    finally:
        for df in handle:
            df.unpersist()


def _hash64(c: Column) -> Column:
    """Deterministic 48-bit hash from md5 hex (oracle-computable: DuckDB
    md5() produces identical hex). 12 hex chars keep the value far from
    BIGINT overflow even after arithmetic."""
    return F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("long")


def _hash64_sql(expr: str) -> str:
    """DuckDB rendering of the same value (verified identical)."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 12)) AS BIGINT)"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Groups of byte-identical values: (content_sha, n_dups, min_id) per
    duplicated content — the hash-groupBy exact pass."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of each identical-content group.

    Shape: ``groupBy(sha).agg(min(id))`` + semi-join — a map-side-combined
    aggregation plus an equi-join, never a whole-row window sort (the
    min-struct argmax discipline used across the repo; a window here would
    add a per-partition sort of every row on the big side for no gain).
    """
    sha = F.sha2(F.col(text_col), 256)
    tagged = df.withColumn("_sha", sha)
    keep = tagged.groupBy("_sha").agg(F.min(F.col(id_col)).alias(id_col))
    return tagged.join(keep, on=["_sha", id_col], how="left_semi").drop("_sha")


# ---------------------------------------------------------------------------
# shingling + MinHash LSH
# ---------------------------------------------------------------------------


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams as an array<string> (whitespace tokenized)."""
    toks = F.filter(F.split(F.trim(c), "\\s+"), lambda x: x != F.lit(""))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )
    # short docs (< k tokens): fall back to the whole token string
    return F.array_distinct(
        F.when(n >= k, sh).otherwise(F.array(F.array_join(toks, " ")))
    )


#: affine min-hash family over the base md5-prefix hash:
#: h_i(s) = (a_i * h(s) + b_i) mod MERSENNE61. h < 2^48 and a_i < 2^12 keep
#: the product inside int64. Identical arithmetic runs in DuckDB BIGINT.
MERSENNE61 = (1 << 61) - 1


def _affine(i: int, h: Column) -> Column:
    a, b = 2 * i + 1, (i + 1) * 12345
    return F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE61))


def _affine_sql(i: int, h: str) -> str:
    a, b = 2 * i + 1, (i + 1) * 12345
    return f"(({a} * {h} + {b}) % {MERSENNE61})"


def minhash_signature_df(
    df: DataFrame, text_col: str, id_col: str, *, shingle_k: int, num_hashes: int
) -> DataFrame:
    """(id, s0..s{n-1}): explode shingles → base hash once per shingle →
    one groupBy(id) computing every min — a single shuffle regardless of
    signature width; the hot path stays in whole-stage codegen."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_s"),
    ).withColumn("_h", _hash64(F.col("_s")))
    aggs = [F.min(_affine(i, F.col("_h"))).alias(f"s{i}") for i in range(num_hashes)]
    return sh.groupBy("id").agg(*aggs)


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, band_key): one row per band; candidate pairs share
    (band, band_key). band_key concatenates the band's minhash rows."""
    sig = minhash_signature_df(
        df, text_col, id_col, shingle_k=shingle_k, num_hashes=bands * rows_per_band
    )
    pairs = []
    for b in range(bands):
        key = F.concat_ws(
            "_",
            *[
                F.col(f"s{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        pairs.append(F.struct(F.lit(b).alias("band"), key.alias("band_key")))
    return sig.select(
        "id", F.explode(F.array(*pairs)).alias("_bk")
    ).select("id", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key"))


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    max_bucket: int | None = 1000,
    shard_rows: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_l < id_r, distinct across bands).

    The band-bucket self-join is the scale path: operators.blocking.
    candidate_pairs blocks on (band, band_key); `max_bucket` caps
    degenerate buckets (boilerplate). `shard_rows` spreads a hot bucket's
    quadratic pair output over ceil(n/shard_rows) join tasks (adaptive
    salting) — a 1000-row bucket is ~KBs into the join but 500k pairs out,
    invisible to AQE's byte-based skew split.

    `cache_handle`: WHEN SUPPLIED, the bands frame is persisted (it feeds
    the bucket self-join's one window, and the signature job is the
    family's most expensive map stage) and appended to the list; the
    caller unpersists after materializing — `lsh_cache()` scopes that in
    one line. A bare call (cache_handle=None) does NOT persist: it
    recomputes the bands per consumer rather than leak a cache entry that
    would otherwise live until session end (the result is lazy, so this
    function can never know when materialization happened)."""
    b = minhash_bands(
        df, text_col, id_col, shingle_k=shingle_k, bands=bands, rows_per_band=rows_per_band
    )
    # the string band_key only matters as a grouping key — fold it to a
    # long so the bucket shuffle moves 8-byte keys, not ~60-byte concats
    # (collision odds across ~|buckets| keys are ~|buckets|²/2^65: nil).
    b = b.select("id", "band", F.xxhash64("band_key").alias("band_key"))
    if cache_handle is not None:
        b = b.persist()
        cache_handle.append(b)
    return _bucket_pairs(b, max_bucket=max_bucket, shard_rows=shard_rows)


def _bucket_pairs(
    b: DataFrame, *, max_bucket: int | None, shard_rows: int | None
) -> DataFrame:
    """(id, band, band_key) rows → distinct candidate pairs (id_l < id_r).

    Every LSH family (MinHash, SimHash, embedding sign buckets, SemDeDup
    cells) blocks through the one self-join of
    `operators.blocking.candidate_pairs`, with (band, band_key) as the
    block key: one window gives each bucket's size, singleton buckets are
    dropped before the join (they can't pair), `max_bucket` caps
    degenerate buckets (a hot bucket's pair output is quadratic in its
    size, and AQE's byte-based skew split can't see output-side blowup),
    and `shard_rows` spreads a kept-but-hot bucket's pair output over
    ceil(n/shard_rows) join tasks. A pair sharing several bands is one
    row.
    """
    spec = BlockingPassSpec(
        block_fields=(
            BlockField(name="band", blank_flag=0),
            BlockField(name="band_key", blank_flag=0),
        ),
        match_fields=(),
    )
    pairs = candidate_pairs(
        b, b, spec, "id", dedupe=True, max_block_rows=max_bucket,
        shard_rows=shard_rows, carry=[],
    )
    return pairs.select(
        F.col("id_rec").alias("id_l"), F.col("id_mem").alias("id_r")
    ).distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact word-shingle Jaccard for candidate pairs → near-duplicate
    verdicts. Joins shingle arrays to both sides; set ops are JVM built-ins."""
    sh = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    out = (
        candidates.join(sh.withColumnRenamed("id", "id_l").withColumnRenamed("sh", "sh_l"), "id_l")
        .join(sh.withColumnRenamed("id", "id_r").withColumnRenamed("sh", "sh_r"), "id_r")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_l", "sh_r"))
            / F.size(F.array_union("sh_l", "sh_r")),
        )
        .select("id_l", "id_r", F.col("jaccard").cast("double").alias("jaccard"))
    )
    return out.filter(F.col("jaccard") >= threshold)


def near_dedup_keep(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    shard_rows: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """The full near-dedup pipeline as one call: MinHash-LSH candidates →
    shingle-Jaccard verification → connected components over verified
    pairs → keep the min-id representative of every near-dup cluster (and
    every document in no cluster). Returns the KEPT rows of `df` — the
    table a training-data pipeline feeds downstream.

    Every stage is the guarded scale path (bucket caps, shard salting,
    large/small-star closure); `cache_handle` follows the
    `minhash_candidates` contract."""
    from bigmatch_utilities_spark.operators.closure import connected_components

    cands = minhash_candidates(
        df,
        text_col,
        id_col,
        shingle_k=shingle_k,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket=max_bucket,
        shard_rows=shard_rows,
        cache_handle=cache_handle,
    )
    verified = jaccard_pairs(
        df, cands, text_col, id_col, shingle_k=shingle_k, threshold=threshold
    )
    comps = connected_components(verified, src="id_l", dst="id_r")
    # cluster_id = min member id, so non-representatives are exactly the
    # members whose id differs from their cluster id
    drop = comps.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(c: Column, bits: int = 32) -> Column:
    """SimHash over word tokens: bit b of the fingerprint is the sign of
    Σ_tokens (±1 by token-hash bit b). Array arithmetic, no UDF.

    Single traversal: ONE ``aggregate`` over the token-hash array carries an
    array of `bits` counters (each token's ±1 contributions merged with
    ``zip_with``), instead of `bits` separate codegen'd array scans — the
    map cost is O(tokens × bits) either way, but the array is read once and
    the whole expression stays in one whole-stage-codegen span."""
    toks = F.array_distinct(F.filter(F.split(F.trim(c), "\\s+"), lambda x: x != F.lit("")))
    h = F.transform(toks, _hash64)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counters = F.aggregate(
        h,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda b: F.when(F.getbit(x, b) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, cb: a + cb,
        ),
    )
    # fold the counter signs into the fingerprint long. pow(2.0, b) is exact
    # for b ≤ 52 (binary powers are representable), so the cast is lossless.
    weighted = F.zip_with(
        counters,
        idx,
        lambda cnt, b: F.when(cnt > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Full-fingerprint Hamming verification for SimHash LSH candidates —
    the SimHash analog of `jaccard_pairs`. A chunk-collision candidate
    only proves ONE `bits/block_bits`-bit chunk agrees (256 possible
    values per 8-bit chunk: unrelated docs collide constantly at corpus
    scale); feeding raw candidates into transitive closure would merge
    the corpus into giant clusters. Verification recomputes both full
    fingerprints and keeps pairs with `bit_count(xor) <= max_hamming` —
    per-candidate work only, JVM bit arithmetic, no UDF."""
    sh = df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")
    )
    return (
        candidates.join(sh.toDF("id_l", "sh_l"), "id_l")
        .join(sh.toDF("id_r", "sh_r"), "id_r")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_l", "id_r", "hamming")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bits: int = 32,
    block_bits: int = 4,
    max_bucket: int | None = 1000,
    shard_rows: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Near-dup candidates: split the fingerprint into `block_bits` chunks;
    docs agreeing on any chunk are candidates (Hamming-LSH).

    Same scale guardrails as `minhash_candidates` (`_bucket_pairs`): a hot
    chunk value — short/boilerplate docs collapsing to the same 8-bit chunk
    — would otherwise make one join task emit O(n²) pairs that AQE's
    byte-based skew split can't see. With a `cache_handle` the band frame
    is persisted (it feeds the bucket self-join's one window; recomputing
    it re-runs the tokenise+hash scan, the family's most expensive map
    stage); see `minhash_candidates` for the `cache_handle` contract."""
    sh = df.select(F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh"))
    chunk = bits // block_bits
    # one fingerprint computation per row, exploded into block_bits band
    # rows — NOT a union of per-band selects, which would re-run the
    # tokenise+hash+simhash expression once per band.
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sh"), b * chunk)
                .bitwiseAND(F.lit((1 << chunk) - 1))
                .alias("band_key"),
            )
            for b in range(block_bits)
        ]
    )
    allb = (
        sh.select("id", F.explode(bands_arr).alias("_bk"))
        .select("id", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key"))
    )
    if cache_handle is not None:
        allb = allb.persist()
        cache_handle.append(allb)
    return _bucket_pairs(allb, max_bucket=max_bucket, shard_rows=shard_rows)


def near_dedup_keep_by(
    df: DataFrame,
    text_col: str,
    id_col: str,
    priority_col: str,
    *,
    shingle_k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    max_bucket: int | None = 1000,
    shard_rows: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """:func:`near_dedup_keep` with PRIORITY-based survivor election: per
    near-dup cluster keep the member maximizing `priority_col` (a numeric
    column of `df` — e.g. textanalysis.quality_score), ties broken by
    smallest id.  min-id keep is the right default for determinism, but a
    training pipeline usually wants the BEST copy of a near-dup family —
    the longest/cleanest page, not the lexically-first crawl.

    The election is a map-side-combined ``groupBy(cluster).agg(min(
    struct(-priority, id)))`` — one extra shuffle on the O(clustered)
    frame, never a window over the full table.  Unclustered documents
    (no verified near-dup edge) are kept unconditionally, exactly as in
    near_dedup_keep.
    """
    from bigmatch_utilities_spark.operators.closure import connected_components

    cands = minhash_candidates(
        df,
        text_col,
        id_col,
        shingle_k=shingle_k,
        bands=bands,
        rows_per_band=rows_per_band,
        max_bucket=max_bucket,
        shard_rows=shard_rows,
        cache_handle=cache_handle,
    )
    verified = jaccard_pairs(
        df, cands, text_col, id_col, shingle_k=shingle_k, threshold=threshold
    )
    comps = connected_components(verified, src="id_l", dst="id_r")
    prio = df.select(
        F.col(id_col).alias("id"), F.col(priority_col).alias("_prio")
    )
    elected = (
        comps.join(prio, "id")
        .groupBy("cluster_id")
        .agg(F.min(F.struct((-F.col("_prio")).alias("np"), F.col("id").alias("id"))).alias("_e"))
        .select(F.col("_e.id").alias("id"))
    )
    # drop = clustered members that were NOT elected
    drop = comps.select("id").join(elected, "id", "left_anti").select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
