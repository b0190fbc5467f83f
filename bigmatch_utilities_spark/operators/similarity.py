"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: a blocked cross join
  with JVM-side `aggregate`/`zip_with` dot products;
* sign-LSH bucketed ANN — the scale path: bucket on the sign pattern of a
  fixed dimension subset (deterministic, SQL-twinned), search within
  buckets only.

At 10^12 rows brute force is only viable per-query (broadcast the query
set); the LSH variant turns the shuffle into a bucket-key equi-join.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin. list_cosine_similarity matches the same formula."""
    return (
        f"(CASE WHEN list_dot_product({a},{a}) > 0 AND list_dot_product({b},{b}) > 0 "
        f"THEN list_cosine_similarity({a}, {b}) ELSE 0.0 END)"
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set,
    score every vector, window-rank per query. Excludes self-matches."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = vectors.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = scored.withColumn("score", cosine(F.col(vec_col), F.col("_qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def sign_bucket(vec: Column, n_bits: int = 8) -> Column:
    """LSH bucket id: sign bits of the first n_bits dimensions. Fixed
    hyperplanes (axis-aligned) keep it deterministic and SQL-computable;
    random-hyperplane LSH plugs in the same shape."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def sign_bucket_sql(vec: str, n_bits: int = 8) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"CAST(({terms}) AS INT)"


def rh_signs(n_bits: int, dim: int, seed: int = 7) -> list[list[int]]:
    """Seeded Rademacher (±1) hyperplanes for sign-LSH. Generated driver-side
    and embedded as literals in both the Spark plan and the SQL twin, so the
    hash family is deterministic and engine-independent."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n_bits)]


#: quantization scale for the hyperplane dot product: embeddings are scaled
#: and floored to integers first so the dot product is EXACT integer
#: arithmetic — identical in Spark and any SQL oracle, with no
#: floating-point-accumulation-order hazard at the sign boundary.
RH_SCALE = 1000


def rh_bucket(
    vec: Column, n_bits: int, dim: int, seed: int = 7, offset: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id: bit b = sign of <quantize(vec), r_b>
    with r_b a seeded ±1 hyperplane. `offset` selects a disjoint hyperplane
    block so multiple bands draw independent hyperplanes from one seed."""
    signs = rh_signs(offset + n_bits, dim, seed)[offset:]
    q = F.transform(vec, lambda x: F.floor(x.cast("double") * RH_SCALE))
    out = None
    for b, sv in enumerate(signs):
        sv_col = F.array(*[F.lit(s).cast("long") for s in sv])
        dot = F.aggregate(
            F.zip_with(q, sv_col, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


def rh_bucket_sql(
    vec: str, n_bits: int, dim: int, seed: int = 7, offset: int = 0
) -> str:
    """DuckDB twin of `rh_bucket` — same hyperplanes, same integer math."""
    signs = rh_signs(offset + n_bits, dim, seed)[offset:]
    terms = []
    for b, sv in enumerate(signs):
        lit = "[" + ",".join(str(s) for s in sv) + "]"
        # CAST to DOUBLE before scaling: DuckDB would otherwise multiply in
        # FLOAT (FLOAT * INT stays FLOAT) while rh_bucket casts to double
        # first, and floor() can disagree at quantization boundaries
        # (float32 0.123999998 * 1000 → 124.0 in FLOAT, 123.999... in
        # DOUBLE). Matching precision keeps the integer dots engine-exact.
        dot = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(floor(CAST({vec}[i] AS DOUBLE) * {RH_SCALE}) AS BIGINT) * ({lit})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INT)"


def embedding_neardup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_bands: int = 2,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
    max_bucket: int | None = 10_000,
    shard_rows: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-LSH blocked.

    The scale path for all-pairs near-dup at 10^9+ vectors: `n_bands`
    independent random-hyperplane bands (any-band collision ⇒ candidate, so
    recall compounds across bands exactly like MinHash banding), then the
    bucket self-join every LSH family shares (`operators.blocking.
    candidate_pairs` on (band, band_key)) — singleton drop, `max_bucket`
    cap on degenerate buckets (a popular embedding region would otherwise
    go quadratic inside one join task), `shard_rows` salting for hot kept
    buckets. Exact cosine verifies every candidate; `threshold` filters.

    See `operators.dedup.minhash_candidates` for the `cache_handle`
    contract: the banded frame feeds the self-join's one window, so
    supplying a handle (e.g. `lsh_cache()`) persists it; bare calls
    recompute instead of leaking a cache entry."""
    from bigmatch_utilities_spark.operators.dedup import _bucket_pairs

    v = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
        *[
            rh_bucket(
                F.col(vec_col), bits_per_band, dim, seed, offset=b * bits_per_band
            ).alias(f"_bkt{b}")
            for b in range(n_bands)
        ],
    )
    bands_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"_bkt{b}").alias("band_key"))
            for b in range(n_bands)
        ]
    )
    b = (
        v.select("id", F.explode(bands_arr).alias("_bk"))
        .select("id", F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key"))
    )
    if cache_handle is not None:
        b = b.persist()
        cache_handle.append(b)
    cands = _bucket_pairs(b, max_bucket=max_bucket, shard_rows=shard_rows)
    side = v.select("id", "emb")
    return (
        cands.join(side.toDF("id_l", "emb_l"), "id_l")
        .join(side.toDF("id_r", "emb_r"), "id_r")
        .withColumn("score", F.round(cosine(F.col("emb_l"), F.col("emb_r")), 6))
        .filter(F.col("score") >= F.lit(threshold))
        .select("id_l", "id_r", "score")
    )


def rh_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    *,
    n_bands: int = 2,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
    score_round: int | None = None,
) -> DataFrame:
    """Approximate top-k with banded random-hyperplane LSH — the
    recall-corrected scale path (axis-aligned `lsh_topk` below is the
    simpler legacy variant): a vector is a candidate for a query if they
    collide in ANY of `n_bands` independent hyperplane bands, so recall
    compounds per band exactly like MinHash banding; candidates are
    deduped before the (exact cosine) scoring + ranking.

    `score_round`: round the cosine BEFORE ranking (cross-engine
    comparisons need identical tie-breaking — raw float sums differ in
    the last ulp between engines); None ranks on the full-precision
    score."""

    def banded(df: DataFrame, idc: str) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    rh_bucket(
                        F.col(vec_col), bits_per_band, dim, seed,
                        offset=b * bits_per_band,
                    ).alias("band_key"),
                )
                for b in range(n_bands)
            ]
        )
        return df.select(F.col(idc), F.explode(arr).alias("_bk")).select(
            idc, F.col("_bk.band").alias("band"), F.col("_bk.band_key").alias("band_key")
        )

    vb = banded(vectors, id_col)
    qb = banded(queries, query_id_col)
    cands = (
        vb.join(F.broadcast(qb), ["band", "band_key"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .distinct()
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    score = cosine(F.col(vec_col), F.col("_qvec"))
    if score_round is not None:
        score = F.round(score, score_round)
    scored = (
        cands.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn("score", score)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def ivf_pivots(
    vectors: DataFrame, n_pivots: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-quantizer pivots: the `n_pivots` vectors with
    the smallest md5(id) — a seeded uniform sample that any engine can
    reproduce (classic IVF trains k-means centroids; hash-sampled pivots
    trade a little cell balance for exact cross-engine determinism, and a
    Lloyd refinement can be layered on the same assignment plan)."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    return (
        vectors.select(
            F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pivot_vec"), h.alias("_h")
        )
        .orderBy("_h", "pivot_id")
        .limit(n_pivots)
        .drop("_h")
    )


def _cell_ranked(
    side: DataFrame, pivots: DataFrame, idc: str, vec_col: str
) -> DataFrame:
    """(id, pivot_id, rank) — pivots ranked per row by rounded cosine
    (6dp, ties → pivot_id): rank ≤ nprobe are the probe cells. The pivot
    table is broadcast (it is k rows by design). Window rank is reserved
    for the SMALL query/probe side, which genuinely needs top-n; the big
    vector side uses `_nearest_cell` (map-side argmax, no sort)."""
    sim = F.round(cosine(F.col(vec_col), F.col("pivot_vec")), 6)
    scored = side.crossJoin(F.broadcast(pivots)).select(
        F.col(idc), F.col("pivot_id"), sim.alias("_sim")
    )
    w = Window.partitionBy(idc).orderBy(F.col("_sim").desc(), F.col("pivot_id"))
    return scored.withColumn("rank", F.row_number().over(w))


def _nearest_cell(
    side: DataFrame, pivots: DataFrame, idc: str, vec_col: str
) -> DataFrame:
    """(id, cell) — each row's argmax pivot by rounded cosine (6dp, ties →
    smallest pivot_id): identical semantics to `_cell_ranked` rank==1, but
    as a pure map-side projection. The k pivots are collapsed into ONE
    broadcast array row; per input row, `array_min` over
    struct(-sim, pivot_id) picks the nearest pivot lexicographically —
    no shuffle, no sort, no aggregation on the N×k frame (the windowed
    version exchanged and sorted N×n_pivots rows just to take an argmax).
    """
    pivs = pivots.agg(
        F.collect_list(F.struct("pivot_id", "pivot_vec")).alias("_pivs")
    )
    best = F.array_min(
        F.transform(
            F.col("_pivs"),
            lambda p: F.struct(
                (F.lit(0.0) - F.round(cosine(F.col(vec_col), p["pivot_vec"]), 6)).alias(
                    "_neg_sim"
                ),
                p["pivot_id"].alias("pivot_id"),
            ),
        )
    )
    return side.crossJoin(F.broadcast(pivs)).select(
        F.col(idc), best.getField("pivot_id").alias("cell")
    )


def ivf_refined_pivots(
    vectors: DataFrame,
    n_pivots: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    iterations: int = 2,
) -> DataFrame:
    """Lloyd-refined coarse quantizer: start from the hash-sampled pivots
    and run `iterations` k-means steps — assign every vector to its
    nearest pivot, replace each pivot with its cell's mean vector. Each
    iteration is ONE shuffle (posexplode → groupBy(cell, pos) avg →
    re-assemble), and the pivot table never exceeds k rows, so it stays
    broadcastable at any corpus size. Empty cells keep their old pivot.

    Refined pivots cut quantization error vs raw sampling (tested), which
    tightens cells and lifts recall at the same nprobe. They are NOT
    cross-engine deterministic like `ivf_pivots` (float mean order), so
    the oracle-checked query path keeps the sampled pivots; production
    recall-sensitive paths plug this in via ivf_topk(pivots=...)."""
    pivots = ivf_pivots(vectors, n_pivots, id_col, vec_col)
    for _ in range(iterations):
        cells = _nearest_cell(vectors, pivots, id_col, vec_col)
        means = (
            vectors.join(cells, id_col)
            .select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mean_vec")
            )
        )
        pivots = (
            pivots.join(means, pivots.pivot_id == means.cell, "left")
            .select(
                "pivot_id",
                F.coalesce("mean_vec", "pivot_vec").alias("pivot_vec"),
            )
        )
    return pivots


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    *,
    n_pivots: int = 16,
    nprobe: int = 2,
    score_round: int | None = None,
    pivots: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: assign every vector to its nearest
    pivot's cell (inverted list), search only the query's `nprobe` nearest
    cells. The candidate join is an equi-join on cell id — shuffle ∝ cell
    sizes, the classic IVF trade: larger nprobe → recall, smaller → cost.

    At 10^9+ vectors this is the partition-pruning ANN path: cells map to
    table partitions, and a query touches nprobe/n_pivots of the data.
    `pivots` plugs in a custom quantizer (e.g. `ivf_refined_pivots`);
    default is the deterministic hash sample."""
    if pivots is None:
        pivots = ivf_pivots(vectors, n_pivots, id_col, vec_col)
    cells = _nearest_cell(vectors, pivots, id_col, vec_col)
    probes = (
        _cell_ranked(
            queries.select(F.col(query_id_col), F.col(vec_col)),
            pivots,
            query_id_col,
            vec_col,
        )
        .filter(F.col("rank") <= nprobe)
        .select(query_id_col, F.col("pivot_id").alias("cell"))
    )
    cands = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .distinct()
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    score = cosine(F.col(vec_col), F.col("_qvec"))
    if score_round is not None:
        score = F.round(score, score_round)
    scored = (
        cands.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .withColumn("score", score)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.
    The join becomes an equi-join on bucket — shuffle ∝ bucket sizes."""
    v = vectors.withColumn("_bkt", sign_bucket(F.col(vec_col), n_bits))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        sign_bucket(F.col(vec_col), n_bits).alias("_bkt"),
    )
    scored = (
        v.join(F.broadcast(q), "_bkt")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("score", cosine(F.col(vec_col), F.col("_qvec")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("score", 6).alias("score"), "rank")
    )


def semdedup_keep(
    vectors: DataFrame,
    *,
    threshold: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
    shard_rows: int | None = None,
    pivots: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication inside the
    cells of a coarse quantizer — (vec_id, cell) rows that SURVIVE.

    MinHash/SimHash catch lexical near-dups; embedding-cosine catches
    *semantic* ones (paraphrases, translations, re-encodings). All-pairs
    cosine is quadratic, so SemDeDup clusters first and compares only
    within cells: assign every vector to its nearest pivot
    (`_nearest_cell`, map-side argmax over the broadcast pivot table),
    generate within-cell candidate pairs (the shared bucket self-join of
    `operators.blocking.candidate_pairs`: singleton drop, `max_cell` cap,
    `shard_rows` hot-cell sharding),
    keep edges with 6dp-rounded cosine >= threshold, close them
    transitively, and elect the min-id representative per duplicate
    group. Cross-cell duplicates are missed BY DESIGN — the same recall
    trade the paper makes; raise n_cells for smaller cells (faster, more
    misses) or lower it for higher recall.

    Default pivots are the deterministic hash-sample (`ivf_pivots`, exact
    cross-engine twin); production can pass Lloyd-refined pivots
    (`ivf_refined_pivots`) for better cell balance at the cost of oracle
    determinism.

    Scale: one broadcast-pivot map pass, one within-cell equi-join with
    output-side guards, closure on the (small) duplicate-edge graph.
    """
    from .closure import connected_components
    from .dedup import _bucket_pairs

    if pivots is None:
        pivots = ivf_pivots(vectors, n_cells, id_col, vec_col)
    cells = _nearest_cell(vectors, pivots, id_col, vec_col)
    b = cells.select(
        F.col(id_col).alias("id"), F.lit(0).alias("band"), F.col("cell").alias("band_key")
    )
    cand = _bucket_pairs(b, max_bucket=max_cell, shard_rows=shard_rows)
    v = vectors.select(F.col(id_col), F.col(vec_col))
    edges = (
        cand.join(v.select(F.col(id_col).alias("id_l"), F.col(vec_col).alias("_vl")), "id_l")
        .join(v.select(F.col(id_col).alias("id_r"), F.col(vec_col).alias("_vr")), "id_r")
        .filter(F.round(cosine(F.col("_vl"), F.col("_vr")), 6) >= threshold)
        .select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
    )
    assigns = connected_components(edges)
    drops = assigns.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return cells.join(drops, on=id_col, how="left_anti").select(
        F.col(id_col), F.col("cell")
    )


def semdedup_keep_sql(
    table: str,
    *,
    threshold: float,
    n_cells: int = 16,
    id_expr: str = "vec_id",
    vec_expr: str = "embedding",
    max_cell: int | None = None,
) -> str:
    """DuckDB twin of semdedup_keep (hash-sampled pivots): identical
    pivot sample, cell argmax, candidate guards, cosine rounding,
    closure, and min-id election."""
    cos = (
        "CASE WHEN list_dot_product(a.e, a.e) > 0"
        "      AND list_dot_product(b.e, b.e) > 0 "
        "THEN round(list_dot_product(a.e, b.e) / "
        "     (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) "
        "ELSE 0.0 END"
    )
    pivcos = (
        "CASE WHEN list_dot_product(v.e, v.e) > 0"
        "      AND list_dot_product(p.pivot_vec, p.pivot_vec) > 0 "
        "THEN round(list_dot_product(v.e, p.pivot_vec) / "
        "     (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(p.pivot_vec, p.pivot_vec))), 6) "
        "ELSE 0.0 END"
    )
    cap = f"AND cnt <= {max_cell}" if max_cell else ""
    return f"""
WITH RECURSIVE sm_v AS MATERIALIZED (
  SELECT {id_expr} AS vec_id, CAST({vec_expr} AS DOUBLE[]) AS e FROM {table}
),
sm_piv AS (
  SELECT vec_id AS pivot_id, e AS pivot_vec
  FROM sm_v
  ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT),
           vec_id
  LIMIT {n_cells}
),
sm_cells AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, p.pivot_id AS cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY ({pivcos}) DESC, p.pivot_id) AS rnk
    FROM sm_v v CROSS JOIN sm_piv p
  ) WHERE rnk = 1
),
sm_sizes AS (
  SELECT cell, count(*) AS cnt FROM sm_cells GROUP BY cell
),
sm_cand AS (
  SELECT l.vec_id AS id_l, r.vec_id AS id_r
  FROM sm_cells l
  JOIN sm_cells r ON l.cell = r.cell AND l.vec_id < r.vec_id
  JOIN sm_sizes s ON s.cell = l.cell
  WHERE cnt > 1 {cap}
),
sm_edges AS MATERIALIZED (
  SELECT c.id_l AS s, c.id_r AS d
  FROM sm_cand c
  JOIN sm_v a ON a.vec_id = c.id_l
  JOIN sm_v b ON b.vec_id = c.id_r
  WHERE ({cos}) >= {threshold}
),
sm_und AS (
  SELECT s, d FROM sm_edges UNION SELECT d, s FROM sm_edges
),
sm_nodes AS (SELECT DISTINCT s AS n FROM sm_und),
sm_reach(n, m) AS (
  SELECT n, n FROM sm_nodes
  UNION
  SELECT u.d, r.m FROM sm_reach r JOIN sm_und u ON u.s = r.n
),
sm_cc AS (
  SELECT n AS id, min(m) AS cluster_id FROM sm_reach GROUP BY n
),
sm_drop AS (SELECT id FROM sm_cc WHERE id <> cluster_id)
SELECT c.vec_id, c.cell
FROM sm_cells c
WHERE c.vec_id NOT IN (SELECT id FROM sm_drop)
"""
