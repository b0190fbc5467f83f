"""Sorted-neighborhood blocking (Hernández–Stolfo SNM).

Equi-join blocking (operators/blocking.py) only pairs records that agree
EXACTLY on a key; a typo in the blocking field loses the pair forever.
The sorted-neighborhood method instead sorts the file by a (possibly
fuzzy) key and pairs every record with its w-1 successors in sort order —
records that are *close* in the ordering meet even when no derived key
matches. It is the classic complement to phonetic keys in the
record-linkage literature, and the reference's multi-pass design (loose
passes mopping up after strict ones) is exactly the gap SNM fills.

Spark-first shape — the hard part is the GLOBAL rank without funnelling
100 TB through one task:

1. range-repartition on the full ordering tuple (Spark samples boundaries
   distributively);
2. per-partition counts → cumulative offsets. The offsets frame is one
   row per shuffle partition (thousands of rows at 100 TB), so the
   cumulative-sum window over it is a deliberate single-task frame over a
   partition-count-sized input — the same O(P) driver-visible metadata
   any range partitioner already holds, kept lazily in-plan (no collect);
3. rank = offset + row_number within the range partition (the window
   partitions by the materialized partition id, so no global sort);
4. neighbor pairs by pure rank arithmetic: replicate each row w-1 times
   with target rank r+d and equi-join on rank — one integer-key shuffle,
   no boundary special-casing because ranks are contiguous across
   partitions.

spark_partition_id() is nondeterministic-tagged, which pins the pid
projection to the post-exchange side — Catalyst cannot push it through
the repartition.

Determinism: the ordering tuple always ends with the id column, so ranks
(and therefore pairs) are a pure function of the data on both engines;
the DuckDB oracle is a plain row_number() OVER (ORDER BY ...) self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds a 1-based dense global row rank in (order_cols) order without
    a single-task global sort. order_cols must be a total order (append a
    unique id as tiebreak) or ranks are nondeterministic.

    The range-partitioned frame is read twice (per-partition counts, then
    the in-partition row numbers), so it is checkpointed once in between:
    two evaluations of the range exchange can draw different boundaries,
    and the offsets of one would then misnumber the rows of the other."""
    n_part = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    d = (
        df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
        .withColumn("_sn_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = d.groupBy("_sn_pid").agg(F.count(F.lit(1)).alias("_sn_n"))
    # P rows total: the unpartitioned window is a deliberate O(P) frame
    offs = counts.select(
        "_sn_pid",
        F.coalesce(
            F.sum("_sn_n").over(
                Window.orderBy("_sn_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_sn_off"),
    )
    local = F.row_number().over(
        Window.partitionBy("_sn_pid").orderBy(*[F.col(c) for c in order_cols])
    )
    return (
        d.join(F.broadcast(offs), "_sn_pid")
        .withColumn(out_col, (F.col("_sn_off") + local).cast("long"))
        .drop("_sn_pid", "_sn_off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    *,
    window: int = 5,
    num_partitions: int | None = None,
    cache_handle: list | None = None,
) -> DataFrame:
    """SNM candidate pairs: every record paired with its (window-1)
    successors in (key_cols, id_col) sort order.

    Returns (id_l, id_r, dist) with id_l < id_r and dist = rank gap
    (1 .. window-1). Output size is exactly (window-1)·N - Σ(edge
    truncation) — linear in N, the property that makes SNM viable where
    a loose equi-join key would go quadratic.

    The ranked frame feeds BOTH sides of the neighbor join; pass
    `cache_handle` (dedup.lsh_cache convention) to persist it once
    instead of running the range-partition + offset pipeline twice.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    order_cols = [*key_cols, id_col]
    ranked = with_global_rank(
        df.select(id_col, *key_cols), order_cols, num_partitions=num_partitions
    ).select(F.col(id_col).alias("_sn_id"), F.col("rank").alias("_sn_rank"))
    if cache_handle is not None:
        ranked = ranked.persist()
        cache_handle.append(ranked)
    left = ranked.withColumn(
        "_sn_d", F.explode(F.sequence(F.lit(1), F.lit(window - 1)))
    ).select(
        F.col("_sn_id").alias("_id_a"),
        (F.col("_sn_rank") + F.col("_sn_d")).alias("_sn_rank_b"),
        F.col("_sn_d").alias("dist"),
    )
    right = ranked.select(
        F.col("_sn_id").alias("_id_b"), F.col("_sn_rank").alias("_sn_rank_b")
    )
    return left.join(right, "_sn_rank_b").select(
        F.least("_id_a", "_id_b").alias("id_l"),
        F.greatest("_id_a", "_id_b").alias("id_r"),
        F.col("dist").cast("int").alias("dist"),
    )


def snm_candidate_pairs(
    rec: DataFrame,
    mem: DataFrame | None,
    spec,
    id_col: str,
    *,
    dedupe: bool = False,
    carry: list[str] | None = None,
) -> DataFrame:
    """SNM as a blocking PASS: same output contract as
    blocking.candidate_pairs — (id_rec, id_mem, rec_<f>, mem_<f>) for every
    ``carry`` field (default: the pass's match fields) — so a
    ``BlockingPassSpec(blocker=Snm(...))`` drops into the multi-pass pipeline
    (scoring, cutoffs, first-pass-wins) unchanged.

    The spec's block_fields become the SORT key (derived kinds — soundex,
    prefix — apply first, exactly as for equi passes; blank_flag rows are
    excluded before ranking so blanks don't pile at the front of the sort
    order). Carry columns ride the ranked frame, so the neighbor join
    carries both sides' values directly — no re-join against the source.

    One plan serves both modes: the inputs are tagged with a source
    ``_src`` (0 rec, 1 mem), ranked on (keys, _src, _id), and every row
    is joined to its w-1 successors in rank. Self/dedupe mode ranks the
    one input (``_src`` constant, so the order is (keys, id)) and
    canonicalizes id_rec < id_mem with each side's carried values
    following its id (same pair-key canon as equi passes, required for
    cross-pass first-pass-wins). Two-file mode interleaves both files in
    one sort (classic multi-source SNM) and emits only cross-file
    neighbors; note the window then spans the MERGED order, so the
    effective per-file reach is smaller than in dedupe mode.
    """
    from bigmatch_utilities_spark.operators.blocking import (
        apply_blank_flags,
        derive_block_keys,
    )

    window = spec.blocker.window
    same = mem is None or mem is rec
    if same and not dedupe:
        raise ValueError("single-input SNM pass requires dedupe=True")
    carry = carry if carry is not None else [mf.name for mf in spec.match_fields]

    rec2, spec2 = derive_block_keys(rec, spec)
    keys = [bf.name for bf in spec2.block_fields]
    cols = list(dict.fromkeys([*keys, *carry]))

    def side(df: DataFrame, src: int) -> DataFrame:
        return apply_blank_flags(df, spec2).select(
            F.lit(src).alias("_src"), F.col(id_col).alias("_id"), *cols
        )

    u = side(rec2, 0)
    if not same:
        u = u.unionByName(side(derive_block_keys(mem, spec)[0], 1))
    # total order: keys, then (_src, _id) — unique across both files
    ranked = with_global_rank(u, [*keys, "_src", "_id"])
    a = ranked.select(
        F.col("_src").alias("_src_a"),
        F.col("_id").alias("_id_a"),
        F.col("rank").alias("_rk"),
        *[F.col(c).alias(f"_a_{c}") for c in carry],
    )
    left = a.withColumn(
        "_d", F.explode(F.sequence(F.lit(1), F.lit(window - 1)))
    ).withColumn("_rk_b", F.col("_rk") + F.col("_d"))
    b = ranked.select(
        F.col("_src").alias("_src_b"),
        F.col("_id").alias("_id_b"),
        F.col("rank").alias("_rk_b"),
        *[F.col(c).alias(f"_b_{c}") for c in carry],
    )
    j = left.join(b, "_rk_b")
    if same:
        rec_is_a = F.col("_id_a") < F.col("_id_b")
    else:
        j = j.filter(F.col("_src_a") != F.col("_src_b"))
        rec_is_a = F.col("_src_a") == 0
    sel = [
        F.when(rec_is_a, F.col("_id_a")).otherwise(F.col("_id_b")).alias("id_rec"),
        F.when(rec_is_a, F.col("_id_b")).otherwise(F.col("_id_a")).alias("id_mem"),
    ]
    for c in carry:
        sel.append(
            F.when(rec_is_a, F.col(f"_a_{c}")).otherwise(F.col(f"_b_{c}")).alias(f"rec_{c}")
        )
        sel.append(
            F.when(rec_is_a, F.col(f"_b_{c}")).otherwise(F.col(f"_a_{c}")).alias(f"mem_{c}")
        )
    return j.select(*sel)


def sorted_neighborhood_sql(
    table: str, key_exprs: list[str], id_expr: str, *, window: int = 5
) -> str:
    """DuckDB oracle twin of sorted_neighborhood_pairs.

    Every ORDER BY term is rendered `<expr> NULLS FIRST`: Spark's ASC sort
    (and repartitionByRange) puts NULLs first while DuckDB defaults to
    NULLS LAST — without the qualifier, a NULL in any key column would
    shift the oracle's ranks and diverge the emitted pair set.
    """
    order = ", ".join(f"{e} NULLS FIRST" for e in [*key_exprs, id_expr])
    return f"""
        WITH sn_ranked AS (
          SELECT {id_expr} AS id,
                 row_number() OVER (ORDER BY {order}) AS rn
          FROM {table}
        )
        SELECT least(a.id, b.id) AS id_l,
               greatest(a.id, b.id) AS id_r,
               CAST(b.rn - a.rn AS INT) AS dist
        FROM sn_ranked a
        JOIN sn_ranked b ON b.rn - a.rn BETWEEN 1 AND {window - 1}
    """
