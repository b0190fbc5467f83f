"""Blocking-pass candidate generation: the blocked equi-join.

The reference's join semantics (parmf blocking rows,
/root/reference/app/BigMatchParmFile.py:434-470):

* candidates are (rec, mem) row pairs agreeing EXACTLY on every blocking
  field of the pass;
* blank_flag=1 fields exclude records blank in that field from the pass
  (app/BlockingPass.py:498-499 writes the default "1") — this also kills
  the '' mega-block, the dominant skew source;
* single-file dedupe mode (parmf row-1 digit 6, app/BlockingPass.py:1043-47)
  self-joins one table; pairs are canonicalized id_l < id_r;
* the memory file is the broadcast side (held wholly in RAM by the
  reference engine, README.md:3) — Spark generalizes it: AQE converts the
  join to a broadcast join from the measured size of the memory side when
  it is small, and shuffles with AQE skew splitting when it is not.

Scale notes (100 TB design point): the join keys are the pass's blocking
fields, so the shuffle is a single exchange on the composite key; hot keys
are handled by (a) blank suppression, (b) AQE skew-join splitting, and (c)
`shard_rows`, adaptive salting that splits only a hot block's rec rows
over ceil(n / shard_rows) shards and replicates its mem rows once per
shard — preserving exact join semantics. `max_block_rows` is the
guardrail that drops degenerate blocks instead of letting one key produce
10^10 pairs.

Every blocked join is one plan: the block statistics, then one join tail
(side projection, shard, join, ``dedupe`` filter). One frame joined to
itself reads its statistics — block count, min-id star, cap, singleton
drop, shard count — from one window over the block keys. This is also
the bucket self-join of every LSH family (operators/dedup._bucket_pairs:
MinHash, SimHash, embedding sign buckets, SemDeDup cells). Star emission
exists only on this path. A two-file pass with guardrails costs one small
aggregate before its join: one ``groupBy`` over a tagged union of both
sides' block keys gives each block's rec and mem row counts, and only the
blocks a guardrail flags (capped on either side, or hot on the rec side)
are broadcast back to both sides — a fixed per-pass overhead of one
shuffle of the keys and one broadcast, whatever the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigmatch_utilities_spark.config import BlockingPassSpec


def _nonblank(c: Column) -> Column:
    """Blocking blank semantics for ANY column type: null or
    trims-to-empty (after a string cast) is blank. The string cast keeps
    integer keys usable and renders identically in DuckDB
    (trim(CAST(c AS VARCHAR)))."""
    return c.isNotNull() & (F.trim(c.cast("string")) != F.lit(""))


def apply_blank_flags(df: DataFrame, spec: BlockingPassSpec) -> DataFrame:
    """blank_flag=1 blocking fields: rows blank in the key don't join."""
    for bf in spec.block_fields:
        if bf.blank_flag:
            df = df.filter(_nonblank(F.col(bf.name)))
    return df


def block_key_column(bf) -> tuple[str, Column | None]:
    """(derived column name, derivation expr) for a BlockField; expr is
    None for key_kind='exact' (join on the raw column, no derivation)."""
    if bf.key_kind == "exact":
        return bf.name, None
    if bf.key_kind == "soundex":
        from bigmatch_utilities_spark.functions.phonetic import soundex

        return f"{bf.name}_sdx", soundex(bf.name)
    n = int(bf.key_kind.split(":", 1)[1])  # prefix:<n>, validated by config
    return f"{bf.name}_pfx{n}", F.substring(F.col(bf.name), 1, n)


def derive_block_keys(
    df: DataFrame, spec: BlockingPassSpec
) -> tuple[DataFrame, BlockingPassSpec]:
    """Materialize derived blocking keys (soundex / prefix kinds) as real
    columns and rewrite the spec to reference them as exact keys.

    Map-side projection only — after this, every join/shard/skew
    path in this module treats phonetic and prefix keys exactly like raw
    columns (one exchange on the derived composite key). blank_flag
    filtering applies to the DERIVED key: a name whose soundex is '' (no
    letters) is blank for the pass, mirroring how BigMatch-lineage configs
    feed precomputed phonetic key files.
    """
    from dataclasses import replace

    new_fields = []
    for bf in spec.block_fields:
        if bf.key_kind == "nysiis":
            # DataFrame-level derivation (staged columns, functions/nysiis.py)
            from bigmatch_utilities_spark.functions.nysiis import with_nysiis

            name = f"{bf.name}_nys"
            df = with_nysiis(df, bf.name, out_col=name)
            new_fields.append(replace(bf, name=name, key_kind="exact"))
            continue
        name, expr = block_key_column(bf)
        if expr is not None:
            df = df.withColumn(name, expr)
            bf = replace(bf, name=name, key_kind="exact")
        new_fields.append(bf)
    if all(nf is of for nf, of in zip(new_fields, spec.block_fields)):
        return df, spec
    return df, replace(spec, block_fields=tuple(new_fields))


def _special_blocks(
    r: DataFrame,
    m: DataFrame,
    keys: list[str],
    *,
    max_block_rows: int | None,
    shard_rows: int | None,
) -> DataFrame | None:
    """The blocks a two-file blocked join must treat specially, from ONE
    aggregate over both sides' block keys; None when no guardrail is set.

    Returns ``keys`` plus ``_nsh``: 0 for a block with either side over
    ``max_block_rows`` (it yields no pairs), else ceil(n_rec / shard_rows)
    for a block whose rec side is over ``shard_rows``. Every other block is
    absent (one shard, kept).

    Per-side caps would give the same pairs: a block capped on one side
    only has no partner rows on the other, so the inner join drops it
    anyway. The rec count of a block that survives the cap is the count
    the shard rule reads, so one ``groupBy`` over a tagged union of the two
    sides' keys replaces a cap aggregate per side plus a shard-count
    aggregate. The table holds the union of the blocks those aggregates
    flagged, so it is as small as the broadcasts it replaces."""
    if not (max_block_rows or shard_rows):
        return None
    tagged = r.select(*keys, F.lit(1).alias("_is_rec")).unionByName(
        m.select(*keys, F.lit(0).alias("_is_rec"))
    )
    stats = tagged.groupBy(*keys).agg(
        F.sum("_is_rec").alias("_n_rec"), F.count(F.lit(1)).alias("_n")
    )
    n_rec, n_mem = F.col("_n_rec"), F.col("_n") - F.col("_n_rec")
    rules = []
    if max_block_rows:
        rules.append(
            ((n_rec > max_block_rows) | (n_mem > max_block_rows), F.lit(0))
        )
    if shard_rows:
        rules.append(
            (n_rec > shard_rows, F.ceil(n_rec / F.lit(float(shard_rows))))
        )
    nsh = F.when(*rules[0])
    for cond, value in rules[1:]:
        nsh = nsh.when(cond, value)
    return stats.select(*keys, nsh.cast("int").alias("_nsh")).filter(
        F.col("_nsh").isNotNull()
    )


def candidate_pairs(
    rec: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    id_col: str,
    *,
    dedupe: bool = False,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """One blocking pass → candidate pair DataFrame.

    Output columns: ``id_rec``, one ``bk_<field>`` per blocking field,
    ``rec_<f>`` for every ``carry`` field (default: the pass's match
    fields), ``id_mem`` and ``mem_<f>``.

    dedupe=True self-join keeps only ``id_rec < id_mem`` — halves the pair
    space and drops self-pairs (reference single-file mode).

    ``spec.blocker.star_block_rows`` (one frame joined to itself under
    dedupe only): blocks larger than this emit the min-id star (n-1
    pairs) instead of the quadratic clique. The AQE skew-join splitter can
    NOT save a same-key mega-block here: its trigger is shuffle-partition
    *bytes*, and a 10^4-row identical-hash block is only ~MBs in,
    exploding to 10^8 rows *out* — the explosion has to be prevented
    before the join, not re-planned after it.

    shard_rows: adaptive output-skew salting for passes that must score the
    full clique (fuzzy passes, where key agreement does NOT imply a match
    so the star shortcut is invalid). A block of n rows generates n²/2
    pairs inside ONE join task; AQE never splits it (input bytes look
    fine). With shard_rows=t each block is split into ceil(n/t) shards by
    rec-row hash, the mem side is replicated once per shard of ITS block
    (cold blocks: 1 shard = no replication), and the join key becomes
    (block key, shard) — so a hot block's pair generation and the
    downstream comparator UDFs spread over ceil(n/t) tasks while cold
    blocks pay nothing. Exact join semantics preserved.

    max_block_rows: blocks with more rows than this on EITHER side are
    dropped (the guardrail against a degenerate key producing 10^10 pairs).

    Plan: the block statistics are chosen from the input alone, and one
    join tail follows. One frame joined to itself (``rec is mem``) reads
    them from one window: block count, star, cap, the one-row-block drop
    under dedupe (exact: such a block's only pair is a self-pair) and the
    shard count. Two frames read the cap and the shard counts from ONE
    aggregate over both sides' block keys (`_special_blocks`), broadcast
    the few special blocks once and left-join them to each side; a pass
    with no guardrail set skips it. Both then project the two sides, shard
    them, and run the blocked join. Neither plan hints a broadcast: AQE
    broadcasts a small memory side from its measured size.
    """
    if any(bf.key_kind != "exact" for bf in spec.block_fields):
        same = rec is mem
        rec2, spec2 = derive_block_keys(rec, spec)
        mem2 = rec2 if same else derive_block_keys(mem, spec)[0]
        rec, mem, spec = rec2, mem2, spec2

    keys = [bf.name for bf in spec.block_fields]
    carry = carry if carry is not None else [mf.name for mf in spec.match_fields]
    star_block_rows = spec.blocker.star_block_rows
    if star_block_rows and not (dedupe and rec is mem):
        raise ValueError(
            "star_block_rows requires a self-join (dedupe) pass over one frame"
        )

    star = None
    if rec is mem:
        # ONE window over the block keys attaches the block count (and, for
        # star passes, the min-id row) in one shuffle. Both join sides
        # branch from it, so Catalyst's ReuseExchange serves them from one
        # exchange, and the un-sharded join reuses the window's hash
        # partitioning outright (no re-shuffle).
        w = Window.partitionBy(*keys)
        r = (
            apply_blank_flags(rec, spec)
            .select(*dict.fromkeys([id_col, *keys, *carry]))
            .withColumn("_bn", F.count(F.lit(1)).over(w))
        )
        if star_block_rows:
            # id first in the struct → min(struct) is the min-id row
            packed = F.struct(
                F.col(id_col).alias("_id"),
                *[F.col(c).alias(f"_c_{c}") for c in carry],
            )
            r = r.withColumn("_rep", F.min(packed).over(w))
            # a star block is linearized, not capped: the cap only guards
            # the quadratic path
            star = r.filter(
                (F.col("_bn") > star_block_rows) & (F.col(id_col) != F.col("_rep._id"))
            ).select(
                F.col("_rep._id").alias("id_rec"),
                F.col(id_col).alias("id_mem"),
                *[F.col(k).alias(f"bk_{k}") for k in keys],
                *[F.col(f"_rep._c_{c}").alias(f"rec_{c}") for c in carry],
                *[F.col(c).alias(f"mem_{c}") for c in carry],
            )
            r = r.filter(F.col("_bn") <= star_block_rows)
        if max_block_rows:
            r = r.filter(F.col("_bn") <= max_block_rows)
        if dedupe:
            r = r.filter(F.col("_bn") > 1)
        if shard_rows:
            r = r.withColumn(
                "_nsh", F.ceil(F.col("_bn") / F.lit(float(shard_rows))).cast("int")
            )
        m = r
    else:
        r = apply_blank_flags(rec, spec)
        m = apply_blank_flags(mem, spec)
        special = _special_blocks(
            r, m, keys, max_block_rows=max_block_rows, shard_rows=shard_rows
        )
        if special is not None:
            # one broadcast of the few special blocks, left-joined to each
            # side: capped blocks (_nsh 0) leave the join, hot blocks carry
            # their shard count, every other row gets a null _nsh (one shard)
            special = F.broadcast(special)
            live = F.coalesce(F.col("_nsh"), F.lit(1)) > 0
            r = r.join(special, on=keys, how="left").filter(live)
            m = m.join(special, on=keys, how="left").filter(live)

    sharded = bool(shard_rows)
    nsh = F.coalesce(F.col("_nsh"), F.lit(1))
    r = r.select(
        F.col(id_col).alias("id_rec"),
        *[F.col(k).alias(f"bk_{k}") for k in keys],
        *[F.col(c).alias(f"rec_{c}") for c in carry],
        *(
            [F.pmod(F.xxhash64(F.col(id_col)), nsh).cast("int").alias("_shard")]
            if sharded
            else []
        ),
    )
    m = m.select(
        F.col(id_col).alias("id_mem"),
        *[F.col(k).alias(f"bk_{k}_m") for k in keys],
        *[F.col(c).alias(f"mem_{c}") for c in carry],
        *(
            [F.explode(F.sequence(F.lit(0), nsh - 1)).alias("_shard_m")]
            if sharded
            else []
        ),
    )

    cond = [F.col(f"bk_{k}") == F.col(f"bk_{k}_m") for k in keys]
    drop = [f"bk_{k}_m" for k in keys]
    if sharded:
        # Adaptive output-skew salting: a hot block's rec rows split over
        # its shards by id hash and its mem rows are replicated once per
        # shard, so the join key becomes (block key, shard). Replication
        # cost: a hot block of n rows adds n·ceil(n/t) mem rows — linear
        # in its PAIR output / t; cold blocks (one shard) pay nothing.
        cond = cond + [F.col("_shard") == F.col("_shard_m")]
        drop += ["_shard", "_shard_m"]

    joined = r.join(m, on=cond, how="inner")
    if dedupe:
        joined = joined.filter(F.col("id_rec") < F.col("id_mem"))

    out = joined.drop(*drop)
    if star is not None:
        out = out.unionByName(star)  # star side already has id_rec < id_mem
    return out


def blocking_profile(
    df: DataFrame,
    spec: BlockingPassSpec,
    pass_id: int = 0,
) -> DataFrame:
    """Pre-flight quality profile of a blocking pass (dedupe self-join
    framing): one row of the statistics that decide whether a pass is
    launchable at scale, BEFORE generating a single pair.

        pass_id, n_rows, n_blocks, max_block, avg_block,
        cand_pairs,          -- sum n*(n-1)/2 over blocks
        reduction_ratio      -- 1 - cand_pairs / (N*(N-1)/2)

    The reference exposes nothing comparable — BigMatch users discover a
    degenerate blocking key when the run blows up (the parmf counts at
    app/BlockingPass.py:588-647 are spec-side only, not data-side). At
    100 TB this profile is the difference between a plan review and a
    36-hour failed job: it costs ONE map-side-combined groupBy over the
    key (no pairs materialized — cand_pairs is computed from block sizes),
    and `max_block` directly feeds `max_block_rows` / `shard_rows` tuning.

    blank_flag semantics match the real pass: excluded rows count in
    neither n_rows nor the pair totals.
    """
    r = apply_blank_flags(df, spec)
    keys = [F.col(bf.name) for bf in spec.block_fields]
    sizes = r.groupBy(*keys).agg(F.count("*").alias("n"))
    return sizes.agg(
        F.lit(pass_id).alias("pass_id"),
        F.sum("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_blocks"),
        F.max("n").cast("long").alias("max_block"),
        F.round(F.sum("n") / F.count("*"), 6).alias("avg_block"),
        F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("cand_pairs"),
        F.round(
            F.lit(1.0)
            - F.sum(F.expr("n * (n - 1) / 2"))
            / (F.sum("n") * (F.sum("n") - F.lit(1)) / F.lit(2.0)),
            6,
        ).alias("reduction_ratio"),
    )


def blocking_profile_sql(
    source_sql: str,
    spec: BlockingPassSpec,
    pass_id: int = 0,
) -> str:
    """DuckDB twin of :func:`blocking_profile`."""
    blanks = " AND ".join(
        f"({bf.name} IS NOT NULL AND trim({bf.name}) <> '')"
        for bf in spec.block_fields
        if bf.blank_flag
    ) or "TRUE"
    keys = ", ".join(bf.name for bf in spec.block_fields)
    # derived table, not a CTE: profiles for several passes are commonly
    # UNION ALLed into one statement, and UNION of top-level WITHs isn't SQL
    return f"""
        SELECT {pass_id} AS pass_id,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(MAX(n) AS BIGINT) AS max_block,
               round(SUM(n) / COUNT(*), 6) AS avg_block,
               CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS cand_pairs,
               round(1.0 - SUM(n * (n - 1) / 2)
                         / (SUM(n) * (SUM(n) - 1) / 2.0), 6) AS reduction_ratio
        FROM (
            SELECT {keys}, COUNT(*) AS n
            FROM ({source_sql}) WHERE {blanks}
            GROUP BY {keys}
        ) sizes
    """


def block_skew_report(
    df: DataFrame,
    spec: BlockingPassSpec,
    *,
    top: int = 20,
    max_block_rows: int = 100_000,
    pass_id: int = 0,
) -> DataFrame:
    """Heavy-hitter report for one blocking pass: the `top` largest blocks
    with their candidate-pair cost and a recommended shard count — the
    per-KEY companion to :func:`blocking_profile`'s aggregate row.

    Output (rank 1..top by block size desc, key string asc):

        pass_id, rank, block_key,        -- '|'-joined key values
        n,                               -- rows in the block
        block_pairs,                     -- n*(n-1)/2
        pair_share,                      -- block_pairs / Σ block_pairs
        rec_shards                       -- ceil(n / max_block_rows)

    This is the skew-diagnosis step the 100 TB salting decision needs: the
    aggregate profile says "max_block = 40M", this says WHICH keys those
    are (the blank-like sentinel values, the 'UNKNOWN's, the one mega-city)
    and how many salted shards each needs at the configured
    `max_block_rows`. The reference has no data-side equivalent (parmf
    counts at app/BlockingPass.py:588-647 are spec-side only).

    Scale shape: one map-side-combined groupBy over the key (identical to
    blocking_profile — no pairs materialized), a TakeOrderedAndProject for
    the top-N (never a full sort), and a 1-row broadcast of the pair total
    for the share column. `rank` is windowed over the ≤ `top` collected
    rows only. Caveat: `block_key` joins values with '|' — key values
    containing '|' could alias; acceptable for a diagnostic report.

    blank_flag semantics match the real pass (excluded rows count nowhere).
    """
    from pyspark.sql.window import Window

    r = apply_blank_flags(df, spec)
    keys = [F.col(bf.name) for bf in spec.block_fields]
    key_str = F.concat_ws(
        "|", *[F.coalesce(k.cast("string"), F.lit("")) for k in keys]
    ).alias("block_key")
    sizes = r.groupBy(*keys).agg(F.count("*").cast("long").alias("n")).select(
        key_str, "n", F.expr("CAST(n * (n - 1) / 2 AS BIGINT)").alias("block_pairs")
    )
    tot = sizes.agg(F.sum("block_pairs").cast("long").alias("_tot_pairs"))
    heavy = sizes.orderBy(F.col("n").desc(), F.col("block_key").asc()).limit(top)
    w = Window.orderBy(F.col("n").desc(), F.col("block_key").asc())
    return (
        heavy.crossJoin(F.broadcast(tot))
        .select(
            F.lit(pass_id).alias("pass_id"),
            F.row_number().over(w).alias("rank"),
            "block_key",
            "n",
            "block_pairs",
            F.when(F.col("_tot_pairs") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("block_pairs").cast("double") / F.col("_tot_pairs"), 6
                )
            )
            .alias("pair_share"),
            F.expr(f"CAST((n + {max_block_rows - 1}) DIV {max_block_rows} AS BIGINT)").alias(
                "rec_shards"
            ),
        )
    )


def block_skew_report_sql(
    source_sql: str,
    spec: BlockingPassSpec,
    *,
    top: int = 20,
    max_block_rows: int = 100_000,
    pass_id: int = 0,
) -> str:
    """DuckDB twin of :func:`block_skew_report` (identical key-string join,
    tie-break, share rounding, and integer shard ceiling)."""
    blanks = " AND ".join(
        f"({bf.name} IS NOT NULL AND trim({bf.name}) <> '')"
        for bf in spec.block_fields
        if bf.blank_flag
    ) or "TRUE"
    keys = ", ".join(bf.name for bf in spec.block_fields)
    key_str = " || '|' || ".join(
        f"coalesce(CAST({bf.name} AS VARCHAR), '')" for bf in spec.block_fields
    )
    return f"""
        WITH bsk_sizes AS (
            SELECT {key_str} AS block_key,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS block_pairs
            FROM ({source_sql}) WHERE {blanks}
            GROUP BY {keys}
        ),
        bsk_tot AS (SELECT CAST(SUM(block_pairs) AS BIGINT) AS tot FROM bsk_sizes),
        bsk_top AS (
            SELECT * FROM bsk_sizes ORDER BY n DESC, block_key LIMIT {top}
        )
        SELECT {pass_id} AS pass_id,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, block_key) AS INT) AS rank,
               block_key, n, block_pairs,
               CASE WHEN tot = 0 THEN 0.0
                    ELSE round(block_pairs::DOUBLE / tot, 6) END AS pair_share,
               CAST((n + {max_block_rows - 1}) // {max_block_rows} AS BIGINT) AS rec_shards
        FROM bsk_top CROSS JOIN bsk_tot
    """


# ---------------------------------------------------------------------------
# blocking-key suggestion: rank candidate key sets before writing the parmf
# ---------------------------------------------------------------------------


def suggest_blocking_keys(
    df: DataFrame,
    key_sets: list[list[str]],
    truth_pairs: DataFrame | None = None,
    *,
    id_col: str = "record_id",
    id_l: str = "id_rec",
    id_r: str = "id_mem",
) -> DataFrame:
    """Compare candidate blocking-key sets BEFORE writing the parmf: one
    row per key set with the cost side (candidate pairs, block histogram,
    reduction ratio — same statistics as :func:`blocking_profile`) and,
    when a labeled `truth_pairs` sample is given, the recall side
    (`pairs_completeness`: the fraction of true pairs the key co-blocks).

    This is the blocking-criteria design step the reference leaves to the
    user's judgment (BigMatch parmf passes are hand-chosen; the reference
    GUI at app/BlockingPass.py only edits them). Cost × recall over a
    truth sample is the standard way to choose (Christen 2012's pairs
    completeness / reduction ratio pair), and at 100 TB it turns a failed
    36-hour run into a pre-flight table scan per candidate key.

    Scale: one map-side-combined groupBy over `df` per key set (different
    keys genuinely need different exchanges), no pairs materialized.
    `truth_pairs` is joined ONCE onto the union of all key columns (truth
    is a clerical-scale sample — the join broadcasts it and streams `df`),
    and every key set's completeness aggregates that one truth-sized
    cached frame.

    Blank semantics match a real pass (blank_flag=1): rows blank in any
    key column join no block, and a truth pair whose either side is blank
    is NOT co-blocked (it counts against completeness — exactly the
    recall the pass would lose).
    """
    rows = []
    for ks in key_sets:
        label = ",".join(ks)
        filt = df
        for k in ks:
            filt = filt.filter(_nonblank(F.col(k)))
        sizes = filt.groupBy(*[F.col(k) for k in ks]).agg(
            F.count(F.lit(1)).alias("n")
        )
        prof = sizes.agg(
            F.lit(label).alias("key_set"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_block"),
            F.coalesce(
                F.sum(F.expr("n * (n - 1) / 2")).cast("long"), F.lit(0)
            ).alias("cand_pairs"),
            F.round(
                F.lit(1.0)
                - F.sum(F.expr("n * (n - 1) / 2"))
                / (F.sum("n") * (F.sum("n") - F.lit(1)) / F.lit(2.0)),
                6,
            ).alias("reduction_ratio"),
        )
        rows.append(prof)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    if truth_pairs is None:
        return out

    all_keys = sorted({k for ks in key_sets for k in ks})
    side = df.select(F.col(id_col).alias("_id"), *all_keys)
    side_l = side.toDF("_id", *[f"{k}_l" for k in all_keys])
    side_r = side.toDF("_id", *[f"{k}_r" for k in all_keys])
    # broadcast the SMALL side both times: first the truth sample, then
    # the (truth-sized) half-joined frame — `df` is only ever streamed
    j1 = side_l.join(
        F.broadcast(truth_pairs.select(id_l, id_r)), F.col(id_l) == F.col("_id")
    ).drop("_id")
    joined = side_r.join(F.broadcast(j1), F.col(id_r) == F.col("_id")).drop("_id")
    joined = joined.persist()
    try:
        comp_rows = []
        for ks in key_sets:
            label = ",".join(ks)
            co = F.lit(True)
            for k in ks:
                lc, rc = F.col(f"{k}_l"), F.col(f"{k}_r")
                co = co & _nonblank(lc) & _nonblank(rc) & (lc == rc)
            comp_rows.append(
                joined.agg(
                    F.lit(label).alias("key_set"),
                    F.count(F.lit(1)).cast("long").alias("truth_pairs"),
                    F.round(
                        F.coalesce(
                            F.avg(co.cast("double")), F.lit(0.0)
                        ),
                        6,
                    ).alias("pairs_completeness"),
                )
            )
        comp = comp_rows[0]
        for c in comp_rows[1:]:
            comp = comp.unionByName(c)
        result = out.join(comp, "key_set")
        # materialization boundary: callers typically .collect() this
        # (≤ dozens of rows); force it here so the persist can be freed
        rows_out = result.collect()
    finally:
        joined.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(rows_out, result.schema)


def suggest_blocking_keys_sql(source_sql: str, key_sets: list[list[str]]) -> str:
    """DuckDB twin of the stats side of :func:`suggest_blocking_keys`
    (truth completeness is pinned by pytest against hand-computed values;
    the driver-facing oracle covers the cost statistics)."""
    parts = []
    for ks in key_sets:
        label = ",".join(ks)
        blanks = " AND ".join(
            f"({k} IS NOT NULL AND trim(CAST({k} AS VARCHAR)) <> '')" for k in ks
        )
        keys = ", ".join(ks)
        parts.append(f"""
        SELECT '{label}' AS key_set,
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_block,
               CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS cand_pairs,
               round(1.0 - SUM(n * (n - 1) / 2)
                         / (SUM(n) * (SUM(n) - 1) / 2.0), 6) AS reduction_ratio
        FROM (
            SELECT {keys}, COUNT(*) AS n
            FROM ({source_sql}) WHERE {blanks}
            GROUP BY {keys}
        ) sizes_{len(parts)}""")
    return " UNION ALL ".join(parts)


def suggest_blocking_keys_full_sql(
    source_sql: str,
    key_sets: list[list[str]],
    truth_sql: str,
    id_col: str,
    id_l: str = "id_rec",
    id_r: str = "id_mem",
) -> str:
    """DuckDB twin of :func:`suggest_blocking_keys` WITH the truth side:
    stats per key set joined to pairs-completeness over ``truth_sql``
    (a relation of (id_l, id_r) labeled pairs). Blank semantics mirror
    the operator exactly: a truth pair co-blocks only when every key of
    the set is non-blank on BOTH sides and equal."""
    stats = suggest_blocking_keys_sql(source_sql, key_sets)
    comp_parts = []
    for ks in key_sets:
        label = ",".join(ks)
        co = " AND ".join(
            f"(a.{k} IS NOT NULL AND trim(CAST(a.{k} AS VARCHAR)) <> '' "
            f"AND b.{k} IS NOT NULL AND trim(CAST(b.{k} AS VARCHAR)) <> '' "
            f"AND a.{k} = b.{k})"
            for k in ks
        )
        comp_parts.append(f"""
        SELECT '{label}' AS key_set,
               CAST(COUNT(*) AS BIGINT) AS truth_pairs,
               round(AVG(CASE WHEN {co} THEN 1.0 ELSE 0.0 END), 6)
                 AS pairs_completeness
        FROM ({truth_sql}) t
        JOIN ({source_sql}) a ON t.{id_l} = a.{id_col}
        JOIN ({source_sql}) b ON t.{id_r} = b.{id_col}""")
    comp = " UNION ALL ".join(comp_parts)
    return f"""
        SELECT s.*, c.truth_pairs, c.pairs_completeness
        FROM ({stats}) s JOIN ({comp}) c USING (key_set)
    """


def suggest_pass_sequence(
    df: DataFrame,
    key_sets: list[list[str]],
    truth_pairs: DataFrame,
    n_passes: int = 3,
    *,
    id_col: str = "record_id",
    id_l: str = "id_rec",
    id_r: str = "id_mem",
) -> DataFrame:
    """Greedy multi-pass blocking design: pick the ``n_passes`` key sets
    that maximize CUMULATIVE truth-pair coverage — the set-cover step
    after :func:`suggest_blocking_keys` ranks keys individually.

    Per-key completeness misleads pass DESIGN: the 2nd-best single key
    usually co-blocks the same pairs as the best, while a mediocre key
    covering the best key's blind spot is worth more. Greedy set cover
    (the standard approximation; optimal cover is NP-hard) picks, each
    round, the key set co-blocking the most NOT-YET-covered truth pairs —
    ties broken by key-set label ascending, so selection is
    deterministic. The reference's users hand-tune this exact sequence
    into parmf passes over failed runs (samplefiles/parmf_new.txt runs
    NINE passes); this computes it from a labeled sample before any pass
    runs.

    Output, one row per selected pass in selection order:

        pass_rank | key_set | new_covered | cum_covered | cum_pc

    Rounds run FIXED ``n_passes`` iterations (a later pass that adds 0
    coverage still emits its row) so the unrolled-CTE SQL twin is
    value-identical — the em.py fixed-iteration discipline.

    Scale: the coverage matrix is ONE frame of n_truth rows (truth is a
    clerical-scale labeled sample by design) built by streaming ``df``
    past the broadcast truth twice — no candidate pairs materialize, the
    full table is never shuffled. Each greedy round is one
    map-side-combined aggregate over that truth-sized frame returning a
    single row; the matrix is persisted across rounds and freed before
    return. Blank semantics match a real pass (blank_flag=1): a truth
    pair blank on either side of a key is NOT covered by it.
    """
    labels = [",".join(ks) for ks in key_sets]
    all_keys = sorted({k for ks in key_sets for k in ks})
    side = df.select(F.col(id_col).alias("_id"), *all_keys)
    side_l = side.toDF("_id", *[f"{k}_l" for k in all_keys])
    side_r = side.toDF("_id", *[f"{k}_r" for k in all_keys])
    t = truth_pairs.select(id_l, id_r).distinct()
    j1 = side_l.join(F.broadcast(t), F.col(id_l) == F.col("_id")).drop("_id")
    joined = side_r.join(F.broadcast(j1), F.col(id_r) == F.col("_id")).drop(
        "_id"
    )
    cbs = []
    for i, ks in enumerate(key_sets):
        co = F.lit(True)
        for k in ks:
            lc, rc = F.col(f"{k}_l"), F.col(f"{k}_r")
            co = co & _nonblank(lc) & _nonblank(rc) & (lc == rc)
        cbs.append(co.alias(f"cb_{i}"))
    matrix = joined.select(*cbs).persist()
    try:
        out_rows = []
        covered = F.lit(False)
        cum = 0
        n_truth = None
        for rank in range(int(n_passes)):
            aggs = [F.count(F.lit(1)).alias("_nt")] + [
                F.sum(
                    F.when(~covered & F.col(f"cb_{i}"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"c_{i}")
                for i in range(len(key_sets))
            ]
            row = matrix.agg(*aggs).collect()[0]
            n_truth = int(row["_nt"])
            # deterministic argmax: count desc, label asc
            best = min(
                range(len(key_sets)),
                key=lambda i: (-int(row[f"c_{i}"]), labels[i]),
            )
            new = int(row[f"c_{best}"])
            cum += new
            out_rows.append(
                (
                    rank,
                    labels[best],
                    new,
                    cum,
                    round(cum / n_truth, 6) if n_truth else None,
                )
            )
            covered = covered | F.col(f"cb_{best}")
    finally:
        matrix.unpersist()
    return df.sparkSession.createDataFrame(
        out_rows,
        "pass_rank int, key_set string, new_covered long, "
        "cum_covered long, cum_pc double",
    )


def suggest_pass_sequence_sql(
    source_sql: str,
    key_sets: list[list[str]],
    truth_sql: str,
    n_passes: int = 3,
    id_col: str = "record_id",
    id_l: str = "id_rec",
    id_r: str = "id_mem",
) -> str:
    """DuckDB twin of :func:`suggest_pass_sequence` — the coverage-matrix
    CTE, then ``n_passes`` unrolled (counts, pick) CTE pairs with the
    identical (count DESC, key_set ASC) argmax; coverage by an earlier
    pick is a CASE over its data-dependent label."""
    labels = [",".join(ks) for ks in key_sets]
    all_keys = sorted({k for ks in key_sets for k in ks})

    def nb(c: str) -> str:
        return f"({c} IS NOT NULL AND trim(CAST({c} AS VARCHAR)) <> '')"

    cb_exprs = []
    for i, ks in enumerate(key_sets):
        conds = []
        for k in ks:
            conds += [nb(f"l.{k}"), nb(f"r.{k}"), f"l.{k} = r.{k}"]
        cb_exprs.append("(" + " AND ".join(conds) + f") AS cb_{i}")
    # AS MATERIALIZED throughout: DuckDB's default CTE inlining re-expands
    # spm inside every round's counts, whose covered-predicate nests every
    # earlier pick -- exponential re-evaluation in n_passes (hangs at 4
    # rounds; the cannot-link oracle hit the identical trap). Materializing
    # pins each CTE to one evaluation.
    ctes = [
        f"""spm AS MATERIALIZED (
          SELECT {", ".join(cb_exprs)}
          FROM (SELECT DISTINCT {id_l}, {id_r} FROM ({truth_sql})) t
          JOIN ({source_sql}) l ON t.{id_l} = l.{id_col}
          JOIN ({source_sql}) r ON t.{id_r} = r.{id_col}
        )""",
        "spn AS MATERIALIZED (SELECT count(*) AS nt FROM spm)",
    ]
    covered = "FALSE"
    for t in range(1, int(n_passes) + 1):
        counts = "\n              UNION ALL ".join(
            f"SELECT '{labels[i]}' AS key_set, "
            f"CAST(coalesce(SUM(CASE WHEN NOT ({covered}) AND cb_{i} "
            f"THEN 1 ELSE 0 END), 0) AS BIGINT) AS c FROM spm"
            for i in range(len(key_sets))
        )
        ctes.append(f"cnt{t} AS MATERIALIZED (\n              {counts})")
        ctes.append(
            f"pick{t} AS MATERIALIZED (SELECT key_set, c FROM cnt{t} "
            f"ORDER BY c DESC, key_set ASC LIMIT 1)"
        )
        sel_cb = (
            "(CASE (SELECT key_set FROM pick" + str(t) + ") "
            + " ".join(
                f"WHEN '{labels[i]}' THEN cb_{i}"
                for i in range(len(key_sets))
            )
            + " ELSE FALSE END)"
        )
        covered = f"({covered}) OR {sel_cb}"
    rows = "\n        UNION ALL ".join(
        f"SELECT {t - 1} AS pass_rank, (SELECT key_set FROM pick{t}) AS "
        f"key_set, (SELECT c FROM pick{t}) AS new_covered, "
        f"({' + '.join(f'(SELECT c FROM pick{s})' for s in range(1, t + 1))}) "
        f"AS cum_covered, "
        f"round(CAST({' + '.join(f'(SELECT c FROM pick{s})' for s in range(1, t + 1))} "
        f"AS DOUBLE) / NULLIF((SELECT nt FROM spn), 0), 6) AS cum_pc"
        for t in range(1, int(n_passes) + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + f"\n        {rows}"
