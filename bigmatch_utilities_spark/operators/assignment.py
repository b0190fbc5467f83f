"""One-to-one match assignment (mutual best match).

BigMatch emits many-to-many candidate matches and leaves 1:1 enforcement
to the human review pass (app/MatchReview.py accept loop — a reviewer
accepts at most one partner per record by hand).  At pipeline scale the
standard published device (record-linkage literature's "mutual best
match" / symmetric best agreement) is: keep pair (r, m) iff m is r's
best-weighted partner AND r is m's best-weighted partner.  It
under-assigns slightly versus the Hungarian algorithm's global optimum,
but is embarrassingly parallel — the global methods are inherently
sequential and do not exist at 10^12 rows.

Scale design: each side's argmax is ONE map-side-combined
``groupBy().agg(min(struct(-weight, partner)))`` — no window, no
partition sort, no skew pathology (a hot record's pairs partial-aggregate
to one row per map task before the shuffle).  Two aggs + two semi-joins;
ties break deterministically to the smallest partner id.

Weights are compared after rounding to 6dp so engine-level FP noise in
the last ulp cannot flip an argmax (the same discipline the driver's
oracle hashing uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _best_per_side(
    pairs: DataFrame, side: str, other: str, weight_col: str
) -> DataFrame:
    """For each `side` id: the (other id) of its max-weight pair, ties to
    the smallest other id.  min(struct(-w, other)) == argmax with that
    tie-break, computed map-side."""
    w6 = F.round(F.col(weight_col), 6)
    return pairs.groupBy(F.col(side)).agg(
        F.min(F.struct((-w6).alias("nw"), F.col(other).alias("p"))).alias("b")
    ).select(
        # distinct names so the semi-join back against `pairs` (a self
        # derivation) never resolves to the same attribute on both sides
        F.col(side).alias("_bk"),
        F.col("b.p").alias(f"best_{other}"),
    )


def one_to_one(
    pairs: DataFrame,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
    assume_distinct: bool = False,
) -> DataFrame:
    """Mutual-best-match filter: the pairs where each side is the other's
    best partner.  Output columns: (rec_col, mem_col, weight_col).

    Non-distinct input — the same (rec, mem) pair appearing twice, possibly
    at different weights — is collapsed to its max weight FIRST, so the
    result is one row per kept pair exactly like the row_number oracle
    (ADVICE r3: the semi-join formulation would otherwise emit the
    duplicates).  The collapse is one map-side-combined groupBy; callers
    whose pairs are distinct by construction (e.g. `first_pass_wins`
    output) can pass ``assume_distinct=True`` to skip that shuffle."""
    cols = [F.col(rec_col), F.col(mem_col), F.col(weight_col)]
    if assume_distinct:
        d = pairs.select(*cols)
    else:
        d = pairs.groupBy(rec_col, mem_col).agg(
            F.max(F.col(weight_col)).alias(weight_col)
        )
    best_r = _best_per_side(d, rec_col, mem_col, weight_col)
    best_m = _best_per_side(d, mem_col, rec_col, weight_col)
    return (
        d.join(
            best_r,
            (d[rec_col] == best_r["_bk"])
            & (d[mem_col] == best_r[f"best_{mem_col}"]),
            "left_semi",
        )
        .join(
            best_m,
            (d[mem_col] == best_m["_bk"])
            & (d[rec_col] == best_m[f"best_{rec_col}"]),
            "left_semi",
        )
    )


def one_to_one_sql(
    pairs_sql: str,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
) -> str:
    """DuckDB twin of :func:`one_to_one` (row_number argmax — same pair
    selection: weight desc after 6dp rounding, ties to smallest id; same
    duplicate-pair collapse to max weight first)."""
    return f"""
        SELECT {rec_col}, {mem_col}, {weight_col}
        FROM (
            SELECT d.*,
                   row_number() OVER (
                       PARTITION BY {rec_col}
                       ORDER BY round({weight_col}, 6) DESC, {mem_col} ASC
                   ) AS rk_r,
                   row_number() OVER (
                       PARTITION BY {mem_col}
                       ORDER BY round({weight_col}, 6) DESC, {rec_col} ASC
                   ) AS rk_m
            FROM (
                SELECT {rec_col}, {mem_col}, max({weight_col}) AS {weight_col}
                FROM ({pairs_sql}) p
                GROUP BY {rec_col}, {mem_col}
            ) d
        )
        WHERE rk_r = 1 AND rk_m = 1
    """


def greedy_one_to_one(
    pairs: DataFrame,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
    rounds: int = 4,
    assume_distinct: bool = False,
    shared_ids: bool = False,
) -> DataFrame:
    """Greedy weight-descending 1:1 matching by locally-dominant peeling.

    :func:`one_to_one` keeps only MUTUAL best pairs — a chain
    a-(9)-b-(8)-c assigns a-b and leaves c unmatched even though b is
    taken and c's best remaining partner might be free. The classic
    sequential semantics (sort all pairs by weight desc, accept a pair
    iff both ids are still free — what a clerical reviewer paging down
    MatchReview's weight-sorted list reproduces by hand,
    /root/reference/app/MatchReview.py:26,69) is recovered in parallel by
    the standard locally-dominant-edge device (Preis 1999; Manne-
    Bisseling): every mutual-best pair of the REMAINING graph is exactly
    a pair sequential greedy would accept, so accept them all at once,
    drop the matched ids, repeat. Under the strict total order
    (round(weight,6) DESC, partner-id ASC) each round's acceptance set is
    deterministic, and ``rounds`` rounds reproduce the greedy prefix —
    chains of length 2^rounds resolve fully; real weight graphs converge
    in a handful of rounds.

    Runs EXACTLY ``rounds`` rounds (converged rounds are no-ops) so the
    unrolled-CTE oracle (:func:`greedy_one_to_one_sql`) computes the
    identical result on any engine — the same fixed-iteration discipline
    as em.estimate_mu. Each round costs the two map-side argmax
    aggregates + two anti-joins; nothing global, no windows over the pair
    table. ``shared_ids=True`` treats rec/mem as ONE undirected id space
    (dedupe self-join pairs, which must be canonical ``id_l < id_r`` so no
    edge appears twice): a node's best partner then ranges over BOTH
    columns — column-wise mutual-best would double-assign the middle of a
    triangle — and a matched id leaves both columns.

    Output: (rec_col, mem_col, weight_col, round) — round = the peel
    round that accepted the pair (0-based).
    """
    cols = [F.col(rec_col), F.col(mem_col), F.col(weight_col)]
    if assume_distinct:
        remaining = pairs.select(*cols)
    else:
        remaining = pairs.groupBy(rec_col, mem_col).agg(
            F.max(F.col(weight_col)).alias(weight_col)
        )
    out: DataFrame | None = None
    for k in range(rounds):
        # truncate lineage per round (the closure.py discipline): the
        # remaining-graph recurrence would otherwise double the plan each
        # round and blow up Catalyst canonicalization
        if k > 0:
            from bigmatch_utilities_spark.operators.closure import _truncate

            remaining = _truncate(remaining)
        if shared_ids:
            # node-level dominance: a node's best partner ranges over BOTH
            # columns (one undirected id space; pairs must be canonical
            # id_l < id_r so an edge never appears twice). Column-wise
            # mutual-best would double-assign a node whose two edges each
            # look dominant from one column (triangle 1-2-3).
            w6 = F.round(F.col(weight_col), 6)
            nodes = remaining.select(
                F.col(rec_col).alias("_n"), F.col(mem_col).alias("_p"), w6.alias("_w")
            ).unionByName(
                remaining.select(
                    F.col(mem_col).alias("_n"),
                    F.col(rec_col).alias("_p"),
                    w6.alias("_w"),
                )
            )
            best = nodes.groupBy("_n").agg(
                F.min(
                    F.struct((-F.col("_w")).alias("nw"), F.col("_p").alias("p"))
                ).alias("b")
            ).select("_n", F.col("b.p").alias("_bp"))
            dom = (
                remaining.join(
                    best,
                    (remaining[rec_col] == best["_n"])
                    & (remaining[mem_col] == best["_bp"]),
                    "left_semi",
                )
                .join(
                    best,
                    (remaining[mem_col] == best["_n"])
                    & (remaining[rec_col] == best["_bp"]),
                    "left_semi",
                )
                .withColumn("round", F.lit(k))
            )
        else:
            dom = one_to_one(
                remaining, rec_col, mem_col, weight_col, assume_distinct=True
            ).withColumn("round", F.lit(k))
        out = dom if out is None else out.unionByName(dom)
        m_rec = dom.select(F.col(rec_col).alias("_m"))
        m_mem = dom.select(F.col(mem_col).alias("_m"))
        if shared_ids:
            matched = m_rec.unionByName(m_mem)
            remaining = remaining.join(
                matched, remaining[rec_col] == matched["_m"], "left_anti"
            )
            matched2 = m_rec.unionByName(m_mem)
            remaining = remaining.join(
                matched2, remaining[mem_col] == matched2["_m"], "left_anti"
            )
        else:
            remaining = remaining.join(
                m_rec, remaining[rec_col] == m_rec["_m"], "left_anti"
            ).join(m_mem, remaining[mem_col] == m_mem["_m"], "left_anti")
    return out


def greedy_one_to_one_sql(
    pairs_sql: str,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
    rounds: int = 4,
    shared_ids: bool = False,
) -> str:
    """Oracle twin of :func:`greedy_one_to_one`: the identical rounds
    unrolled as CTEs — per-round mutual best via the row_number argmax of
    :func:`one_to_one_sql`, matched ids removed with NOT EXISTS."""
    r, m, w = rec_col, mem_col, weight_col
    ctes = [
        f"g0 AS (SELECT {r}, {m}, max({w}) AS {w} "
        f"FROM ({pairs_sql}) p GROUP BY {r}, {m})"
    ]
    sels = []
    for k in range(rounds):
        ctes.append(
            f"dom{k} AS (SELECT {r}, {m}, {w} FROM ("
            f"SELECT d.*, "
            f"row_number() OVER (PARTITION BY {r} "
            f"ORDER BY round({w}, 6) DESC, {m} ASC) AS rk_r, "
            f"row_number() OVER (PARTITION BY {m} "
            f"ORDER BY round({w}, 6) DESC, {r} ASC) AS rk_m "
            f"FROM g{k} d) WHERE rk_r = 1 AND rk_m = 1)"
        )
        if shared_ids:
            # node-level best over both columns (see greedy_one_to_one)
            ctes[-1] = (
                f"n{k} AS (SELECT {r} AS node, {m} AS partner, {w} FROM g{k} "
                f"UNION ALL SELECT {m}, {r}, {w} FROM g{k}), "
                f"b{k} AS (SELECT node, partner FROM ("
                f"SELECT node, partner, row_number() OVER (PARTITION BY node "
                f"ORDER BY round({w}, 6) DESC, partner ASC) AS rn FROM n{k}) "
                f"WHERE rn = 1), "
                f"dom{k} AS (SELECT g.{r}, g.{m}, g.{w} FROM g{k} g "
                f"JOIN b{k} x ON x.node = g.{r} AND x.partner = g.{m} "
                f"JOIN b{k} y ON y.node = g.{m} AND y.partner = g.{r})"
            )
        sels.append(f"SELECT *, {k} AS round FROM dom{k}")
        if k + 1 < rounds:
            if shared_ids:
                cond = (
                    f"NOT EXISTS (SELECT 1 FROM dom{k} x WHERE "
                    f"x.{r} = g{k}.{r} OR x.{m} = g{k}.{r} "
                    f"OR x.{r} = g{k}.{m} OR x.{m} = g{k}.{m})"
                )
            else:
                cond = (
                    f"NOT EXISTS (SELECT 1 FROM dom{k} x WHERE x.{r} = g{k}.{r}) "
                    f"AND NOT EXISTS (SELECT 1 FROM dom{k} y WHERE y.{m} = g{k}.{m})"
                )
            ctes.append(
                f"g{k + 1} AS (SELECT * FROM g{k} WHERE {cond})"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)


def greedy_capacitated(
    pairs: DataFrame,
    rec_cap: int,
    mem_cap: int,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
    rounds: int = 4,
) -> DataFrame:
    """Greedy weight-descending capacitated assignment (b-matching): each
    rec id absorbs at most ``rec_cap`` pairs, each mem id at most
    ``mem_cap`` — the one-to-many shapes 1:1 assignment cannot express
    (household linkage: many person records -> one household master;
    claims: one reviewer -> k cases).

    Sequential semantics being reproduced: sort pairs by
    (round(weight,6) DESC, rec ASC, mem ASC); accept a pair iff BOTH ids
    still have capacity. Parallelized by the capacity generalization of
    locally-dominant peeling (Preis 1999 / Mestre 2006 b-matching):
    accept every remaining edge whose per-node rank is within BOTH
    endpoints' remaining capacity. Any such edge is provably accepted by
    the sequential order — heavier edges at the endpoint number at most
    (rank-1) <= remaining-capacity-1, so the endpoint cannot be
    saturated when the edge's turn comes — so each round's acceptance
    set is a subset of the sequential solution, and iterating converges
    to it. Runs EXACTLY ``rounds`` rounds (converged rounds are no-ops)
    so the unrolled-CTE oracle (:func:`greedy_capacitated_sql`) computes
    the identical result; ``rec_cap = mem_cap = 1`` degenerates to
    mutual-best peeling (greedy_one_to_one).

    Scale: per-round cost is two per-node row_number windows over the
    remaining pair table (window width = node degree, which candidate
    generation already caps), two capacity joins against the per-node
    accepted counts, and the anti-join prunes; no global sort, no global
    window. No join carries a broadcast hint: the count tables are
    node-scale (up to one row per id), so AQE picks the strategy from
    their measured size. Lineage is truncated per round (the closure.py discipline).

    Output: (rec_col, mem_col, weight_col, round).
    """
    from pyspark.sql.window import Window

    r, m, w = rec_col, mem_col, weight_col
    remaining = pairs.groupBy(r, m).agg(F.max(F.col(w)).alias(w))
    out: DataFrame | None = None
    for k in range(rounds):
        if k > 0:
            # truncate BOTH recurrences: remaining feeds next round's
            # ranks, and out feeds next round's capacity counts — left
            # unchecked each acc{k} nests every prior round's plan and
            # Catalyst chokes on the doubling tree
            from bigmatch_utilities_spark.operators.closure import _truncate

            remaining = _truncate(remaining)
            out = _truncate(out)
        if out is None:
            cap = remaining.withColumn("_cr", F.lit(rec_cap)).withColumn(
                "_cm", F.lit(mem_cap)
            )
        else:
            ur = out.groupBy(F.col(r).alias("_ur")).agg(
                F.count(F.lit(1)).alias("_nr")
            )
            um = out.groupBy(F.col(m).alias("_um")).agg(
                F.count(F.lit(1)).alias("_nm")
            )
            cap = (
                remaining.join(ur, remaining[r] == F.col("_ur"), "left")
                .join(um, remaining[m] == F.col("_um"), "left")
                .withColumn(
                    "_cr", F.lit(rec_cap) - F.coalesce(F.col("_nr"), F.lit(0))
                )
                .withColumn(
                    "_cm", F.lit(mem_cap) - F.coalesce(F.col("_nm"), F.lit(0))
                )
                .drop("_ur", "_nr", "_um", "_nm")
            )
        w6 = F.round(F.col(w), 6)
        rk_r = F.row_number().over(
            Window.partitionBy(r).orderBy(w6.desc(), F.col(m).asc())
        )
        rk_m = F.row_number().over(
            Window.partitionBy(m).orderBy(w6.desc(), F.col(r).asc())
        )
        acc = (
            cap.withColumn("_rr", rk_r)
            .withColumn("_rm", rk_m)
            .filter((F.col("_rr") <= F.col("_cr")) & (F.col("_rm") <= F.col("_cm")))
            .select(r, m, w)
            .withColumn("round", F.lit(k))
        )
        out = acc if out is None else out.unionByName(acc)
        if k + 1 < rounds:
            # drop accepted edges, then edges at saturated nodes (both
            # prunes mirrored in the oracle so per-round ranks agree)
            a = acc.select(F.col(r).alias("_ar"), F.col(m).alias("_am"))
            remaining = remaining.join(
                a,
                (remaining[r] == F.col("_ar")) & (remaining[m] == F.col("_am")),
                "left_anti",
            )
            ur = out.groupBy(F.col(r).alias("_ur")).agg(
                F.count(F.lit(1)).alias("_nr")
            ).filter(F.col("_nr") >= rec_cap)
            um = out.groupBy(F.col(m).alias("_um")).agg(
                F.count(F.lit(1)).alias("_nm")
            ).filter(F.col("_nm") >= mem_cap)
            remaining = remaining.join(
                ur.select("_ur"), remaining[r] == F.col("_ur"), "left_anti"
            ).join(um.select("_um"), remaining[m] == F.col("_um"), "left_anti")
    return out


def greedy_capacitated_sql(
    pairs_sql: str,
    rec_cap: int,
    mem_cap: int,
    rec_col: str = "id_rec",
    mem_col: str = "id_mem",
    weight_col: str = "weight",
    rounds: int = 4,
) -> str:
    """Oracle twin of :func:`greedy_capacitated`: the identical rounds
    unrolled as CTEs, remaining capacities from the accepted-so-far
    union, the same accepted-edge + saturated-node prunes."""
    r, m, w = rec_col, mem_col, weight_col
    ctes = [
        f"g0 AS (SELECT {r}, {m}, max({w}) AS {w} "
        f"FROM ({pairs_sql}) p GROUP BY {r}, {m})"
    ]
    sels = []
    for k in range(rounds):
        if k == 0:
            capjoin = ""
            cr, cm = str(rec_cap), str(mem_cap)
        else:
            ctes.append(
                f"ur{k} AS (SELECT {r} AS id, count(*) AS n FROM acc{k - 1} "
                f"GROUP BY {r})"
            )
            ctes.append(
                f"um{k} AS (SELECT {m} AS id, count(*) AS n FROM acc{k - 1} "
                f"GROUP BY {m})"
            )
            capjoin = (
                f" LEFT JOIN ur{k} ON ur{k}.id = d.{r} "
                f"LEFT JOIN um{k} ON um{k}.id = d.{m}"
            )
            cr = f"({rec_cap} - COALESCE(ur{k}.n, 0))"
            cm = f"({mem_cap} - COALESCE(um{k}.n, 0))"
        ctes.append(
            f"dom{k} AS (SELECT {r}, {m}, {w} FROM ("
            f"SELECT d.{r}, d.{m}, d.{w}, "
            f"row_number() OVER (PARTITION BY d.{r} "
            f"ORDER BY round(d.{w}, 6) DESC, d.{m} ASC) AS rk_r, "
            f"row_number() OVER (PARTITION BY d.{m} "
            f"ORDER BY round(d.{w}, 6) DESC, d.{r} ASC) AS rk_m, "
            f"{cr} AS cr, {cm} AS cm "
            f"FROM g{k} d{capjoin}) WHERE rk_r <= cr AND rk_m <= cm)"
        )
        ctes.append(
            f"acc{k} AS (SELECT * FROM dom{k}"
            + (f" UNION ALL SELECT * FROM acc{k - 1})" if k else ")")
        )
        sels.append(f"SELECT *, {k} AS round FROM dom{k}")
        if k + 1 < rounds:
            ctes.append(
                f"sr{k} AS (SELECT {r} AS id FROM acc{k} GROUP BY {r} "
                f"HAVING count(*) >= {rec_cap})"
            )
            ctes.append(
                f"sm{k} AS (SELECT {m} AS id FROM acc{k} GROUP BY {m} "
                f"HAVING count(*) >= {mem_cap})"
            )
            ctes.append(
                f"g{k + 1} AS (SELECT g.* FROM g{k} g WHERE "
                f"NOT EXISTS (SELECT 1 FROM dom{k} x "
                f"WHERE x.{r} = g.{r} AND x.{m} = g.{m}) "
                f"AND NOT EXISTS (SELECT 1 FROM sr{k} s WHERE s.id = g.{r}) "
                f"AND NOT EXISTS (SELECT 1 FROM sm{k} s WHERE s.id = g.{m}))"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sels)
