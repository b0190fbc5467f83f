"""Term-frequency-adjusted Fellegi-Sunter agreement weights.

The reference scores agreement on a field with one global log2(m/u)
regardless of WHICH value agreed (app/BigMatchParmFile.py:489-494 carries
only per-field m/u).  The standard published refinement (Winkler 1995,
"Matching and record linkage"; same adjustment ships in public Splink) is
that agreement on a *rare* value is far stronger evidence than agreement
on a common one: for non-matches drawn at random, P(agree on value v) is
roughly v's frequency share, so the per-value agreement weight is

    w_agr(v) = log2( m / max(tf_v, tf_floor) ),   tf_v = n_v / N

while disagreement keeps the global log2((1-m)/(1-u)).  A shared surname
like "SMITH" then contributes little, a rare one a lot, with no change to
the blocking or comparator layers.

Scale design: the tf table is ONE groupBy over the base table (map-side
combined; |distinct| rows).  Attaching tf to pairs is an equi-join on the
agreed value — broadcast when the distinct count is small (dimension-table
case), shuffle+AQE otherwise.  The frequent-value skew that worries a
naive join is self-limiting here: hot values are exactly the ones blocking
caps / sharding already bound upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import MatchField
from bigmatch_utilities_spark.operators.scoring import (
    agreement_weight,
    disagreement_weight,
)

#: tf_v below this is clamped before the log — bounds the maximum boost a
#: singleton value can contribute (log2(m/1e-9) ≈ 30 bits at m=0.9).
TF_FLOOR = 1e-9


def tf_table(df: DataFrame, col: str) -> DataFrame:
    """Per-value frequency share of ``col`` in ``df``: (value, tf).

    One map-side-combined aggregation per value, divided by a one-row
    total-count aggregate cross-joined in the plan — lazy, so building a
    pass runs no Spark job. Blanks/nulls are excluded (they score 0 in the
    weight layer, never an agreement).
    """
    clean = df.filter(F.col(col).isNotNull() & (F.trim(F.col(col)) != ""))
    total = clean.agg(F.count(F.lit(1)).cast("double").alias("_tf_n"))
    return (
        clean.groupBy(F.col(col).alias("value"))
        .agg(F.count("*").alias("_tf_c"))
        .crossJoin(total)
        .select("value", (F.col("_tf_c") / F.col("_tf_n")).alias("tf"))
    )


def tf_table_sql(source_sql: str, col: str) -> str:
    """DuckDB twin of :func:`tf_table`."""
    return f"""
        SELECT {col} AS value,
               COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM ({source_sql})
                           WHERE {col} IS NOT NULL AND trim({col}) <> '') AS tf
        FROM ({source_sql})
        WHERE {col} IS NOT NULL AND trim({col}) <> ''
        GROUP BY {col}
    """


def with_tf_weight(
    pairs: DataFrame,
    mf: MatchField,
    tf: DataFrame,
    rec_prefix: str = "rec_",
    mem_prefix: str = "mem_",
    tf_floor: float = TF_FLOOR,
    out_col: str | None = None,
    broadcast_tf: bool | None = None,
) -> DataFrame:
    """Attach a TF-adjusted field weight column for exact agreement on
    ``mf`` (the `c` comparator case — the one TF adjustment applies to;
    approximate comparators keep the global interpolated weight).

        blank either side -> 0.0
        equal             -> log2(m / max(tf_value, tf_floor))
        different         -> global disagreement weight

    ``tf`` is the (value, tf) frame from :func:`tf_table` on the SAME
    population the pairs were drawn from.

    Join sizing (``broadcast_tf``): the tf table's row count is the field's
    distinct-value count — a handful for `state`, 10^8+ for `surname` at
    10^12 rows, where a forced broadcast OOMs the driver.  The default
    ``None`` therefore plans a plain equi-join and lets AQE convert it to a
    broadcast join at runtime from the *measured* map-stage size (Spark
    already makes exactly this decision with real statistics — hand-picking
    from a driver-side ``tf.count()`` would recompute the aggregation and
    still guess at bytes).  Pass ``True``/``False`` only to force a side
    when the caller knows the cardinality a priori.

    The tf columns are joined under collision-proof internal names, so a
    pairs frame that itself carries ``value``/``tf`` columns is untouched.
    """
    lc, rc = F.col(rec_prefix + mf.name), F.col(mem_prefix + mf.name)
    dis = disagreement_weight(mf.m, mf.u)
    out = out_col or f"w_{mf.name}"
    tf_slim = tf.select(
        F.col("value").alias("_tf_value"), F.col("tf").alias("_tf")
    )
    tf_side = F.broadcast(tf_slim) if broadcast_tf else tf_slim
    blank = (lc.isNull() | (F.trim(lc) == "")) | (rc.isNull() | (F.trim(rc) == ""))
    joined = pairs.join(tf_side, lc == tf_side["_tf_value"], "left")
    return joined.withColumn(
        out,
        F.when(blank, F.lit(0.0))
        .when(
            lc == rc,
            F.log2(F.lit(mf.m) / F.greatest(F.col("_tf"), F.lit(tf_floor))),
        )
        .otherwise(F.lit(dis)),
    ).drop("_tf_value", "_tf")


def tf_weight_sql(
    mf: MatchField,
    rec: str,
    mem: str,
    tf_floor: float = TF_FLOOR,
) -> str:
    """Weight expression twin of :func:`with_tf_weight` — expects the pairs
    relation to be LEFT JOINed to the tf table as alias ``tf`` already."""
    dis = disagreement_weight(mf.m, mf.u)
    blank = (
        f"({rec} IS NULL OR trim({rec}) = '' OR {mem} IS NULL OR trim({mem}) = '')"
    )
    return (
        f"(CASE WHEN {blank} THEN 0.0 "
        f"WHEN {rec} = {mem} THEN log2({mf.m!r} / greatest(tf.tf, {tf_floor!r})) "
        f"ELSE {dis!r} END)"
    )


def max_agreement_weight(mf: MatchField, tf_floor: float = TF_FLOOR) -> float:
    """The boost ceiling the floor implies (documentation/validation aid)."""
    import math

    return math.log2(mf.m / tf_floor)


__all__ = [
    "TF_FLOOR",
    "tf_table",
    "tf_table_sql",
    "with_tf_weight",
    "tf_weight_sql",
    "max_agreement_weight",
    "agreement_weight",
]
