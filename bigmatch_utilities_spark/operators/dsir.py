"""DSIR-style data selection via importance resampling, cross-engine exact.

Data Selection with Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169) is the standard recipe for tilting a huge raw crawl
toward a small high-quality target corpus: fit cheap bag-of-hashed-ngram
models of the target and the raw distributions, score every raw document
by its log importance weight log p_target(x) - log p_raw(x), and keep a
top slice. At 100 TB the raw side is the whole crawl, so everything here
must be counts-only aggregation — no gradient steps, no driver math —
which is exactly what the hashed multinomial formulation gives:

    logw(b)     = L(t_b + 1) - L(t_tot + B)  -  L(r_b + 1) + L(r_tot + B)
    score(doc)  = SUM over token occurrences of logw(bucket(token))

with b a hashed feature bucket (md5-prefix 48-bit hash of the word
unigram, mod ``buckets``) and L the repo's integer micro-nat log
(operators/classify.py: round(ln(n) * 1e6) on exact integer counts), so
Spark and DuckDB agree bit-for-bit and the driver's value-hash gate can
compare engines exactly. Documents with zero tokens score 0 (no
evidence either way) and stay in the frame.

Plan shape at scale: two map-side-combined groupBys over the exploded
token streams (target is small — its aggregate is a broadcast; raw's
bucket table is at most ``buckets`` rows, also broadcast), then one
broadcast join + groupBy to score, so the raw corpus is only ever
streamed. Selection is ``orderBy(score desc, id).limit(k)`` which Spark
executes as TakeOrderedAndProject — per-partition partial top-k, no
global sort shuffle.

Reference parity: beyond-reference — the reference pipeline ends at
matched pairs (`/root/reference/app/MatchReview.py`); DSIR is the
corpus-selection stage a training-data pipeline runs downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .classify import _L, _L_sql, _tok_list_sql
from .dedup import _hash64, _hash64_sql
from .textanalysis import _tokens


def _bucketed_tokens(df: DataFrame, text_col: str, buckets: int, *keep: str):
    """One ``(*keep, _b)`` row per token occurrence in ``text_col``."""
    return df.select(*keep, F.explode(_tokens(F.col(text_col))).alias("_tok")).select(
        *keep, (_hash64(F.col("_tok")) % buckets).alias("_b")
    )


def dsir_bucket_weights(
    target: DataFrame,
    raw: DataFrame,
    *,
    text_col: str = "text",
    buckets: int = 1024,
) -> DataFrame:
    """(bucket, logw) — integer micro-nat log importance weight per
    hashed feature bucket, add-one smoothed on both sides. Only buckets
    observed in either corpus appear; an unseen bucket's weight is the
    constant both-sides-smoothed value L(1)-L(t_tot+B)-L(1)+L(r_tot+B),
    which scoring applies via the broadcast totals row."""
    t = (
        _bucketed_tokens(target, text_col, buckets)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    r = (
        _bucketed_tokens(raw, text_col, buckets)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_r"))
    )
    tot = t.agg(F.sum("_t").alias("_tt")).crossJoin(
        r.agg(F.sum("_r").alias("_rt"))
    )
    return (
        t.join(r, on="_b", how="full")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("_b").alias("bucket"),
            (
                _L(F.coalesce(F.col("_t"), F.lit(0)) + 1)
                - _L(F.col("_tt") + buckets)
                - _L(F.coalesce(F.col("_r"), F.lit(0)) + 1)
                + _L(F.col("_rt") + buckets)
            ).alias("logw"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    weights: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """(doc_id, dsir_score) for every raw document — integer micro-nats.
    Zero-token documents score 0. ``weights`` covers every bucket either
    corpus observed, so inner-joining the raw token stream on it loses
    nothing (every raw token's bucket is in the raw counts)."""
    per_doc = (
        _bucketed_tokens(
            raw.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
            text_col,
            buckets,
            "doc_id",
        )
        .groupBy("doc_id", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(weights), F.col("_b") == F.col("bucket"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("_c") * F.col("logw")).alias("_s"))
    )
    return (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id", F.coalesce(F.col("_s"), F.lit(0)).alias("dsir_score")
        )
    )


def dsir_keep(
    target: DataFrame,
    raw: DataFrame,
    k: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Top-``k`` raw documents by importance weight, deterministic
    tie-break on doc_id — (doc_id, dsir_score) ordered for emission.
    TakeOrderedAndProject: no global sort shuffle."""
    w = dsir_bucket_weights(target, raw, text_col=text_col, buckets=buckets)
    s = dsir_scores(
        raw, w, text_col=text_col, id_col=id_col, buckets=buckets
    )
    return s.orderBy(F.desc("dsir_score"), F.asc("doc_id")).limit(k)


def _bucket_counts_sql(src: str, text_expr: str, buckets: int, cnt: str) -> str:
    return (
        f"SELECT ({_hash64_sql('tok')} % {buckets}) AS _b, "
        f"count(*) AS {cnt} FROM (SELECT unnest({_tok_list_sql(text_expr)}) "
        f"AS tok FROM {src}) GROUP BY 1"
    )


def dsir_scores_sql(
    target_table: str,
    raw_table: str,
    *,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    buckets: int = 1024,
) -> str:
    """DuckDB twin of dsir_scores over dsir_bucket_weights: identical
    hashing, identical integer micro-nat arithmetic."""
    return f"""
        WITH t AS ({_bucket_counts_sql(target_table, text_expr, buckets, "_t")}),
        r AS ({_bucket_counts_sql(raw_table, text_expr, buckets, "_r")}),
        tot AS (SELECT (SELECT sum(_t) FROM t) AS _tt,
                       (SELECT sum(_r) FROM r) AS _rt),
        w AS (
            SELECT COALESCE(t._b, r._b) AS bucket,
                   {_L_sql("COALESCE(_t, 0) + 1")}
                   - {_L_sql(f"_tt + {buckets}")}
                   - {_L_sql("COALESCE(_r, 0) + 1")}
                   + {_L_sql(f"_rt + {buckets}")} AS logw
            FROM t FULL JOIN r ON t._b = r._b CROSS JOIN tot
        ),
        doc_b AS (
            SELECT doc_id, ({_hash64_sql('tok')} % {buckets}) AS _b,
                   count(*) AS _c
            FROM (SELECT {id_expr} AS doc_id,
                         unnest({_tok_list_sql(text_expr)}) AS tok
                  FROM {raw_table})
            GROUP BY 1, 2
        ),
        sc AS (
            SELECT doc_id, sum(_c * logw) AS _s
            FROM doc_b JOIN w ON doc_b._b = w.bucket GROUP BY 1
        )
        SELECT d.doc_id, CAST(COALESCE(sc._s, 0) AS BIGINT) AS dsir_score
        FROM (SELECT {id_expr} AS doc_id FROM {raw_table}) d
        LEFT JOIN sc ON d.doc_id = sc.doc_id
    """


def dsir_keep_sql(
    target_table: str,
    raw_table: str,
    k: int,
    *,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    buckets: int = 1024,
) -> str:
    inner = dsir_scores_sql(
        target_table,
        raw_table,
        text_expr=text_expr,
        id_expr=id_expr,
        buckets=buckets,
    )
    return (
        f"SELECT * FROM ({inner}) "
        f"ORDER BY dsir_score DESC, doc_id ASC LIMIT {k}"
    )


def dsir_sample(
    target: DataFrame,
    raw: DataFrame,
    k: int,
    *,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR's actual selection rule — sampling WITHOUT replacement with
    probability proportional to exp(logw / temperature) — made
    deterministic and cross-engine via the Gumbel-top-k trick: take the
    top ``k`` documents by (score + T * G_i), where G_i = -ln(-ln(u_i))
    and u_i is a deterministic md5-bucket uniform of the document id
    ((b + 0.5) / 2^24, never 0 or 1). Gumbel noise is computed once per
    document and quantized to integer micro-nats before the sum, so the
    sort key is an exact integer; temperature -> 0 recovers
    :func:`dsir_keep`'s argmax behavior, large temperatures approach a
    uniform subsample. Residual cross-engine float hazard: two chained
    ~1-ulp ln calls before one rounding — same class as the NB/tfidf
    quantization, detectable by the hash gate.

    Output: (doc_id, dsir_score, gumbel_key) ordered by the key,
    TakeOrderedAndProject as in dsir_keep.
    """
    w = dsir_bucket_weights(target, raw, text_col=text_col, buckets=buckets)
    s = dsir_scores(raw, w, text_col=text_col, id_col=id_col, buckets=buckets)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 24))
    g = -F.log(-F.log(u))
    key = F.col("dsir_score") + F.round(
        g * F.lit(float(temperature)) * 1_000_000, 0
    ).cast("long")
    return (
        s.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
    )


def dsir_sample_sql(
    target_table: str,
    raw_table: str,
    k: int,
    *,
    temperature: float = 1.0,
    text_expr: str = "text",
    id_expr: str = "doc_id",
    buckets: int = 1024,
) -> str:
    """DuckDB twin of :func:`dsir_sample` (identical uniform, Gumbel,
    quantization, and tie-break)."""
    inner = dsir_scores_sql(
        target_table,
        raw_table,
        text_expr=text_expr,
        id_expr=id_expr,
        buckets=buckets,
    )
    u = (
        f"((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) "
        f"AS BIGINT) + 0.5) / {float(1 << 24)!r})"
    )
    key = (
        f"(dsir_score + CAST(round(-ln(-ln({u})) * {float(temperature)!r} "
        f"* 1000000, 0) AS BIGINT))"
    )
    return (
        f"SELECT doc_id, dsir_score, {key} AS gumbel_key FROM ({inner}) "
        f"ORDER BY gumbel_key DESC, doc_id ASC LIMIT {k}"
    )
