"""Corpus-curation operators: leakage-safe split, contamination, repetition,
and WNP meta-blocking."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.corpus_ops import (
    contamination_report,
    leakage_safe_split,
    repetition_profile,
)
from bigmatch_utilities_spark.operators.meta_blocking import (
    cbs_edges,
    meta_block_pairs,
    wnp_pairs,
    wnp_prune,
)


def test_split_is_cluster_granular_and_deterministic(spark):
    # 600 rows in 200 clusters of 3 — every member must share its
    # cluster's split, and re-running must give the identical assignment
    rows = [(i, i // 3) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, cluster_id long")
    out1 = leakage_safe_split(df).collect()
    out2 = leakage_safe_split(df).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    by_cluster: dict[int, set[str]] = {}
    for r in out1:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # all three splits realized, and train dominates (80/10/10 target)
    counts = {s: 0 for s in ("train", "val", "test")}
    for r in out1:
        counts[r.split] += 1
    assert counts["train"] > counts["val"] > 0
    assert counts["test"] > 0
    assert counts["train"] > 0.6 * 600


def test_split_custom_percentages(spark):
    df = spark.createDataFrame([(i, i) for i in range(500)], "id long, cluster_id long")
    out = leakage_safe_split(df, train_pct=0, val_pct=100).collect()
    assert {r.split for r in out} == {"val"}


def test_contamination_counts_by_hand(spark):
    # benchmark holds "a b c d e"; corpus doc 1 shares exactly that one
    # 5-gram out of its two; doc 2 shares nothing; doc 3 is too short for
    # a 5-gram and falls back to its whole token string (no overlap)
    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # grams: "a b c d e", "b c d e f"
            (2, "x y z w v u"),      # grams: 2, no overlap
            (3, "hi there"),          # short fallback: "hi there"
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    out = {r.id: r for r in contamination_report(corpus, bench, "text", "doc_id", n=5).collect()}
    assert out[1].n_grams == 2 and out[1].n_contaminated == 1
    assert abs(out[1].contaminated_frac - 0.5) < 1e-9
    assert out[2].n_grams == 2 and out[2].n_contaminated == 0
    assert out[3].n_grams == 1 and out[3].n_contaminated == 0


def test_contamination_empty_doc_reports_zero_not_dropped(spark):
    corpus = spark.createDataFrame(
        [(1, "   "), (2, "a b c d e")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    out = {r.id: r for r in contamination_report(corpus, bench, "text", "doc_id", n=5).collect()}
    assert out[1].n_grams == 0 and out[1].n_contaminated == 0
    assert out[1].contaminated_frac is None
    assert out[2].n_contaminated == 1


def test_repetition_profile_by_hand(spark):
    df = spark.createDataFrame(
        [
            (1, "go go go go"),   # bigrams: "go go" x3 -> dup 2/3
            (2, "a b c"),          # bigrams: "a b", "b c" -> dup 0
            (3, "solo"),           # short fallback: 1 gram, dup 0
            (4, "  "),             # empty: 0 grams, NULL frac
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in repetition_profile(df, "text", "doc_id", n=2).collect()}
    assert out[1].n_grams_total == 3 and out[1].n_grams_distinct == 1
    assert abs(out[1].dup_frac - 2 / 3) < 1e-9
    assert out[2].dup_frac == 0.0
    assert out[3].n_grams_total == 1 and out[3].dup_frac == 0.0
    assert out[4].n_grams_total == 0 and out[4].dup_frac is None


def test_wnp_prune_local_means_by_hand(spark):
    # node 1: edges 3,1 (mean 2)  -> (1,2,cbs=3) kept via node 1
    # edge (1,3,cbs=1): node1 mean 2 (drop), node3 edges 1,1 (mean 1) -> kept
    # edge (2,4,cbs=1): node2 edges 3,1 (mean 2 -> drop), node4 edge 1
    #   (mean 1) -> kept via node 4
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 4, 1), (3, 5, 1)],
        "id_l long, id_r long, cbs long",
    )
    kept = {(r.id_l, r.id_r) for r in wnp_prune(edges).collect()}
    assert kept == {(1, 2), (1, 3), (2, 4), (3, 5)}


def test_wnp_keeps_sparse_region_wep_starves(spark):
    # a dense clique of weight-5 edges inflates the global mean past the
    # sparse region's weight-1 edge: WEP drops it, WNP keeps it (it is the
    # sparse nodes' only — hence locally average — evidence)
    rows = [(f"d{i}", f"d{j}", 5) for i in range(4) for j in range(i + 1, 4)]
    rows.append(("s1", "s2", 1))
    edges = spark.createDataFrame(rows, "id_l string, id_r string, cbs long")
    wnp_kept = {(r.id_l, r.id_r) for r in wnp_prune(edges).collect()}
    assert ("s1", "s2") in wnp_kept
    # global WEP on the same frame: mean = (30+1)/7 > 1 -> the sparse edge dies
    stats = edges.agg(F.sum("cbs").alias("s"), F.count(F.lit(1)).alias("n"))
    wep_kept = {
        (r.id_l, r.id_r)
        for r in edges.crossJoin(F.broadcast(stats))
        .filter(F.col("cbs") * F.col("n") >= F.col("s"))
        .collect()
    }
    assert ("s1", "s2") not in wep_kept


def test_wnp_pairs_subset_of_raw_edges(spark):
    df = spark.createDataFrame(
        [(i, f"v{i % 7}", f"w{i % 11}") for i in range(120)],
        "id long, a string, b string",
    )
    keys = {"ka": "a", "kb": "b"}
    raw = {(r.id_l, r.id_r) for r in cbs_edges(df, "id", keys).collect()}
    wnp = {(r.id_l, r.id_r) for r in wnp_pairs(df, "id", keys).collect()}
    wep = {(r.id_l, r.id_r) for r in meta_block_pairs(df, "id", keys).collect()}
    assert wnp <= raw and wep <= raw
    assert wnp  # something survives


def test_stratified_sample_deterministic_and_monotone(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "id long, lang string",
    )
    k1 = {r.id for r in stratified_sample(df, "id", "lang", {"en": 0.3}).collect()}
    k2 = {r.id for r in stratified_sample(df, "id", "lang", {"en": 0.3}).collect()}
    assert k1 == k2  # deterministic
    # monotone: raising the rate only ADDS rows
    k3 = {r.id for r in stratified_sample(df, "id", "lang", {"en": 0.6}).collect()}
    assert k1 <= k3
    # rates approximately honored per stratum; 'de' untouched (default 1.0)
    en_kept = sum(1 for i in k1 if i % 2 == 0)
    assert 0.2 * 1000 < en_kept < 0.4 * 1000
    assert sum(1 for i in k1 if i % 2 == 1) == 1000


def test_stratified_sample_rate_edges(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import stratified_sample

    df = spark.createDataFrame(
        [(i, "en") for i in range(200)], "id long, lang string"
    )
    assert stratified_sample(df, "id", "lang", {"en": 0.0}).count() == 0
    assert stratified_sample(df, "id", "lang", {"en": 1.0}).count() == 200
    # default_rate applies to strata absent from the rates map
    df2 = spark.createDataFrame([(i, "fr") for i in range(200)], "id long, lang string")
    assert stratified_sample(df2, "id", "lang", {"en": 0.0}, default_rate=0.0).count() == 0


# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------


def test_pii_scrub_matches_duckdb_oracle(spark, tmp_path):
    from bigmatch_utilities_spark.operators.corpus_ops import (
        pii_scrub,
        pii_scrub_sql,
    )

    rows = [
        (1, "mail me at jo.doe+x@ex-ample.co.uk or 10.0.0.255 now"),
        (2, "ssn 123-45-6789 phone +1 415-555-0199 and 999.999.999.999"),
        (3, "no pii here, just words and the year 2024"),
        (4, "call 08 123 4567 89 or email a@b.io c@d.org"),
        (5, "edge: 1.2.3.4.5 and v1.2.3 and x@y.z"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pii.parquet")
    df.write.mode("overwrite").parquet(path)
    got = sorted(
        tuple(r) for r in pii_scrub(df, "text").collect()
    )
    sql = pii_scrub_sql(
        f"SELECT * FROM read_parquet('{path}/*.parquet')", "text"
    )
    exp = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == exp


def test_pii_scrub_sequential_category_semantics(spark):
    """Each category operates on the PREVIOUSLY scrubbed text: an email's
    digits never double-count as a phone, and an SSN inside a longer
    digit run is taken by the earlier SSN pass."""
    from bigmatch_utilities_spark.operators.corpus_ops import pii_scrub

    df = spark.createDataFrame(
        [(1, "reach 123-45-6789 at user123456789@host.org")],
        "doc_id long, text string",
    )
    r = pii_scrub(df, "text").collect()[0]
    assert (r.n_email, r.n_ssn, r.n_phone) == (1, 1, 0)
    assert r.text_scrubbed == "reach <SSN> at <EMAIL>"


def test_pii_scrub_is_map_only(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import pii_scrub

    df = spark.createDataFrame([(1, "x@y.zz")], "doc_id long, text string")
    plan = (
        pii_scrub(df, "text")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan
    for marker in ("ArrowEval", "BatchEvalPython", "PythonUDF"):
        assert marker not in plan


def test_license_detect_patterns(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import (
        license_detect,
        license_histogram,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "header: Licensed under the Apache License, Version 2.0 rest"),
        (2, "Permission is hereby granted, free of charge, to any person"),
        (3, "covered by the GNU General Public License as published, Version 3"),
        (4, "this file is under the GNU General Public License version 2 only"),
        (5, "Redistribution and use in source and binary forms, with or without"),
        (6, "subject to the Mozilla Public License, v. 2.0 terms"),
        (7, "no license text at all here"),
        # dual mention: Apache listed first in LICENSE_PATTERNS -> wins
        (8, "MIT license text but also licensed under the Apache License"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.license
        for r in df.select(
            "doc_id", license_detect(F.col("text")).alias("license")
        ).collect()
    }
    assert got == {
        1: "Apache-2.0",
        2: "MIT",
        3: "GPL-3.0",
        4: "GPL-2.0",
        5: "BSD-3-Clause",
        6: "MPL-2.0",
        7: "none",
        8: "Apache-2.0",
    }
    hist = {
        r.license: r.n_docs
        for r in license_histogram(df, by=None).collect()
    }
    assert hist["Apache-2.0"] == 2 and hist["none"] == 1


def test_license_detect_sql_parity(spark, tmp_path):
    import duckdb

    from bigmatch_utilities_spark.operators.corpus_ops import (
        license_detect,
        license_detect_sql,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "Licensed under the Apache License, Version 2.0",
                "apache license version 2.0 lowercase",
                "THE MIT LICENSE",
                "gnu general public license ............ version 3",
                "redistribution and use in source and binary forms",
                "mozilla public license 2.0",
                "nothing to see",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(pq)
    got = sorted(
        (r.doc_id, r.license)
        for r in df.select(
            "doc_id", license_detect(F.col("text")).alias("license")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT doc_id, {license_detect_sql('text')} AS license FROM t"
        ).fetchall()
    )
    assert got == want


def test_quota_cap_caps_each_group_best_first(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import quota_cap

    rows = [
        # group a: 5 rows, quality = id*10 → top-2 are ids 4, 3
        *[(i, "a", i * 10) for i in range(5)],
        # group b: 1 row (below cap)
        (10, "b", 7),
        # group c: tie on quality → lower id wins
        (20, "c", 50),
        (21, "c", 50),
        (22, "c", 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q long")
    got = {
        (r.source, r.quota_rank): r.doc_id
        for r in quota_cap(
            df, "doc_id", "source", 2, quality_col="q", salt=3
        ).collect()
    }
    assert got == {
        ("a", 1): 4,
        ("a", 2): 3,
        ("b", 1): 10,
        ("c", 1): 20,
        ("c", 2): 21,
    }


def test_quota_cap_salted_matches_single_window_with_null_quality(spark):
    """Phase-1 salting must not change the result, including NULL
    qualities (DESC NULLS LAST ranks them after every non-null)."""
    from pyspark.sql.window import Window

    from bigmatch_utilities_spark.operators.corpus_ops import quota_cap

    rows = [
        (i, f"g{i % 4}", None if i % 5 == 0 else (i * 37) % 23)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, q int")
    for salt in (1, 2, 7):
        got = sorted(
            (r.source, r.quota_rank, r.doc_id)
            for r in quota_cap(
                df, "doc_id", "source", 3, quality_col="q", salt=salt
            ).collect()
        )
        w = Window.partitionBy("source").orderBy(
            F.desc_nulls_last("q"), F.asc("doc_id")
        )
        want = sorted(
            (r.source, r.quota_rank, r.doc_id)
            for r in df.withColumn("quota_rank", F.row_number().over(w))
            .filter(F.col("quota_rank") <= 3)
            .collect()
        )
        assert got == want, f"salt={salt}"


def test_quota_cap_without_quality_keeps_lowest_ids(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import quota_cap

    df = spark.createDataFrame(
        [(i, "x") for i in range(10)], "doc_id long, source string"
    )
    got = sorted(
        r.doc_id for r in quota_cap(df, "doc_id", "source", 4).collect()
    )
    assert got == [0, 1, 2, 3]


def test_quota_cap_salts_string_ids(spark):
    """Non-numeric string ids are salted on their hash: a long cast made
    every slice NULL (one slice) or, under ANSI, raised."""
    from pyspark.sql.window import Window

    from bigmatch_utilities_spark.operators.corpus_ops import quota_cap

    rows = [(f"doc-{i:03d}", f"g{i % 3}", (i * 7) % 11) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id string, source string, q int")
    got = sorted(
        (r.source, r.quota_rank, r.doc_id)
        for r in quota_cap(df, "doc_id", "source", 4, quality_col="q", salt=8).collect()
    )
    w = Window.partitionBy("source").orderBy(F.desc_nulls_last("q"), F.asc("doc_id"))
    want = sorted(
        (r.source, r.quota_rank, r.doc_id)
        for r in df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= 4)
        .collect()
    )
    assert got == want


def test_line_dedup_removes_frequent_lines_keeps_order(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import line_dedup

    footer = "(c) example corp all rights reserved"
    rows = [
        (i, f"unique opener {i}\n{footer}\nunique closer {i}") for i in range(12)
    ] + [
        (100, "no footer here\njust content"),
        (101, footer),          # footer-only doc -> empty clean_text, row kept
        (102, f"{footer}\n\n{footer}"),  # doubled footer + blank line
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, "text", "doc_id", min_df=10).collect()}
    assert len(out) == 15
    assert out[0].clean_text == "unique opener 0\nunique closer 0"
    assert out[0].n_lines == 3 and out[0].n_removed == 1
    assert out[100].clean_text == "no footer here\njust content"
    assert out[100].n_removed == 0
    assert out[101].clean_text == "" and out[101].n_removed == 1
    # both footers go; the surviving blank line renders as empty text
    assert out[102].clean_text == ""
    assert out[102].n_removed == 2 and out[102].n_lines == 3


def test_line_dedup_below_threshold_untouched(spark):
    from bigmatch_utilities_spark.operators.corpus_ops import line_dedup

    rows = [(i, f"shared line\nbody {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, "text", "doc_id", min_df=10).collect()}
    assert all(v.n_removed == 0 for v in out.values())
    assert out[3].clean_text == "shared line\nbody 3"


def test_line_dedup_keeps_null_text_docs(spark, tmp_path):
    """A NULL-text document keeps its row with clean_text = '' on both
    engines, like an all-boilerplate document."""
    from bigmatch_utilities_spark.operators.corpus_ops import (
        line_dedup,
        line_dedup_sql,
    )

    rows = [(i, f"footer\nbody {i}") for i in range(3)] + [(7, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in line_dedup(df, "text", "doc_id", min_df=3).collect())
    assert got == [
        (0, "body 0", 2, 1), (1, "body 1", 2, 1), (2, "body 2", 2, 1), (7, "", 1, 0),
    ]
    pq = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted(tuple(r) for r in con.execute(line_dedup_sql("t", min_df=3)).fetchall())
    assert got == want
