"""spark-submit entrypoint: NIGHTLY-DELTA linkage — match only the new
records against themselves and the standing corpus, fold the resulting
pairs into the standing entity assignment, and refresh golden records for
exactly the touched clusters.

    spark-submit --py-files bigmatch_utilities_spark.zip jobs/run_incremental.py \
        --delta <new records parquet/iceberg> \
        --standing <standing records parquet/iceberg> \
        --base-clusters <standing (id, cluster_id) parquet> \
        --output <dir> \
        [--no-minhash] [--max-block-rows N] [--shard-rows N] \
        [--fuse-fields lang,repo] [--resume]

Contrast with jobs/run_pipeline.py --base: that job re-MATCHES the whole
input and only the closure stage is incremental; this one also makes the
match stage incremental (repo_linkage.run_repo_linkage_delta), so nightly
cost is O(delta x touched blocks), not O(corpus²). The reference has no
incremental mode at all — every BigMatch run re-reads both files
(/root/reference/app/bigmatch.py drives full runs only).

Outputs under --output:

    pairs/              scored delta-touching pairs (partitioned by pass_id)
    good_pairs/         exact + accepted delta-touching pairs
    clusters/           the FULL updated (id, cluster_id) assignment —
                        standing rows relabeled where clusters merged, plus
                        one row per delta record (singletons included, so
                        the output is a drop-in replacement standing table
                        for tomorrow's run)
    entities_delta/     with --fuse-fields: one canonical row per TOUCHED
                        cluster (a cluster gaining/losing/relabeling any
                        member tonight). Untouched entities are not
                        rewritten — merge entities_delta over the standing
                        entity table by cluster_id (Iceberg MERGE INTO in
                        a real deployment).

--resume skips stages whose terminal output already carries _SUCCESS,
same contract as run_pipeline.py.

Equivalence: clusters/ is bit-identical to a batch recompute over
(standing ∪ delta) — pinned by tests/test_run_incremental.py — up to the
documented LSH/block cap boundary caveat in run_repo_linkage_delta.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _load_pipeline():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run_pipeline.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--delta", required=True, help="new records (parquet/iceberg)")
    p.add_argument(
        "--standing", required=True, help="standing records (parquet/iceberg)"
    )
    p.add_argument(
        "--base-clusters",
        required=True,
        help="standing (id, cluster_id) assignment parquet",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--no-minhash", action="store_true")
    p.add_argument("--max-block-rows", type=int, default=100_000)
    p.add_argument("--shard-rows", type=int, default=192)
    p.add_argument(
        "--fuse-fields",
        default=None,
        help="comma-separated record columns: refresh golden records for "
        "the touched clusters into entities_delta/",
    )
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()

    from bigmatch_utilities_spark.operators.cluster_audit import incremental_closure
    from bigmatch_utilities_spark.plans.tables import read_table
    from bigmatch_utilities_spark.repo_linkage import (
        ID_COL,
        run_repo_linkage_delta,
        with_record_id,
    )

    _has_success = _load_pipeline()._has_success
    spark = SparkSession.builder.appName("bigmatch-run-incremental").getOrCreate()
    out = args.output

    def tbl(target: str):
        return read_table(
            spark,
            target,
            fmt="iceberg" if "." in target and "/" not in target else "parquet",
        )

    # ---- stage 1: delta match -> pairs/ + good_pairs/ ---------------------
    if args.resume and _has_success(spark, f"{out}/good_pairs"):
        print(f"[incremental] match stage complete ({out}/good_pairs) — skipped")
    else:
        result = run_repo_linkage_delta(
            tbl(args.delta),
            tbl(args.standing),
            use_minhash_pass=not args.no_minhash,
            max_block_rows=args.max_block_rows,
            shard_rows=args.shard_rows or None,
        )
        result.pairs.write.mode("overwrite").partitionBy("pass_id").parquet(
            f"{out}/pairs"
        )
        result.good_pairs().write.mode("overwrite").parquet(f"{out}/good_pairs")
        result.pairs.unpersist()

    # ---- stage 2: incremental closure -> clusters/ -------------------------
    if args.resume and _has_success(spark, f"{out}/clusters"):
        print(f"[incremental] closure stage complete ({out}/clusters) — skipped")
    else:
        good = spark.read.parquet(f"{out}/good_pairs")
        base = spark.read.parquet(args.base_clusters)
        updated = incremental_closure(base, good, src="id_rec", dst="id_mem")
        # delta records with no pair at all are brand-new singleton entities:
        # incremental_closure only adds rows for delta-EDGE endpoints, so
        # union the untouched delta ids labeled by themselves — the output
        # is then the complete next-night standing table
        delta_ids = with_record_id(tbl(args.delta)).select(
            F.col(ID_COL).alias("id")
        )
        singles = delta_ids.join(updated.select("id"), "id", "left_anti").select(
            "id", F.col("id").alias("cluster_id")
        )
        updated.unionByName(singles).write.mode("overwrite").parquet(
            f"{out}/clusters"
        )

    # ---- stage 3: golden-record refresh for touched clusters --------------
    if not args.fuse_fields:
        spark.stop()
        return
    if args.resume and _has_success(spark, f"{out}/entities_delta"):
        print(
            f"[incremental] fuse stage complete ({out}/entities_delta) — skipped"
        )
        spark.stop()
        return

    from bigmatch_utilities_spark.operators.golden_record import golden_record

    clusters = spark.read.parquet(f"{out}/clusters")
    good = spark.read.parquet(f"{out}/good_pairs")
    delta_ids = with_record_id(tbl(args.delta)).select(F.col(ID_COL).alias("id"))
    # touched = any cluster holding a delta record or a good-pair endpoint
    # (every good pair touches the delta by construction, so this is the
    # complete set of clusters whose membership or label changed tonight)
    touched_ids = (
        delta_ids.unionByName(good.select(F.col("id_rec").alias("id")))
        .unionByName(good.select(F.col("id_mem").alias("id")))
        .distinct()
    )
    touched = (
        clusters.join(F.broadcast(touched_ids), "id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = clusters.join(F.broadcast(touched), "cluster_id", "left_semi")
    records = with_record_id(tbl(args.standing)).unionByName(
        with_record_id(tbl(args.delta))
    )
    fields = [f for f in args.fuse_fields.split(",") if f]
    joined = records.join(
        members.select(F.col("id").alias(ID_COL), "cluster_id"), ID_COL
    )
    golden_record(joined, "cluster_id", fields).write.mode("overwrite").parquet(
        f"{out}/entities_delta"
    )
    spark.stop()


if __name__ == "__main__":
    main()
