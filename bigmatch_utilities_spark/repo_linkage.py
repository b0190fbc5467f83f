"""The north-rule pipeline: record linkage over the source-code repo table.

Input schema (BASELINE.json input_hint):
    (repo: string, path: string, commit: string, lang: string, content: string)

This module derives blocking/matching columns from `content` and declares
a multi-pass MatchConfig; the generic engine (operators.pipeline +
operators.closure) does the rest, every pass scored by the same
score_pass and reduced first-pass-wins. The pass design mirrors the
reference's strict-first multi-pass strategy (samplefiles/parmf_new.txt:
exact pass → looser passes):

  pass 0  block content_sha                — byte-identical duplicates
  pass 1  block content_sha_nows           — whitespace/comment-insensitive
          (catches formatting-only forks exactly)
  pass 2  block (lang, anchor_line)        — rare-token anchor blocking
          (the distinctive last non-comment line; analogous to the census
          config's precomputed soundex keys) + fuzzy head/tail scoring
  pass 3  MinHash-LSH band keys            — general near-dup canopy
          (MINHASH_PASS, an ``Lsh`` pass: operators.dedup.minhash_candidates
          supplies candidates; they are scored with the same FS fields as
          pass 2). repo_match_config() holds passes 0-2 and
          repo_linkage_config() appends pass 3.

All derived columns are built-in expressions (sha2 / regexp / split);
content never crosses into Python except inside the Arrow JW kernel on the
already-blocked candidate pairs.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import (
    BlockField,
    BlockingPassSpec,
    CutoffSpec,
    Equi,
    FieldRef,
    Lsh,
    MatchConfig,
    MatchField,
)
from bigmatch_utilities_spark.operators.closure import cluster_accepted_pairs
from bigmatch_utilities_spark.operators.pipeline import (
    MatchResult,
    accept_at,
    match_pairs,
    pass_candidates,
    run_match,
    score_candidates,
    union_passes,
)

ID_COL = "record_id"


def with_record_id(df: DataFrame) -> DataFrame:
    """Deterministic unique id when the table lacks one: the (repo, path,
    commit) business key is unique by construction; hash it. sha2-based so
    re-runs and resumes agree (monotonically_increasing_id would not)."""
    if ID_COL in df.columns:
        return df
    return df.withColumn(
        ID_COL,
        F.conv(
            F.substring(F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256), 1, 15),
            16,
            10,
        ).cast("long"),
    )


def prepare(df: DataFrame) -> DataFrame:
    """Derive blocking/matching columns. One projection — no shuffle."""
    nocomment = F.regexp_replace(
        F.col("content"), r"(?m)^\s*(#|//)[^\n]*\n?", ""
    )
    norm = F.trim(F.regexp_replace(nocomment, r"\s+", " "))
    lines = F.filter(
        F.split(nocomment, "\n"), lambda x: F.trim(x) != F.lit("")
    )
    return (
        with_record_id(df)
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
        .withColumn("content_norm", norm)
        .withColumn("content_sha_nows", F.sha2(norm, 256))
        .withColumn("head_line", F.trim(F.element_at(lines, 1)))
        .withColumn("anchor_line", F.trim(F.element_at(lines, -1)))
        .withColumn("head_64", F.substring(norm, 1, 64))
        .withColumn(
            "tail_64",
            F.substring(norm, -64, 64),
        )
        .withColumn("n_chars", F.length(norm).cast("string"))
    )


#: Fuzzy-pass evidence, m/u calibrated on the synthetic distributions
#: (measured: near-dup head_64 JW ≥ 0.92, full-text JW ≥ 0.91; negatives
#: max ≈ 0.89): exact agreement on the rare-token anchor line is strong
#: positive evidence (log2(0.9/0.01) ≈ +6.5), JW on the 64-char
#: normalized head/tail adds ±4-5; a hard negative (same structure,
#: different content) lands ≤ -5, a true near-dup ≥ +8, so the accept
#: threshold 4 has margin on both sides.
_FUZZY_FIELDS = (
    MatchField(name="anchor_line", comparator="c", m=0.90, u=0.01),
    MatchField(name="head_64", comparator="uo", m=0.95, u=0.02),
    MatchField(name="tail_64", comparator="uo", m=0.90, u=0.05),
)

_HASH_PASS_FIELDS = (
    MatchField(name="n_chars", comparator="q", m=0.95, u=0.05),
    MatchField(name="head_64", comparator="c", m=0.90, u=0.10),
)


def repo_match_config(accept_threshold: float = 4.0) -> MatchConfig:
    return MatchConfig(
        passes=(
            BlockingPassSpec(  # pass 0: exact content
                block_fields=(BlockField(name="content_sha"),),
                match_fields=_HASH_PASS_FIELDS,
                cutoff=CutoffSpec(hi=4.0, lo=0.0),
                print_cutoff=CutoffSpec(hi=4.0, lo=0.0),
                # identical-content boilerplate (license files vendored by
                # 10^4+ repos) makes one hash block quadratic; the hash key
                # determines the match, so the min-id star is
                # closure-equivalent at O(n) cost.
                blocker=Equi(star_block_rows=64),
            ),
            BlockingPassSpec(  # pass 1: whitespace/comment-normalized exact
                block_fields=(BlockField(name="content_sha_nows"),),
                match_fields=_HASH_PASS_FIELDS,
                cutoff=CutoffSpec(hi=4.0, lo=0.0),
                print_cutoff=CutoffSpec(hi=4.0, lo=0.0),
                blocker=Equi(star_block_rows=64),
                # sha-equal pairs are exactly pass 0's pairs
                suppress_equal=("content_sha",),
            ),
            BlockingPassSpec(  # pass 2: rare-token anchor + fuzzy scoring
                block_fields=(
                    BlockField(name="lang"),
                    BlockField(name="anchor_line"),
                ),
                match_fields=_FUZZY_FIELDS,
                cutoff=CutoffSpec(hi=4.0, lo=-100.0),
                print_cutoff=CutoffSpec(hi=4.0, lo=-100.0),
                # content_sha_nows-equal ⊇ content_sha-equal: every such
                # pair was found by pass 0 or 1; never JW-score it again.
                suppress_equal=("content_sha_nows",),
            ),
        ),
        id_field=FieldRef(name=ID_COL),
        dedupe_single_file=True,
        accept_threshold=accept_threshold,
    )


def with_tf_adjust(cfg: MatchConfig, names: tuple[str, ...]) -> MatchConfig:
    """Flip ``tf_adjust`` on every match field named in ``names`` across all
    passes of ``cfg`` (jobs/run_match --tf-adjust). Naming a non-exact-
    comparator field raises MatchField's own validation error — loud, not
    silent."""
    return replace(
        cfg,
        passes=tuple(
            replace(
                p,
                match_fields=tuple(
                    replace(mf, tf_adjust=True) if mf.name in names else mf
                    for mf in p.match_fields
                ),
            )
            for p in cfg.passes
        ),
    )


#: Pass 3: a MinHash-LSH canopy over ``content_norm``, scored with the
#: fuzzy fields and decided at 4.0. b=4 x r=4 (same 16 hashes as 8x2,
#: sharply lower false-candidate rate: P(collide) at J=0.3 is 4*0.3^16-ish
#: vs 8*0.3^2 — the candidate volume, and with it the whole pass-3 cost,
#: drops an order of magnitude while true near-dups at J>=0.85 still
#: collide with P >= 0.93). Buckets above 256 rows are template/boilerplate
#: canopies, not duplicate evidence: their members' true duplicates are
#: exact/nows/anchor-pass catches, and 256 keeps the worst bucket ~32k
#: pairs before sharding. Pairs an exact pass already decided
#: (content_sha_nows-equal, see pass 2) are not scored again.
MINHASH_PASS = BlockingPassSpec(
    block_fields=(),
    match_fields=_FUZZY_FIELDS,
    cutoff=CutoffSpec(hi=4.0, lo=-100.0),
    print_cutoff=CutoffSpec(hi=4.0, lo=-100.0),
    suppress_equal=("content_sha_nows",),
    blocker=Lsh("content_norm", shingle_k=3, bands=4, rows_per_band=4, max_bucket=256),
)


def repo_linkage_config(
    use_minhash_pass: bool = True, tf_adjust_fields: tuple[str, ...] = ()
) -> MatchConfig:
    """The passes :func:`run_repo_linkage` runs: :func:`repo_match_config`'s
    three, TF-adjusted on ``tf_adjust_fields``, then :data:`MINHASH_PASS`,
    which always scores with the plain fuzzy fields."""
    cfg = repo_match_config()
    if tf_adjust_fields:
        cfg = with_tf_adjust(cfg, tuple(tf_adjust_fields))
    if use_minhash_pass:
        cfg = replace(cfg, passes=(*cfg.passes, MINHASH_PASS))
    return cfg


def run_repo_linkage(
    df: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
    shard_rows: int | None = 192,
    gamma_fields: tuple | None = None,
    tf_adjust_fields: tuple[str, ...] = (),
) -> MatchResult:
    """Full multi-pass linkage over a repo-files DataFrame: the
    :func:`repo_linkage_config` passes over :func:`prepare`'s columns,
    through ``run_match``.

    shard_rows: adaptive hot-block salting target (see operators.blocking):
    fuzzy blocks and LSH buckets bigger than this get their quadratic pair
    output spread over proportionally many join tasks. The 100 TB scaling
    property depends on it — without it a handful of boilerplate anchor
    blocks serialize the whole comparator stage onto a few cores.

    gamma_fields: attach per-pair ``g_<field>`` agreement indicators in the
    scoring stage of every pass (incl. the LSH pass) so EM calibration
    reads them straight off ``result.pairs`` — no second scan
    (operators.pipeline.score_pass)."""
    return run_match(
        prepare(df),
        None,
        repo_linkage_config(use_minhash_pass, tf_adjust_fields),
        ID_COL,
        max_block_rows=max_block_rows,
        shard_rows=shard_rows,
        persist=False,
        gamma_fields=gamma_fields,
    )


def run_repo_linkage_delta(
    delta: DataFrame,
    standing: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
    shard_rows: int | None = 192,
) -> MatchResult:
    """Incremental (nightly-delta) linkage: every pair TOUCHING the delta,
    never an old-old pair — the match stage of "link today's records into
    the standing entity table" (jobs/run_incremental.py drives it, then
    operators/cluster_audit.incremental_closure folds the good pairs into
    the standing assignment).

    Decomposition, exact by construction (ids disjoint by the with_record_id
    business-key contract):

    * delta-delta: the ordinary self-dedupe `run_match` of the three
      blocked passes over the delta alone — the standing table is never
      scanned;
    * delta-standing: the same passes in two-file LINKAGE mode (rec=delta,
      mem=standing) — BigMatch's rec/mem shape
      (/root/reference/app/BigMatchParmFile.py REC/MEM file slots); no
      canonicalization is needed because the id sets are disjoint. Each
      pass streams the standing table once against the (typically
      broadcastable — AQE decides from measured size) delta side;
    * LSH canopy: :data:`MINHASH_PASS`'s candidates over standing ∪ delta,
      filtered to delta-touching pairs with two map-only broadcast
      semi/anti joins on the delta id set, then scored like any pass.

    Union + first_pass_wins yields the standard decision sets over the
    delta-touching pair universe.

    Equivalence contract (pinned by test): good_pairs(base batch over OLD)
    ∪ good_pairs(this delta run), transitively closed, equals the batch
    recompute over OLD ∪ delta — with one honest cap-boundary caveat: a
    delta that pushes an LSH bucket or blocking block past its size cap
    drops that canopy in the incremental path where the base run may have
    kept it (and vice versa). The caps exist to drop boilerplate
    mega-blocks, and the divergence heals at the next full recompute.

    100 TB notes: the standing table is scanned once per equi-join pass
    and once for band keys — at real scale persist the band keys as a
    checkpoint table and append the delta's, turning the canopy stage
    into a delta-vs-bands join. The equi-join passes already prune to the
    delta's blocking-key values when the standing side is Iceberg
    (runtime filter / DPP on the partition keys lang, bucket(repo)).
    """
    prep_d = prepare(delta)
    prep_s = prepare(standing)

    cfg = repo_match_config()
    # star emission is a self-join device; in two-file mode the exact-hash
    # passes join delta x standing directly — per delta row the fan-out is
    # the standing block size, bounded by max_block_rows (linear, not
    # quadratic, in the standing side)
    cfg_link = replace(
        cfg,
        dedupe_single_file=False,
        passes=tuple(replace(p, blocker=Equi()) for p in cfg.passes),
    )
    kw = dict(max_block_rows=max_block_rows, shard_rows=shard_rows, persist=False)
    dd = match_pairs(prep_d, None, cfg, ID_COL, **kw)
    ds = match_pairs(prep_d, prep_s, cfg_link, ID_COL, **kw)
    # canonicalize the linkage run's (delta, standing) orientation to
    # (min id, max id) so first_pass_wins dedupes it against the id-sorted
    # LSH pairs — every scored field comparator is orientation-symmetric
    per_pass = [
        dd,
        ds.select(
            F.least("id_rec", "id_mem").alias("id_rec"),
            F.greatest("id_rec", "id_mem").alias("id_mem"),
            "pass_id", "weight", "is_exact", "decision",
        ),
    ]
    if use_minhash_pass:
        prep_all = prep_s.unionByName(prep_d)
        cands = pass_candidates(
            prep_all, prep_all, MINHASH_PASS, ID_COL, dedupe=True, shard_rows=shard_rows
        )
        # delta-touching only, via two map-only broadcast joins on the
        # delta id set (old-old canopies belong to the batch path)
        d_ids = prep_d.select(F.col(ID_COL).alias("_did"))
        left_hit = cands.join(
            F.broadcast(d_ids), cands["id_rec"] == F.col("_did"), "left_semi"
        )
        right_only = cands.join(
            F.broadcast(d_ids), cands["id_rec"] == F.col("_did"), "left_anti"
        ).join(F.broadcast(d_ids), cands["id_mem"] == F.col("_did"), "left_semi")
        per_pass.append(
            score_candidates(
                left_hit.unionByName(right_only), prep_all, MINHASH_PASS, len(cfg.passes)
            )
        )
    return MatchResult.from_pairs(
        union_passes(per_pass), accept_at(cfg.accept_threshold)
    )


def count_candidates(
    df: DataFrame,
    *,
    use_minhash_pass: bool = True,
    max_block_rows: int | None = 2_000,
) -> int:
    """Candidate pairs entering the comparator stage across every pass —
    the denominator of the BASELINE candidate-pairs/sec throughput metric.
    Counts run on the same candidate plans `run_repo_linkage` scores (post
    blank/suppress filtering), but without the scoring UDFs, so the count
    job is cheap relative to the pipeline it calibrates."""
    prepared = prepare(df)
    return sum(
        pass_candidates(
            prepared, prepared, spec, ID_COL, dedupe=True, max_block_rows=max_block_rows
        ).count()
        for spec in repo_linkage_config(use_minhash_pass).passes
    )


def link_and_cluster(df: DataFrame, **kwargs) -> DataFrame:
    """repo files → (record_id, cluster_id) entity table."""
    result = run_repo_linkage(df, **kwargs)
    prepared = with_record_id(df)
    # closure materializes its first edge set eagerly, so the returned
    # clusters no longer read the persisted pairs
    clusters = cluster_accepted_pairs(
        result.good_pairs(), all_ids=prepared.select(ID_COL), id_col=ID_COL
    )
    result.pairs.unpersist()
    return clusters
