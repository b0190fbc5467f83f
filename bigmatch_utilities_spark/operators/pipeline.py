"""Multi-pass match orchestration.

Reference lifecycle (README.md:1-6, app/MatchReview.py): the engine makes
one pass over the record file per blocking pass, emitting a per-pass
possible-matches file ``{MEM}-{REC}Pairs_NN.dat``; pairs already matched in
an earlier pass are not re-reported (first-pass-wins); review then splits
exact matches out (rec match values == mem match values,
app/MatchReview.py:157-173), applies the accept threshold (weight ≥ 10
default, :1047), and combines exact+accepted into the good-pairs file
(:535-586).

Spark shape per pass:

    scan → normalize → blank-key filter → equi-join on composite block key
    → comparator similarity (Arrow-batched JW where fuzzy) → FS weight sum
    → cutoff filters → pairs(pass_id=k)

then `unionByName` across passes + first-pass-wins dedup via a min-pass
aggregation on the pair key, and decision columns. The per-pass DataFrames
share one persisted normalized scan, mirroring the engine's
one-sequential-read-per-pass contract without re-reading the source.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import (
    BlockingPassSpec,
    Equi,
    MatchConfig,
    Snm,
)
from bigmatch_utilities_spark.functions.comparators import similarity_once
from bigmatch_utilities_spark.operators.blocking import candidate_pairs
from bigmatch_utilities_spark.operators.scoring import is_exact, weight_terms

PAIR_KEY = ["id_rec", "id_mem"]


def normalize(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Reference-style normalization: trim + collapse internal whitespace
    (reduce_blank_spaces, app/MatchReview.py:507-519). Values stay strings;
    blanks become ''."""
    columns = columns or df.columns
    out = df
    for c in columns:
        out = out.withColumn(
            c,
            F.regexp_replace(F.trim(F.coalesce(F.col(c).cast("string"), F.lit(""))), " +", " "),
        )
    return out


def attach_carry(
    cands: DataFrame, src: DataFrame, id_col: str, carry: list[str]
) -> DataFrame:
    """Canonical ``(id_l, id_r)`` candidate ids → the pass candidate
    contract ``(id_rec, id_mem, rec_<c>..., mem_<c>...)``: each side's
    ``carry`` values join on from ``src`` by id."""
    side = src.select(F.col(id_col), *carry)
    return (
        cands.select("id_l", "id_r")
        .join(side.toDF("id_l", *[f"rec_{c}" for c in carry]), "id_l")
        .join(side.toDF("id_r", *[f"mem_{c}" for c in carry]), "id_r")
        .withColumnRenamed("id_l", "id_rec")
        .withColumnRenamed("id_r", "id_mem")
    )


def pass_candidates(
    rec: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    id_col: str,
    *,
    dedupe: bool = False,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    extra_carry: list[str] | None = None,
) -> DataFrame:
    """The pass's candidate pairs exactly as they enter the comparators:
    blocked join output minus suppress_equal-decided pairs. Exposed so
    benches can count candidate-pairs/sec (the BASELINE throughput unit)
    on the same plan the scoring path consumes.

    extra_carry: additional source columns carried to both sides (e.g.
    fields a downstream gamma/EM step reads that this pass does not score).
    """
    carry = [mf.name for mf in spec.match_fields]
    for fp in spec.match_field_pairs:
        for f in (fp.name_a, fp.name_b):
            if f not in carry:
                carry.append(f)
    for cl in spec.level_fields:
        if cl.name not in carry:
            carry.append(cl.name)
    for f in extra_carry or []:
        if f not in carry:
            carry.append(f)
    carry_sup = carry + [f for f in spec.suppress_equal if f not in carry]
    blocker = spec.blocker
    if isinstance(blocker, Equi):
        pairs = candidate_pairs(
            rec, mem, spec, id_col, dedupe=dedupe, shard_rows=shard_rows,
            max_block_rows=max_block_rows, carry=carry_sup,
        )
    elif isinstance(blocker, Snm):
        from bigmatch_utilities_spark.operators.sorted_neighborhood import (
            snm_candidate_pairs,
        )

        # shard/cap/star are equi-join knobs; SNM's pair volume is
        # (window-1)·N by construction, so none of them apply.
        pairs = snm_candidate_pairs(
            rec, mem, spec, id_col, dedupe=dedupe, carry=carry_sup
        )
    else:
        if not dedupe or mem is not rec:
            raise ValueError(
                f"a {blocker.kind!r} pass is a single-file (dedupe) pass; "
                "merge two files into one frame before a dedupe run"
            )
        cands = blocker.pairs(
            rec, id_col, block_fields=spec.block_fields, shard_rows=shard_rows
        )
        pairs = attach_carry(cands, rec, id_col, carry_sup)
    # Suppress pairs an earlier exact pass already decided (spec.suppress_equal)
    # BEFORE any comparator UDF runs — the filter is a JVM predicate on the
    # join output, so redundant mega-block echoes never reach Python.
    for f in spec.suppress_equal:
        pairs = pairs.filter(
            (F.col(f"rec_{f}") != F.col(f"mem_{f}"))
            | F.col(f"rec_{f}").isNull()
            | F.col(f"mem_{f}").isNull()
        )
    return pairs.drop(
        *[c for f in spec.suppress_equal if f not in carry for c in (f"rec_{f}", f"mem_{f}")]
    )


def score_pass(
    rec: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    pass_id: int,
    id_col: str,
    *,
    dedupe: bool = False,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    gamma_fields: tuple | None = None,
) -> DataFrame:
    """One blocking pass → scored candidate pairs: :func:`pass_candidates`
    (carrying the ``gamma_fields`` too), then :func:`score_candidates`, the
    one scoring path of every pass kind.

    Every similarity the pass reads is a column of one projection that the
    optimizer treats as a barrier (functions.comparators.similarity_once);
    the weight, the emission-floor filter, the decision and the gammas read
    those columns. Each Python comparator therefore runs once per candidate
    pair, in one plan node. Were the similarities ordinary deterministic
    columns, the optimizer would push the floor filter below the weight
    projection, inlining the weight into it, and run every comparator
    twice, in two nodes."""
    pairs = pass_candidates(
        rec, mem, spec, id_col, dedupe=dedupe, shard_rows=shard_rows,
        max_block_rows=max_block_rows,
        extra_carry=[mf.name for mf in gamma_fields or ()],
    )
    return score_candidates(pairs, mem, spec, pass_id, gamma_fields)


def score_candidates(
    pairs: DataFrame,
    mem: DataFrame,
    spec: BlockingPassSpec,
    pass_id: int,
    gamma_fields: tuple | None = None,
) -> DataFrame:
    """A pass's candidate pairs (the :func:`pass_candidates` contract) →
    scored pairs: the candidates' columns, then ``weight``, ``is_exact``,
    ``pass_id``, ``g_<field>``..., ``decision``.

    Emission floor: pairs below the *print* low cutoff are not emitted at
    all (print-cutoff bounds what is written, BigMatchParmFile.py:529-549);
    `decision` is 'match' for weight ≥ cutoff hi, else 'possible' for
    weight ≥ cutoff lo, else 'below'.

    The similarity columns of the barrier (see :func:`score_pass`) — match
    fields, each alignment of a field pair, level fields, gamma fields —
    are dropped before returning.

    gamma_fields: MatchFields for which to attach binary agreement
    indicators ``g_<field>`` (operators.em.gamma_column) in the SAME stage
    as the weights — the EM estimator then folds onto this scoring pass
    instead of re-joining the source table (VERDICT r4 item 4). The
    candidates must carry them (``pass_candidates(extra_carry=...)``).

    TF adjustment: match fields declared ``tf_adjust=True`` (Winkler 1995;
    operators/tf_adjust.py) score exact agreement with the per-value
    log2(m / tf_v) instead of the global log2(m/u). The value-frequency
    table is computed from the MEMORY file — the reference's
    frequency-file source — as one map-side groupBy per tf field, then
    LEFT-joined onto the candidate pairs (AQE sizes the join; the tf
    table's row count is the field's distinct-value count). Disagreement
    and blank semantics are unchanged, so cutoffs and is_exact read the
    same columns as an unadjusted pass.
    """
    gamma_fields = tuple(gamma_fields or ())
    tf_fields = tuple(mf for mf in spec.match_fields if mf.tf_adjust)
    plain = tuple(mf for mf in spec.match_fields if not mf.tf_adjust)
    if tf_fields:
        from bigmatch_utilities_spark.operators.tf_adjust import (
            tf_table,
            with_tf_weight,
        )

        for mf in tf_fields:
            pairs = with_tf_weight(
                pairs, mf, tf_table(mem, mf.name), out_col=f"_w_tf_{mf.name}"
            )

    # (comparator, rec column, mem column) -> name of its similarity column
    sims: dict[tuple[str, str, str], str] = {}

    def sim(comparator: str, rec_col: str, mem_col: str) -> Column:
        key = (comparator, rec_col, mem_col)
        return F.col(sims.setdefault(key, f"_sim_{len(sims)}"))

    def field(f) -> tuple[Column, Column, Column]:
        """(similarity, rec value, mem value) of a level or gamma field."""
        rec, mem_c = f"rec_{f.name}", f"mem_{f.name}"
        return sim(f.comparator, rec, mem_c), F.col(rec), F.col(mem_c)

    terms = weight_terms(plain, spec.match_field_pairs, sim)
    w = reduce(lambda a, b: a + b, terms) if terms else F.lit(0.0)
    for mf in tf_fields:
        w = w + F.col(f"_w_tf_{mf.name}")
    if spec.level_fields:
        from bigmatch_utilities_spark.operators.levels import level_weight_at

        levels = F.lit(0.0)
        for cl in spec.level_fields:
            levels = levels + level_weight_at(cl, *field(cl))
        w = w + levels
    gammas = []
    if gamma_fields:
        from bigmatch_utilities_spark.operators.em import gamma_at

        gammas = [gamma_at(*field(mf)).alias(f"g_{mf.name}") for mf in gamma_fields]

    # The barrier: only this projection's Jaro-Winkler UDF is marked
    # nondeterministic (score_pass says why); other callers keep the plain one
    scored = pairs.select(
        "*",
        *[
            similarity_once(c, F.col(r), F.col(m)).alias(name)
            for (c, r, m), name in sims.items()
        ],
    ).select(
        "*",
        w.alias("weight"),
        is_exact(
            spec.match_fields, field_pairs=spec.match_field_pairs,
            level_fields=spec.level_fields,
        ).alias("is_exact"),
        F.lit(pass_id).alias("pass_id"),
        *gammas,
    )
    emit_floor = min(spec.print_cutoff.lo, spec.cutoff.lo)
    decision = (
        F.when(F.col("weight") >= F.lit(float(spec.cutoff.hi)), F.lit("match"))
        .when(F.col("weight") >= F.lit(float(spec.cutoff.lo)), F.lit("possible"))
        .otherwise(F.lit("below"))
    )
    return (
        scored.filter(F.col("weight") >= F.lit(float(emit_floor)))
        .withColumn("decision", decision)
        .drop(*sims.values(), *[f"_w_tf_{mf.name}" for mf in tf_fields])
    )


def accept_at(threshold: float) -> Column:
    """The engine's accept rule for a non-exact pair: an auto-``match``
    decision, or a ``possible`` weighing at least ``threshold``
    (app/MatchReview.py:1047)."""
    return (F.col("decision") == "match") | (
        (F.col("decision") == "possible")
        & (F.col("weight") >= F.lit(float(threshold)))
    )


@dataclass
class MatchResult:
    """All products of a run, as DataFrames.

    Output contract: ``pairs`` (and its exact/accepted/possible splits) is
    the decision core — (id_rec, id_mem, pass_id, weight, is_exact,
    decision) — in both the direct and checkpointed paths. The carried
    rec_*/mem_* match-field values are a per-pass product (score_pass
    output / the checkpoint's per-pass parquet); legacy review emitters
    format those per-pass frames BEFORE the multi-pass union.

    Results built by :meth:`from_pairs` (every run entry point) hold
    ``pairs`` persisted: the first action computes the whole linkage plan
    once, and the three splits and ``good_pairs()`` are filters over that
    cache. A caller that keeps its session alive after writing the result
    calls ``result.pairs.unpersist()``.
    """

    pairs: DataFrame        # one row per (id_rec, id_mem), first-pass-wins
    exact: DataFrame        # is_exact subset (reference *_EXACT.dat)
    accepted: DataFrame     # auto-match ∪ threshold-accepted possibles
    possible: DataFrame     # clerical-review set

    @classmethod
    def from_pairs(cls, pairs: DataFrame, accept: Column) -> "MatchResult":
        """Persist the first-pass-wins ``pairs`` and split it: ``exact``
        holds every emitted exact pair, ``accepted`` the non-exact pairs
        ``accept`` holds for, ``possible`` the non-exact ``possible``
        pairs it rejects."""
        pairs = pairs.persist()
        not_exact = ~F.col("is_exact")
        return cls(
            pairs=pairs,
            exact=pairs.filter(F.col("is_exact") & (F.col("decision") != "below")),
            accepted=pairs.filter(not_exact & accept),
            possible=pairs.filter(
                not_exact & (F.col("decision") == "possible") & ~accept
            ),
        )

    def good_pairs(self) -> DataFrame:
        """exact ∪ accepted, the reference's …pairs_exact_accpt.dat
        (app/MatchReview.py:535-586). ``pairs`` is unique on the pair key
        and the two sets are disjoint on ``is_exact``, so the union needs
        no dedup shuffle: it is one scan of ``pairs``."""
        return self.exact.unionByName(self.accepted).select(
            "pass_id", "weight", "id_rec", "id_mem"
        )


def with_accept_flags(
    pairs: DataFrame,
    accept_threshold: float,
    decisions: DataFrame | None = None,
) -> DataFrame:
    """Attach the reference's review-state flags to scored pairs
    (meta_row, /root/reference/app/MatchReview.py:223-227):

    * ``accept_wgt`` — 1 iff weight ≥ the accept threshold (the spinner
      cutoff that default-checks a row);
    * ``accept_usr`` — the user's checkbox state from ``decisions``
      (id_rec, id_mem, accept boolean): 1 checked, 0 explicitly unchecked,
      null untouched.

    ``decisions`` is human-click sized — broadcast by construction."""
    out = pairs.withColumn(
        "accept_wgt",
        (F.col("weight") >= F.lit(float(accept_threshold))).cast("int"),
    )
    if decisions is None:
        return out.withColumn("accept_usr", F.lit(None).cast("int"))
    d = decisions.select(
        *PAIR_KEY, F.col("accept").cast("boolean").alias("_acc")
    ).dropDuplicates(PAIR_KEY)
    return (
        out.join(F.broadcast(d), PAIR_KEY, "left")
        .withColumn("accept_usr", F.col("_acc").cast("int"))
        .drop("_acc")
    )


def apply_manual_accepts(
    result: MatchResult,
    decisions: DataFrame,
    accept_threshold: float,
) -> MatchResult:
    """Fold clerical-review decisions into the accepted/possible split
    (write_accepted_pairs, /root/reference/app/MatchReview.py:392-439): a
    pair lands in the accepted set iff its final check state is 1 — the
    default comes from the engine (auto-``match`` decision or
    ``accept_wgt``), and the user's click overrides it in EITHER direction:
    a below-threshold pair the user checked is accepted; an
    above-threshold pair the user unchecked is not.

    Returns a MatchResult whose frames carry the accept_wgt/accept_usr
    columns; ``good_pairs()`` then persists manual accepts exactly like the
    reference's ACCEPTED file."""
    flagged = with_accept_flags(result.pairs, accept_threshold, decisions)
    default_accept = (F.col("decision") == "match") | (F.col("accept_wgt") == 1)
    final_accept = F.when(
        F.col("accept_usr").isNotNull(), F.col("accept_usr") == 1
    ).otherwise(default_accept)
    emittable = F.col("decision") != "below"
    return MatchResult.from_pairs(flagged, emittable & final_accept)


def first_pass_wins(all_pairs: DataFrame) -> DataFrame:
    """A pair reported by several passes keeps its earliest pass's row
    (multi-pass union + dedup, app/MatchReview.py:41-50, cleanpairs:29-44).

    min_by-style groupBy, not a window: a window must shuffle EVERY pair
    row then sort within partitions; min(struct(pass_id, row)) gets
    map-side partial aggregation — duplicate reports collapse before the
    shuffle, which at 10^8-pair scale is the difference between shuffling
    the union and shuffling ~the result."""
    others = [c for c in all_pairs.columns if c not in PAIR_KEY and c != "pass_id"]
    packed = F.struct(F.col("pass_id"), *[F.col(c) for c in others])
    return (
        all_pairs.groupBy(*PAIR_KEY)
        .agg(F.min(packed).alias("_row"))
        .select(
            *PAIR_KEY,
            *[F.col(f"_row.{c}").alias(c) for c in ["pass_id"] + others],
        )
    )


def run_match(
    rec: DataFrame,
    mem: DataFrame | None,
    config: MatchConfig,
    id_col: str | None = None,
    **kwargs,
) -> MatchResult:
    """Run every blocking pass and produce the combined decision sets:
    :func:`match_pairs` (which takes the keyword options) split by
    :meth:`MatchResult.from_pairs`, so ``result.pairs`` is persisted."""
    pairs = match_pairs(rec, mem, config, id_col, **kwargs)
    return MatchResult.from_pairs(pairs, accept_at(config.accept_threshold))


def match_pairs(
    rec: DataFrame,
    mem: DataFrame | None,
    config: MatchConfig,
    id_col: str | None = None,
    *,
    shard_rows: int | None = None,
    max_block_rows: int | None = None,
    persist: bool = True,
    gamma_fields: tuple | None = None,
) -> DataFrame:
    """Every blocking pass, unioned and reduced first-pass-wins: the pair
    table :func:`run_match` splits, not persisted, for callers that fold
    it into a larger plan first.

    ``mem=None`` (or config.dedupe_single_file) runs single-file dedupe:
    rec is self-joined with id_rec < id_mem canonicalization.

    persist: persist the inputs ``rec``/``mem``, which every pass scans.

    gamma_fields: see :func:`score_pass` — the per-pair ``g_<field>``
    agreement indicators join the decision core through the union, so EM
    runs off ``result.pairs`` with zero extra scans.
    """
    id_col = id_col or config.id_field.name
    dedupe = mem is None or config.dedupe_single_file
    if mem is None:
        mem = rec

    if persist:
        rec = rec.persist()
        if mem is not rec:
            mem = mem.persist()

    per_pass = [
        score_pass(
            rec,
            mem,
            spec,
            k,
            id_col,
            dedupe=dedupe,
            shard_rows=shard_rows,
            max_block_rows=max_block_rows,
            gamma_fields=gamma_fields,
        )
        for k, spec in enumerate(config.passes)
    ]
    return union_passes(per_pass)


def union_passes(per_pass: list[DataFrame]) -> DataFrame:
    """Scored passes → one first-pass-wins table of the decision core
    ``(id_rec, id_mem, pass_id, weight, is_exact, decision, g_<field>...)``.

    Only the decision core (with the gammas EM reads) crosses the union:
    the carried rec_/mem_ field values are ~10x its bytes and nothing
    downstream of the union reads them (the legacy emit path formats
    per-pass frames BEFORE the union) — at 10^8+ pairs, ~50 B instead of
    ~500 B per row through the first-pass-wins shuffle."""
    core = None
    for df in per_pass:
        slim = df.select(
            *PAIR_KEY, "pass_id", "weight", "is_exact", "decision",
            *[c for c in df.columns if c.startswith("g_")],
        )
        core = slim if core is None else core.unionByName(slim)
    return first_pass_wins(core)
