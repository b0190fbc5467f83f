"""Match configuration: dataclasses + parmf.txt / parmn.txt / data-dictionary IO.

The reference system's "query language" is the BigMatch ``parmf.txt``
grammar (parsed by ``/root/reference/app/BigMatchParmFile.py:405-549``,
written by ``/root/reference/app/BlockingPass.py:588-715``):

    row 0: NP 1 1 0 1 D 0 RECLEN MEMLEN   # NP passes (idx0), D dedupe (idx5),
                                          # record lengths (idx7, idx8)
    row 1: b1 .. bNP                      # blocking-field count per pass
    row 2: m1 .. mNP                      # matching-field count per pass
    per pass:
      b  x  "name rec_start rec_width mem_start mem_width blank_flag"
      m  x  "name rec_start rec_width mem_start mem_width 0 method m u"
      1  x  "cutoff_hi cutoff_lo"
      1  x  "prcutoff_hi prcutoff_lo"
    final: "seqname rec_start rec_width mem_start mem_width"   # unique-id field

``parmn.txt`` is two lines: memory-file path, record-file path
(``/root/reference/samplefiles/gs/parmn.txt``).

Our native config is the dataclass tree (the parmf parser is compatibility
sugar so existing reference configs run unchanged).
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass

#: Comparator vocabulary, per /root/reference/app/BlockingPass.py:117-127.
#:   c    exact string comparison
#:   ci   case-insensitive exact comparison ("inverted" in the GUI label)
#:   uo   string comparison with variation (Jaro-Winkler family; engine default)
#:   uoi  case-insensitive uo
#:   p    numeric comparison for age (tolerant, stepped partial agreement)
#:   y    numeric comparison for year (tolerant, stepped partial agreement)
#:   q    strict numeric comparison (equal-or-nothing)
#:   s    street-name comparison (token-sorted Jaro-Winkler)
#: The reference GUI only labels these ("ci (inverted string comparison)");
#: the i-suffix semantics are underdocumented, so this engine defines them
#: as case-insensitive variants — documented, deterministic, and testable.
#: ``e``/``ei`` are engine extensions (normalized Levenshtein edit
#: similarity, functions/comparators.py) — the typo-tolerant comparator
#: the JW-only reference vocabulary lacks; grammar position identical to
#: any other method token (app/BigMatchParmFile.py:472-506).
COMPARATORS = (
    "c", "ci", "uo", "uoi", "p", "y", "q", "s",  # reference vocabulary
    "e", "ei",  # normalized edit similarity (engine extension, round 4)
    "b",  # privacy-preserving bloom-dice (engine extension)
    "d",  # calendar-date banded days + day/month-swap tolerance (extension)
    "n",  # relative-tolerance numeric for amounts (extension)
    "t",  # token-set Jaccard for multi-token fields (extension)
    "me",  # symmetrized Monge-Elkan over edit similarity (extension)
)

DEFAULT_M = 0.90  # GUI spinner defaults, /root/reference/app/BlockingPass.py:75-76
DEFAULT_U = 0.10
DEFAULT_CUTOFF_HI = 100.0  # /root/reference/app/BlockingPass.py:71-74
DEFAULT_CUTOFF_LO = 0.0
DEFAULT_ACCEPT_THRESHOLD = 10.0  # /root/reference/app/MatchReview.py:1047


@dataclass(frozen=True)
class FieldRef:
    """One logical field, with its fixed-width position in each file.

    ``rec_start``/``mem_start`` are 1-based (reference convention); they are
    irrelevant when the inputs are already columnar DataFrames.
    """

    name: str
    rec_start: int = 0
    rec_width: int = 0
    mem_start: int = 0
    mem_width: int = 0


@dataclass(frozen=True)
class BlockField(FieldRef):
    #: blank_flag=1 (the reference default, BlockingPass.py:498-499) means
    #: records blank in this key do NOT participate in the pass — this is
    #: also the #1 skew killer (the '' mega-block never forms).
    blank_flag: int = 1
    #: How the join key is derived from the column: "exact" joins on the
    #: raw value (reference semantics); "soundex" joins on the phonetic
    #: code (BigMatch-lineage pipelines block on precomputed soundex keys —
    #: this derives them in-plan, functions/phonetic.py); "prefix:<n>"
    #: joins on the first n characters. Derived keys are materialized as
    #: ordinary columns before the join (blocking.derive_block_keys), so
    #: the shuffle/broadcast/skew machinery is identical for every kind.
    key_kind: str = "exact"

    def __post_init__(self) -> None:
        k = self.key_kind
        if k not in ("exact", "soundex", "nysiis") and not (
            k.startswith("prefix:") and k.split(":", 1)[1].isdigit()
        ):
            raise ValueError(f"unknown key_kind {k!r}")


@dataclass(frozen=True)
class MatchField(FieldRef):
    comparator: str = "uo"  # engine default when blank, BlockingPass.py:516-520
    m: float = DEFAULT_M
    u: float = DEFAULT_U
    #: Engine extension (Winkler 1995; operators/tf_adjust.py): score exact
    #: agreement on this field with the per-VALUE weight log2(m / tf_v)
    #: instead of the global log2(m/u) — agreement on a rare value is
    #: stronger evidence than on a common one. Only meaningful for the
    #: exact comparator (`c`): TF adjustment replaces the agreement
    #: branch, and partial-similarity comparators have no single agreed
    #: value to look up. The parmf grammar cannot express it (write_parmf
    #: refuses) — native MatchConfig only.
    tf_adjust: bool = False

    def __post_init__(self) -> None:
        if self.comparator not in COMPARATORS:
            raise ValueError(f"unknown comparator {self.comparator!r}")
        if not (0.0 < self.u < self.m < 1.0):
            raise ValueError(f"need 0 < u < m < 1, got m={self.m} u={self.u}")
        if self.tf_adjust and self.comparator != "c":
            raise ValueError(
                "tf_adjust applies to the exact comparator only (c), "
                f"got {self.comparator!r}"
            )


@dataclass(frozen=True)
class MatchFieldPair:
    """A transposition-tolerant FIELD PAIR (e.g. first/last name): scored
    by ``swapped_agreement`` — the better of the straight (a-a, b-b) and
    crossed (a-b, b-a) alignments under ``comparator`` — with its own
    (m, u), contributing one FS weight term to the pair weight.

    The reference's matching rows are strictly positional (one field per
    row, /root/reference/app/BigMatchParmFile.py:434-470); a swapped
    census record ("MARIA GARCIA" keyed lastname=MARIA) costs two full
    disagreements there. Engine extension: native MatchConfig only
    (write_parmf refuses — the parmf grammar has no pair rows).
    """

    name_a: str
    name_b: str
    comparator: str = "uo"
    m: float = DEFAULT_M
    u: float = DEFAULT_U

    def __post_init__(self) -> None:
        if self.comparator not in COMPARATORS:
            raise ValueError(f"unknown comparator {self.comparator!r}")
        if not (0.0 < self.u < self.m < 1.0):
            raise ValueError(f"need 0 < u < m < 1, got m={self.m} u={self.u}")
        if self.name_a == self.name_b:
            raise ValueError("a field pair needs two distinct fields")

    @property
    def name(self) -> str:
        return f"{self.name_a}~{self.name_b}"


@dataclass(frozen=True)
class CutoffSpec:
    hi: float = DEFAULT_CUTOFF_HI
    lo: float = DEFAULT_CUTOFF_LO


# ---------------------------------------------------------------------------
# Pass kinds: one small params class per candidate generator
# ---------------------------------------------------------------------------
#
# A pass's ``blocker`` says how its candidate pairs are generated; scoring,
# cutoffs and first-pass-wins are the same for every kind. Equi is the
# reference's blocked equi-join; every other kind is an engine extension
# the parmf grammar cannot express (write_parmf refuses). The eight kinds
# after Snm are single-file (dedupe) passes: ``pairs(rec, id_col, *,
# block_fields, shard_rows)`` returns canonical ``id_l < id_r`` candidate
# ids, and operators.pipeline.pass_candidates joins the carried values on.


@dataclass(frozen=True)
class Equi:
    """The reference's blocked equi-join: candidates agree EXACTLY on every
    blocking field (operators/blocking.candidate_pairs).

    star_block_rows: a self-join pass whose blocking key functionally
    determines the match decision (e.g. a content hash) may emit the
    min-id STAR of a block above this size (n-1 pairs) instead of the full
    clique (n(n-1)/2): transitive closure recovers the identical entity,
    and a 10^5-row boilerplate block costs O(n) instead of O(n^2) through
    one reducer. Only one frame joined to itself may set it (two frames
    raise). None = always the full clique (reference semantics)."""

    kind = "equi"
    star_block_rows: int | None = None


@dataclass(frozen=True)
class Snm:
    """Sorted neighborhood (operators/sorted_neighborhood.py): the file is
    ordered by the blocking fields (plus the id as tiebreak) and every
    record pairs with its ``window``-1 successors, so pair volume is
    (window-1)·N — the loose mop-up pass the reference approximates with
    ever-coarser equi keys (samplefiles/parmf_new.txt runs nine passes).
    Also runs two-file, over the merged sort order."""

    kind = "snm"
    window: int = 5

    def __post_init__(self) -> None:
        if self.window < 2:
            raise ValueError("snm window must be >= 2")


@dataclass(frozen=True)
class Lsh:
    """MinHash-LSH canopy over ``field`` (operators/dedup.minhash_candidates):
    candidates collide in at least one of ``bands`` band keys. Band buckets
    above ``max_bucket`` are boilerplate canopies, dropped whole (None =
    uncapped). repo_linkage.MINHASH_PASS, the repo linkage's pass 3, is
    one. A two-file canopy is this pass over the union of both files,
    filtered to the pairs that touch one side before scoring, as
    repo_linkage.run_repo_linkage_delta does. A pass has no block key to
    slice by, so CheckpointedMatch commits it whole under ``slices``."""

    kind = "lsh"
    field: str
    shingle_k: int = 3
    bands: int = 4
    rows_per_band: int = 4
    max_bucket: int | None = 256

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("an lsh pass needs a field")
        if self.bands < 1 or self.rows_per_band < 1:
            raise ValueError("lsh bands / rows_per_band must be >= 1")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.dedup import minhash_candidates

        return minhash_candidates(
            rec, self.field, id_col, shingle_k=self.shingle_k, bands=self.bands,
            rows_per_band=self.rows_per_band, max_bucket=self.max_bucket,
            shard_rows=shard_rows,
        )


@dataclass(frozen=True)
class Pprl:
    """Privacy-preserving bloom-band blocking: Hamming-LSH band agreement
    over ``field``'s Bloom/CLK encodings (functions/pprl.bloom_band_pairs)
    — blocking without cleartext; pair it with "b" (bloom-dice) match
    fields for a fully encoded pipeline. Band buckets above ``max_bucket``
    are dropped whole (an all-zero band key is the encoded blank key)."""

    kind = "pprl"
    field: str
    bits: int = 512
    k: int = 3
    bands: int = 8
    band_bits: int = 8
    max_bucket: int = 2_000

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("a pprl pass needs a field")
        if self.bands < 1 or self.band_bits < 1:
            raise ValueError("pprl bands / band_bits must be >= 1")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.functions.pprl import bloom_band_pairs

        return bloom_band_pairs(
            rec, id_col, self.field, bits=self.bits, k=self.k, bands=self.bands,
            band_bits=self.band_bits, max_bucket=self.max_bucket,
        )


@dataclass(frozen=True)
class QGram:
    """Q-gram token blocking (operators/meta_blocking.qgram_block_pairs):
    candidates share at least one KEPT character ``n``-gram of ``field``
    after the purge + per-record smallest-blocks filter — the typo-anywhere
    remedy for key fields, where an equi pass drops every record with one
    edit in the key."""

    kind = "qgram"
    field: str
    n: int = 4
    ratio: float = 0.5
    purge_above: int = 2_000

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("a qgram pass needs a field")
        if self.n < 2:
            raise ValueError("qgram n must be >= 2")
        if not (0.0 < self.ratio <= 1.0):
            raise ValueError("qgram ratio must be in (0, 1]")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.meta_blocking import qgram_block_pairs

        return qgram_block_pairs(
            rec, id_col, self.field, n=self.n, ratio=self.ratio,
            purge_above=self.purge_above,
        )


@dataclass(frozen=True)
class Suffix:
    """Suffix-array blocking (operators/meta_blocking.suffix_block_pairs):
    candidates share a KEPT suffix (length >= ``min_len``) of ``field`` —
    the PREFIX-divergence remedy (truncation, titles, path prefixes)
    complementing QGram, with the same purge + per-record filter."""

    kind = "suffix"
    field: str
    min_len: int = 6
    ratio: float = 0.5
    purge_above: int = 2_000

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("a suffix pass needs a field")
        if self.min_len < 2:
            raise ValueError("suffix min_len must be >= 2")
        if not (0.0 < self.ratio <= 1.0):
            raise ValueError("suffix ratio must be in (0, 1]")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.meta_blocking import suffix_block_pairs

        return suffix_block_pairs(
            rec, id_col, self.field, min_len=self.min_len, ratio=self.ratio,
            purge_above=self.purge_above,
        )


@dataclass(frozen=True)
class Interval:
    """Interval overlap (operators/temporal.interval_overlap_pairs):
    candidates are records whose [start, end] validity windows overlap,
    restricted to rows agreeing on the pass's block_fields (exact co-block
    keys, blank_flag ignored) — linking longitudinal observations of the
    same entity. Granule-bucketed equi-join; rows spanning >=
    ``max_granules`` granules are dropped."""

    kind = "interval"
    start: str
    end: str
    granule_s: int = 3600
    max_granules: int = 64

    def __post_init__(self) -> None:
        if not self.start or not self.end:
            raise ValueError("an interval pass needs start and end columns")
        if self.granule_s < 1 or self.max_granules < 1:
            raise ValueError("interval granule_s / max_granules must be >= 1")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.temporal import interval_overlap_pairs

        return interval_overlap_pairs(
            rec, id_col, self.start, self.end, granule_s=self.granule_s,
            max_granules=self.max_granules,
            block_cols=tuple(bf.name for bf in block_fields),
        )


@dataclass(frozen=True)
class Meta:
    """Meta-blocking: the CBS-weighted multi-key block graph over ``keys``
    — ((name, ANSI SQL expression), ...) — pruned by "wep" (global-mean
    edge prune, operators/meta_blocking.meta_block_pairs) or "wnp" (local
    node-mean prune, wnp_pairs). A pair proposed by k independent keys
    outranks single-key coincidences before any comparator runs."""

    kind = "meta"
    keys: tuple[tuple[str, str], ...]
    prune: str = "wep"
    max_block_rows: int = 2_000

    def __post_init__(self) -> None:
        if not self.keys:
            raise ValueError("a meta pass needs keys")
        if self.prune not in ("wep", "wnp"):
            raise ValueError("meta prune must be 'wep' or 'wnp'")
        if self.max_block_rows < 2:
            raise ValueError("meta max_block_rows must be >= 2")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.meta_blocking import (
            meta_block_pairs,
            wnp_pairs,
        )

        prune_fn = meta_block_pairs if self.prune == "wep" else wnp_pairs
        return prune_fn(
            rec, id_col, dict(self.keys), max_block_rows=self.max_block_rows
        )


@dataclass(frozen=True)
class Canopy:
    """Rarest-token canopy (operators/meta_blocking.
    rarest_token_canopy_pairs): each record joins the canopy of its
    lowest-document-frequency token of ``field`` (ties lexicographic;
    tokens with df > ``purge_above`` ignored as boilerplate), and
    candidates are within-canopy pairs. Canopies partition the records
    and none exceeds ``purge_above`` rows, so the pair budget is bounded."""

    kind = "canopy"
    field: str
    purge_above: int = 2_000

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("a canopy pass needs a field")
        if self.purge_above < 2:
            raise ValueError("canopy purge_above must be >= 2")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators import meta_blocking

        return meta_blocking.rarest_token_canopy_pairs(
            rec, id_col, self.field, purge_above=self.purge_above
        )


@dataclass(frozen=True)
class Ann:
    """Embedding ANN (operators/similarity.embedding_neardup): random-
    hyperplane sign-LSH over the ``field`` embedding column
    (array<float/double>, ``dim`` wide) — ``bands`` bands of ``bits``
    signs each, any-band collision ⇒ candidate, exact cosine >=
    ``threshold`` verifies. Semantically near records co-block even with
    zero lexical overlap; buckets above ``max_bucket`` are dropped."""

    kind = "ann"
    field: str
    dim: int = 64
    bands: int = 2
    bits: int = 8
    threshold: float = 0.0
    seed: int = 7
    max_bucket: int | None = 10_000

    def __post_init__(self) -> None:
        if not self.field:
            raise ValueError("an ann pass needs a field")
        if self.dim < 1 or self.bands < 1 or self.bits < 1:
            raise ValueError("ann dim / bands / bits must be >= 1")

    def pairs(self, rec, id_col, *, block_fields, shard_rows):
        from bigmatch_utilities_spark.operators.similarity import embedding_neardup

        return embedding_neardup(
            rec, id_col=id_col, vec_col=self.field, threshold=self.threshold,
            n_bands=self.bands, bits_per_band=self.bits, dim=self.dim,
            seed=self.seed, max_bucket=self.max_bucket, shard_rows=shard_rows,
        )


@dataclass(frozen=True)
class BlockingPassSpec:
    block_fields: tuple[BlockField, ...]
    match_fields: tuple[MatchField, ...]
    cutoff: CutoffSpec = CutoffSpec()
    print_cutoff: CutoffSpec = CutoffSpec()
    #: Fields whose equality on both sides means the pair was already found
    #: by an earlier exact-hash pass: such candidates are dropped BEFORE the
    #: (expensive, Arrow-batched) comparator scoring. E.g. a fuzzy pass in a
    #: pipeline whose pass 0 blocks on content_sha can suppress
    #: ("content_sha",) — every sha-equal pair is provably a pass-0 pair, so
    #: re-scoring it only to lose first-pass-wins later is pure waste (and
    #: the dominant waste when boilerplate blocks echo through loose keys).
    suppress_equal: tuple[str, ...] = ()
    #: Transposition-tolerant field PAIRS scored via swapped_agreement
    #: (functions/comparators.py): each contributes ONE FS weight term
    #: computed on the better of the straight and crossed alignments.
    match_field_pairs: tuple["MatchFieldPair", ...] = ()
    #: Ordinal comparison-level fields (operators/levels.ComparisonLevels):
    #: each contributes one GRADED FS weight term log2(m_l/u_l) at the
    #: pair's level (exact / one band per similarity threshold / disagree)
    #: — Splink-style comparison levels. The reference's strictly binary
    #: agree/disagree rows (app/BigMatchParmFile.py:489-494) cannot express
    #: them; write_parmf refuses. Summed into the same pair weight as
    #: match_fields / match_field_pairs; exactness requires plain equality
    #: on the level field like any scored field.
    level_fields: tuple = ()
    #: How candidates are generated: one of the pass-kind classes above.
    #: The block fields are the equi-join keys for Equi, the sort key for
    #: Snm and the co-block keys for Interval; the other kinds ignore them.
    blocker: (
        Equi | Snm | Lsh | Pprl | QGram | Suffix | Interval | Meta | Canopy | Ann
    ) = Equi()


@dataclass(frozen=True)
class MatchConfig:
    passes: tuple[BlockingPassSpec, ...]
    id_field: FieldRef
    dedupe_single_file: bool = False
    rec_record_length: int = 880  # app/parmf.txt:1 typical; parser default 950
    mem_record_length: int = 880
    accept_threshold: float = DEFAULT_ACCEPT_THRESHOLD

    def block_field_names(self) -> list[str]:
        return sorted({bf.name for p in self.passes for bf in p.block_fields})

    def match_field_names(self) -> list[str]:
        singles = {mf.name for p in self.passes for mf in p.match_fields}
        paired = {
            n
            for p in self.passes
            for fp in p.match_field_pairs
            for n in (fp.name_a, fp.name_b)
        }
        leveled = {cl.name for p in self.passes for cl in p.level_fields}
        return sorted(singles | paired | leveled)

    def all_field_names(self) -> list[str]:
        return sorted(set(self.block_field_names()) | set(self.match_field_names()))


# ---------------------------------------------------------------------------
# parmf.txt parser / writer (reference-grammar compatibility)
# ---------------------------------------------------------------------------


def parse_parmf(text: str) -> MatchConfig:
    """Parse the reference parmf grammar into a MatchConfig.

    Grammar per /root/reference/app/BigMatchParmFile.py:405-549 (row 0
    fields), :131-149 (per-pass section bounds).
    """
    rows = [line.split() for line in text.splitlines() if line.strip()]
    if len(rows) < 4:
        raise ValueError("parmf too short")
    row0 = rows[0]
    n_passes = int(row0[0])
    dedupe = row0[5] not in ("0", "", None)
    rec_len = int(row0[7])
    mem_len = int(row0[8])
    n_block = [int(x) for x in rows[1][:n_passes]]
    n_match = [int(x) for x in rows[2][:n_passes]]
    if len(n_block) != n_passes or len(n_match) != n_passes:
        raise ValueError("pass-count rows shorter than pass count")

    idx = 3
    passes: list[BlockingPassSpec] = []
    for k in range(n_passes):
        bfs = []
        for _ in range(n_block[k]):
            r = rows[idx]
            bfs.append(
                BlockField(
                    name=r[0],
                    rec_start=int(r[1]),
                    rec_width=int(r[2]),
                    mem_start=int(r[3]),
                    mem_width=int(r[4]),
                    blank_flag=int(r[5]),
                )
            )
            idx += 1
        mfs = []
        for _ in range(n_match[k]):
            r = rows[idx]
            # Canonical layout is 9 tokens with a constant "0" at index 5
            # (BigMatchParmFile.py:472-506); some shipped configs (e.g.
            # samplefiles/parcel/parmf_bldgpermits.txt) omit that column —
            # locate the comparator as the first alphabetic token after the
            # four position/width ints.
            ci = next(
                (i for i in range(5, len(r)) if r[i].isalpha()),
                None,
            )
            if ci is None:
                comparator, m, u = "uo", DEFAULT_M, DEFAULT_U
            else:
                comparator = r[ci]
                m = _parse_mu(r[ci + 1]) if len(r) > ci + 1 else DEFAULT_M
                u = _parse_mu(r[ci + 2]) if len(r) > ci + 2 else DEFAULT_U
            mfs.append(
                MatchField(
                    name=r[0],
                    rec_start=int(r[1]),
                    rec_width=int(r[2]),
                    mem_start=int(r[3]),
                    mem_width=int(r[4]),
                    comparator=comparator,
                    m=m,
                    u=u,
                )
            )
            idx += 1
        cutoff = CutoffSpec(hi=float(rows[idx][0]), lo=float(rows[idx][1]))
        idx += 1
        prcutoff = CutoffSpec(hi=float(rows[idx][0]), lo=float(rows[idx][1]))
        idx += 1
        passes.append(
            BlockingPassSpec(
                block_fields=tuple(bfs),
                match_fields=tuple(mfs),
                cutoff=cutoff,
                print_cutoff=prcutoff,
            )
        )
    if idx >= len(rows):
        raise ValueError("missing final unique-id row")
    r = rows[idx]
    id_field = FieldRef(
        name=r[0],
        rec_start=int(r[1]),
        rec_width=int(r[2]),
        mem_start=int(r[3]),
        mem_width=int(r[4]),
    )
    return MatchConfig(
        passes=tuple(passes),
        id_field=id_field,
        dedupe_single_file=dedupe,
        rec_record_length=rec_len,
        mem_record_length=mem_len,
    )


def _parse_mu(tok: str) -> float:
    """m/u tokens are decimals in [0,1]; the GUI clamps >100→1.0
    (/root/reference/app/BlockingPass.py:656-681)."""
    v = float(tok)
    if v > 1.0:  # percentage form from older writers
        v = min(v, 100.0) / 100.0
    return v


def _fmt_mu(v: float) -> str:
    return f"{v:.2f}"


def write_parmf(cfg: MatchConfig) -> str:
    """Emit the reference parmf layout (writer shape per
    /root/reference/app/BlockingPass.py:588-715).

    Refuses configs using engine extensions the grammar cannot express
    (non-equi passes, match_field_pairs) rather than silently dropping them.
    """
    for p in cfg.passes:
        if not isinstance(p.blocker, Equi):
            raise ValueError(
                f"parmf grammar cannot express a {p.blocker.kind!r} pass"
            )
        if p.match_field_pairs:
            raise ValueError("parmf grammar cannot express match_field_pairs")
        if p.level_fields:
            raise ValueError("parmf grammar cannot express level_fields")
        if any(mf.tf_adjust for mf in p.match_fields):
            raise ValueError("parmf grammar cannot express tf_adjust fields")
    out: list[str] = []
    np_ = len(cfg.passes)
    out.append(
        f"{np_} 1 1 0 1 {1 if cfg.dedupe_single_file else 0} 0 "
        f"{cfg.rec_record_length} {cfg.mem_record_length} "
    )
    out.append(" ".join(str(len(p.block_fields)) for p in cfg.passes) + " ")
    out.append(" ".join(str(len(p.match_fields)) for p in cfg.passes) + " ")
    for p in cfg.passes:
        for bf in p.block_fields:
            out.append(
                f"{bf.name:<32}{bf.rec_start:<5}{bf.rec_width:<6}"
                f"{bf.mem_start:<5}{bf.mem_width:<5}{bf.blank_flag:<4}"
            )
        for mf in p.match_fields:
            out.append(
                f"{mf.name:<32}{mf.rec_start:<5}{mf.rec_width:<6}"
                f"{mf.mem_start:<5}{mf.mem_width:<5}0 {mf.comparator:<6}"
                f"{_fmt_mu(mf.m):<8}{_fmt_mu(mf.u):<7}"
            )
        out.append(f"{p.cutoff.hi}  {p.cutoff.lo} ")
        out.append(f"{p.print_cutoff.hi}  {p.print_cutoff.lo} ")
    f = cfg.id_field
    out.append(f"{f.name:<24}{f.rec_start} {f.rec_width} {f.mem_start} {f.mem_width}")
    return "\n".join(out) + "\n"


def parse_parmn(text: str) -> tuple[str, str]:
    """parmn.txt: line 1 = memory-file path, line 2 = record-file path
    (/root/reference/samplefiles/gs/parmn.txt)."""
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    if len(lines) < 2:
        raise ValueError("parmn needs two lines (memfile, recfile)")
    return lines[0], lines[1]


# ---------------------------------------------------------------------------
# Data dictionary CSV (the reference's external schema system)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DictField:
    name: str
    start_pos: int  # 1-based
    width: int
    is_unique_id: bool = False
    is_match_field: bool = False
    bigmatch_type: str = ""
    data_format: str = ""


#: Canonical header, /root/reference/app/recfile.dict.csv:1 and the
#: hard-coded fallback at app/DataDict.py:208.
DICT_HEADER = (
    "column_name,start_pos,width,unique_id_yn,matchfield_yn,"
    "bigmatch_type,data_format,comments"
)

_TRUTHY = {"y", "t", "1", "yes", "true"}  # app/BlockingPass.py:334


def parse_datadict(text: str) -> list[DictField]:
    """Parse a data-dictionary CSV, tolerant of header variants
    (column_name|columnname, unique_id|unique_id_yn|seq_yn —
    /root/reference/app/BlockingPass.py:254-265)."""
    reader = csv.reader(io.StringIO(text))
    rows = [r for r in reader if any(c.strip() for c in r)]
    if not rows:
        return []
    header = [h.strip().lower() for h in rows[0]]

    def col(*names: str) -> int | None:
        for n in names:
            if n in header:
                return header.index(n)
        return None

    i_name = col("column_name", "columnname", "column")
    i_start = col("start_pos", "startpos", "start")
    i_width = col("width")
    i_uid = col("unique_id_yn", "unique_id", "seq_yn", "uniqueid_yn")
    i_match = col("matchfield_yn", "match_field_yn", "matchfield")
    i_type = col("bigmatch_type", "bigmatchtype")
    i_fmt = col("data_format", "dataformat")
    if i_name is None or i_start is None or i_width is None:
        raise ValueError(f"dictionary missing crucial columns in header {header}")

    def get(r: list[str], i: int | None) -> str:
        return r[i].strip() if i is not None and i < len(r) else ""

    fields = []
    for r in rows[1:]:
        name = get(r, i_name)
        if not name:
            continue
        fields.append(
            DictField(
                name=name,
                start_pos=int(get(r, i_start) or 0),
                width=int(get(r, i_width) or 0),
                is_unique_id=get(r, i_uid).lower() in _TRUTHY,
                is_match_field=get(r, i_match).lower() in _TRUTHY,
                bigmatch_type=get(r, i_type).lower(),
                data_format=get(r, i_fmt).lower(),
            )
        )
    return fields


def write_datadict(fields: list[DictField]) -> str:
    out = [DICT_HEADER]
    for f in fields:
        out.append(
            f"{f.name},{f.start_pos},{f.width},"
            f"{'y' if f.is_unique_id else ''},{'y' if f.is_match_field else ''},"
            f"{f.bigmatch_type},{f.data_format},"
        )
    return "\n".join(out) + "\n"


def unique_id_field(fields: list[DictField]) -> DictField:
    """Exactly one column is the record's unique sequence ID
    (app/BlockingPass.py:298-356)."""
    ids = [f for f in fields if f.is_unique_id]
    if len(ids) != 1:
        raise ValueError(f"expected exactly one unique_id_yn column, got {len(ids)}")
    return ids[0]
