"""Meta-blocking: CBS edge weights, integer-exact WEP prune, blank-key
and block-size guards, DuckDB oracle parity."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from bigmatch_utilities_spark.operators.meta_blocking import (
    block_assignments,
    meta_block_pairs,
    meta_block_pairs_sql,
)

# (doc_id, text, lang, n_chars): 1/2 agree on every key family, 1/3 only
# on the md5 of identical text? no — 3 has different text; 3/4 share only
# the coarse lang_len bucket; 5 has a NULL lang (blank key) and unique text
DOCS = [
    (1, "shared prefix aaaa", "py", 18),
    (2, "shared prefix aaaa", "py", 18),
    (3, "shared prefix bbbb", "py", 18),
    (4, "different body cc", "py", 17),
    (5, "unique text dddd", None, 16),
]

KEYS = {
    "lang_len": "lang || '|' || CAST(CAST(floor(n_chars / 10) AS BIGINT) AS STRING)",
    "md5p": "substr(md5(text), 1, 4)",
    "pfx": "substr(lower(text), 1, 12)",
}


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang", "n_chars"])


def test_blank_keys_propose_nothing(spark):
    asg = block_assignments(_docs(spark), "doc_id", KEYS)
    rows = asg.filter(F.col("id") == 5).collect()
    # doc 5: lang NULL → `lang || ...` is NULL → dropped; md5/pfx remain
    assert {r["block"].split("=")[0] for r in rows} == {"md5p", "pfx"}


def test_cbs_weights_and_wep_prune(spark):
    edges = {
        (r["id_l"], r["id_r"]): r["cbs"]
        for r in meta_block_pairs(_docs(spark), "doc_id", KEYS).collect()
    }
    # raw CBS: (1,2) share lang_len+md5p+pfx = 3; (1,3)/(2,3) share
    # lang_len+pfx = 2; (1,4)(2,4)(3,4) share lang_len = 1 → mean = 10/6;
    # WEP keeps cbs*6 >= 10, i.e. cbs >= 2
    assert edges == {(1, 2): 3, (1, 3): 2, (2, 3): 2}


def test_block_size_guard(spark):
    # cap of 2 drops the 4-member lang_len block AND the 3-member pfx
    # block; only the 2-member md5p block survives → a single (1,2) edge
    # with one vote (which trivially clears its own mean)
    edges = {
        (r["id_l"], r["id_r"]): r["cbs"]
        for r in meta_block_pairs(
            _docs(spark), "doc_id", KEYS, max_block_rows=2
        ).collect()
    }
    assert edges == {(1, 2): 1}


def test_oracle_parity(spark, tmp_path):
    docs = _docs(spark)
    pq = str(tmp_path / "docs.parquet")
    docs.write.parquet(pq)
    got = sorted(
        tuple(r)
        for r in meta_block_pairs(docs, "doc_id", KEYS, max_block_rows=256).collect()
    )
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{pq}/*.parquet'")
    want = sorted(
        tuple(r)
        for r in con.sql(
            meta_block_pairs_sql("documents", "doc_id", KEYS, max_block_rows=256)
        ).fetchall()
    )
    assert got == want


def test_plan_shape(spark):
    """Scale hygiene: no Window node anywhere; the WEP scalar joins in via
    BroadcastNestedLoopJoin (1-row frame), never a shuffled join."""
    plan = meta_block_pairs(_docs(spark), "doc_id", KEYS)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_block_filtering_keeps_smallest_blocks(spark):
    from bigmatch_utilities_spark.operators.meta_blocking import (
        block_filtering_pairs,
    )

    # ids 1-4 share a size-4 block (k1); 1-2 and 3-4 each share a size-2
    # block. ratio=0.5 with 2 blocks/record keeps ceil(1)=1 smallest ->
    # only the tight blocks survive, the loose canopy proposes nothing.
    df = spark.createDataFrame(
        [(1, "x", "y"), (2, "x", "y"), (3, "x", "z"), (4, "x", "z")],
        ["id", "k1", "k2"],
    )
    out = {
        (r.id_l, r.id_r): r.n_co
        for r in block_filtering_pairs(
            df, "id", {"a": "k1", "b": "k2"}, ratio=0.5
        ).collect()
    }
    assert out == {(1, 2): 1, (3, 4): 1}


def test_block_filtering_purge_and_ratio_one(spark):
    from bigmatch_utilities_spark.operators.meta_blocking import (
        block_filtering_pairs,
    )

    df = spark.createDataFrame(
        [(1, "x", "y"), (2, "x", "y"), (3, "x", "z"), (4, "x", "z")],
        ["id", "k1", "k2"],
    )
    # ratio=1.0 keeps every surviving block: canopy pairs reappear...
    out = {
        (r.id_l, r.id_r): r.n_co
        for r in block_filtering_pairs(
            df, "id", {"a": "k1", "b": "k2"}, ratio=1.0
        ).collect()
    }
    assert out[(1, 2)] == 2 and out[(3, 4)] == 2 and out[(1, 3)] == 1
    # ...unless the canopy is purged outright
    out2 = {
        (r.id_l, r.id_r): r.n_co
        for r in block_filtering_pairs(
            df, "id", {"a": "k1", "b": "k2"}, ratio=1.0, purge_above=3
        ).collect()
    }
    # the canopy contributed one of the two co-occurrences; purged, each
    # pair keeps only its tight block
    assert out2 == {(1, 2): 1, (3, 4): 1}


def test_block_filtering_oracle_parity(spark, tmp_path):
    from bigmatch_utilities_spark.operators.meta_blocking import (
        block_filtering_pairs,
        block_filtering_pairs_sql,
    )

    d = _docs(spark)
    p = str(tmp_path / "docs.parquet")
    d.write.mode("overwrite").parquet(p)
    got = sorted(
        tuple(r)
        for r in block_filtering_pairs(d, "doc_id", KEYS, ratio=0.5).collect()
    )
    sql = block_filtering_pairs_sql(
        f"read_parquet('{p}/*.parquet')", "doc_id", KEYS, ratio=0.5
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_qgram_blocking_survives_typo(spark):
    """Two values one edit apart share most q-grams, so they co-block —
    the case an exact equi key always loses."""
    from bigmatch_utilities_spark.operators.meta_blocking import qgram_block_pairs

    df = spark.createDataFrame(
        [
            (1, "jonathan smith"),
            (2, "jonathan smyth"),   # one substitution
            (3, "completely other"),
            (4, "совсем другое"),
        ],
        ["id", "name"],
    )
    out = {
        (r.id_l, r.id_r)
        for r in qgram_block_pairs(df, "id", "name", n=4, ratio=1.0).collect()
    }
    assert (1, 2) in out
    assert (1, 3) not in out and (3, 4) not in out


def test_qgram_short_and_null_values(spark):
    from bigmatch_utilities_spark.operators.meta_blocking import qgram_block_pairs

    df = spark.createDataFrame(
        [(1, "ab"), (2, "ab"), (3, None), (4, ""), (5, "ab")],
        ["id", "v"],
    )
    # values shorter than n block on the whole value; NULL/'' propose nothing
    out = {
        (r.id_l, r.id_r)
        for r in qgram_block_pairs(df, "id", "v", n=4, ratio=1.0).collect()
    }
    assert out == {(1, 2), (1, 5), (2, 5)}


def test_qgram_oracle_parity(spark, tmp_path):
    from bigmatch_utilities_spark.operators.meta_blocking import (
        qgram_block_pairs,
        qgram_block_pairs_sql,
    )

    rows = [
        (i, f"value number {i % 5} with shared tail segment {'x' * (i % 3)}")
        for i in range(30)
    ] + [(100, "ab"), (101, None)]
    df = spark.createDataFrame(rows, ["id", "v"])
    p = str(tmp_path / "q.parquet")
    df.write.parquet(p)
    got = sorted(
        tuple(r)
        for r in qgram_block_pairs(df, "id", "v", n=5, ratio=0.4).collect()
    )
    sql = qgram_block_pairs_sql(
        f"read_parquet('{p}/*.parquet')", "id", "v", n=5, ratio=0.4
    )
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_suffix_blocking_prefix_divergence(spark):
    """The case q-grams handle poorly and equi keys miss entirely:
    values differing only by a PREFIX co-block on their shared suffix."""
    from bigmatch_utilities_spark.operators.meta_blocking import (
        suffix_block_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "dr jane smith"),
            (2, "jane smith"),
            (3, "src/lib/util.py"),
            (4, "lib/util.py"),
            (5, "nothing alike zzz"),
        ],
        "id long, v string",
    )
    pairs = {
        (r.id_l, r.id_r)
        for r in suffix_block_pairs(
            df, "id", "v", min_len=6, ratio=1.0, purge_above=100
        ).collect()
    }
    assert (1, 2) in pairs and (3, 4) in pairs
    assert all(5 not in p for p in pairs)


def test_suffix_blocking_sql_parity(spark, tmp_path):
    import random
    import string as _string

    from bigmatch_utilities_spark.operators.meta_blocking import (
        suffix_block_pairs,
        suffix_block_pairs_sql,
    )

    rng = random.Random(11)
    base = [
        "".join(rng.choice(_string.ascii_lowercase) for _ in range(rng.randint(3, 16)))
        for _ in range(60)
    ]
    vals = base + ["pre" + v for v in base[:30]] + ["", "ab"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v string"
    )
    path = str(tmp_path / "s.parquet")
    df.write.mode("overwrite").parquet(path)
    kw = dict(min_len=5, ratio=0.6, purge_above=40)
    got = sorted(
        (r.id_l, r.id_r, r.n_co)
        for r in suffix_block_pairs(df, "id", "v", **kw).collect()
    )
    con = duckdb.connect()
    sql = suffix_block_pairs_sql(
        f"read_parquet('{path}/*.parquet')", "id", "v", **kw
    )
    want = sorted(tuple(r) for r in con.sql(sql).fetchall())
    assert got == want and len(got) > 0


def test_qgram_pass_kind_through_run_match(spark):
    """A QGram blocker routes pass_candidates through qgram_block_pairs and
    feeds the standard FS scoring path — a typo'd key field still links."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        QGram,
    )
    from bigmatch_utilities_spark.operators.meta_blocking import qgram_block_pairs
    from bigmatch_utilities_spark.operators.pipeline import run_match

    df = spark.createDataFrame(
        [
            (1, "jonathan quincy smithfield", "a"),
            (2, "jonathan quincy smithfeild", "a"),  # transposition in key
            (3, "jonathan quincy smithfield", "b"),
            (4, "zzzz entirely unrelated 99", "b"),
        ],
        "rid long, name string, src string",
    )
    cut = CutoffSpec(hi=0.5, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                blocker=QGram(field="name", n=4, ratio=1.0),
                block_fields=(),
                match_fields=(
                    MatchField(name="name", comparator="e", m=0.9, u=0.1),
                    MatchField(name="src", comparator="c", m=0.8, u=0.2),
                ),
                cutoff=cut,
                print_cutoff=cut,
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, id_col="rid", persist=False)
    scored = {(r.id_rec, r.id_mem) for r in res.pairs.collect()}
    cands = {
        (r.id_l, r.id_r)
        for r in qgram_block_pairs(df, "rid", "name", n=4, ratio=1.0).collect()
    }
    assert scored == cands
    assert {(1, 2), (1, 3), (2, 3)} <= scored and not any(4 in p for p in scored)


def test_suffix_pass_kind_through_run_match(spark):
    """A Suffix blocker links records whose key diverges at the PREFIX."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        Suffix,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match

    df = spark.createDataFrame(
        [
            (1, "dr jonathan smithfield", "a"),
            (2, "jonathan smithfield", "a"),  # title-stripped prefix
            (3, "unrelated person here!", "b"),
        ],
        "rid long, name string, src string",
    )
    cut = CutoffSpec(hi=0.1, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                blocker=Suffix(field="name", min_len=8, ratio=1.0),
                block_fields=(),
                match_fields=(
                    MatchField(name="name", comparator="e", m=0.9, u=0.1),
                ),
                cutoff=cut,
                print_cutoff=cut,
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, id_col="rid", persist=False)
    scored = {(r.id_rec, r.id_mem) for r in res.pairs.collect()}
    assert (1, 2) in scored and not any(3 in p for p in scored)


def test_qgram_suffix_pass_validation_and_parmf_refusal():
    import pytest as _pytest

    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        QGram,
        Suffix,
        write_parmf,
    )

    with _pytest.raises(TypeError, match="field"):
        QGram()
    with _pytest.raises(ValueError, match="qgram n"):
        QGram(field="x", n=1)
    with _pytest.raises(TypeError, match="field"):
        Suffix()
    with _pytest.raises(ValueError, match="suffix ratio"):
        Suffix(field="x", ratio=0.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(), blocker=QGram(field="name"),
                match_fields=(MatchField(name="name", comparator="c", m=0.9, u=0.1),),
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    with _pytest.raises(ValueError, match="cannot express"):
        write_parmf(cfg)


def test_meta_pass_kind_through_run_match(spark):
    """A Meta blocker routes pass_candidates through the CBS multi-key block
    graph (WEP or WNP prune) and feeds the standard FS scoring path — a
    pair co-proposed by two independent keys outranks one-key noise."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        Meta,
    )
    from bigmatch_utilities_spark.operators.meta_blocking import (
        meta_block_pairs,
        wnp_pairs,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match

    df = spark.createDataFrame(
        [
            (1, "ada", "x", "a"),
            (2, "ada", "x", "a"),   # co-fires on BOTH keys with 1
            (3, "ada", "y", "b"),   # co-fires only on k1 with 1/2
            (4, "bob", "y", "b"),   # co-fires only on k2 with 3
            (5, "eve", "z", "c"),   # singleton on every key
        ],
        "rid long, k1 string, k2 string, src string",
    )
    keys = (("k1", "k1"), ("k2", "k2"))
    cut = CutoffSpec(hi=0.5, lo=-50.0)

    def cfg(prune):
        return MatchConfig(
            passes=(
                BlockingPassSpec(
                    blocker=Meta(keys=keys, prune=prune),
                    block_fields=(),
                    match_fields=(
                        MatchField(name="src", comparator="c", m=0.9, u=0.1),
                    ),
                    cutoff=cut,
                    print_cutoff=cut,
                ),
            ),
            id_field=FieldRef(name="rid"),
            dedupe_single_file=True,
        )

    for prune, ref_fn in (("wep", meta_block_pairs), ("wnp", wnp_pairs)):
        res = run_match(df, None, cfg(prune), id_col="rid", persist=False)
        scored = {(r.id_rec, r.id_mem) for r in res.pairs.collect()}
        expect = {
            (r.id_l, r.id_r)
            for r in ref_fn(df, "rid", dict(keys)).collect()
        }
        assert scored == expect and scored
    # WEP (global mean 1.25) keeps only the cbs-2 edge; WNP keeps each
    # node's locally-average evidence too
    wep = {(r.id_l, r.id_r) for r in meta_block_pairs(df, "rid", dict(keys)).collect()}
    wnp = {(r.id_l, r.id_r) for r in wnp_pairs(df, "rid", dict(keys)).collect()}
    assert wep == {(1, 2)}
    assert (3, 4) in wnp and (1, 2) in wnp


def test_meta_pass_validation_and_parmf_refusal():
    import pytest as _pytest

    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        FieldRef,
        MatchConfig,
        MatchField,
        Meta,
        write_parmf,
    )

    with _pytest.raises(TypeError, match="keys"):
        Meta()
    with _pytest.raises(ValueError, match="needs keys"):
        Meta(keys=())
    with _pytest.raises(ValueError, match="meta prune"):
        Meta(keys=(("k", "k"),), prune="nope")
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(), blocker=Meta(keys=(("k", "name"),)),
                match_fields=(MatchField(name="name", comparator="c", m=0.9, u=0.1),),
            ),
        ),
        id_field=FieldRef(name="rid"),
        dedupe_single_file=True,
    )
    with _pytest.raises(ValueError, match="cannot express"):
        write_parmf(cfg)


# ---------------------------------------------------------------------------
# rarest_token_canopy
# ---------------------------------------------------------------------------

from bigmatch_utilities_spark.operators.meta_blocking import (
    rarest_token_canopy,
    rarest_token_canopy_sql,
)


def test_rare_canopy_picks_rarest_and_purges(spark):
    rows = [
        (1, "the acme corp"),       # acme df=2 beats corp df=3; the purged
        (2, "the acme corp inc"),   # inc df=2, ties acme -> 'acme' lexicographic
        (3, "the zebra inc"),       # zebra df=1 -> unique canopy
        (4, "the corp"),            # corp (df=3) after 'the' purged
        (5, "the the the"),         # only purged tokens -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in rarest_token_canopy(df, "id", "text", purge_above=3).collect()}
    assert set(out) == {1, 2, 3, 4}  # record 5 has no surviving token
    assert out[1]["canopy"] == "acme" and out[1]["canopy_df"] == 2
    assert out[2]["canopy"] == "acme"  # acme/inc both df=2 -> lexicographic
    assert out[3]["canopy"] == "zebra" and out[3]["canopy_df"] == 1
    assert out[4]["canopy"] == "corp"


def test_rare_canopy_tie_breaks_lexicographically(spark):
    df = spark.createDataFrame([(1, "beta alpha")], "id long, text string")
    out = rarest_token_canopy(df, "id", "text").collect()
    assert out[0]["canopy"] == "alpha"  # both df=1 -> lexicographic


def test_rare_canopy_parity(spark, tmp_path):
    import random as _random

    rng = _random.Random(80804)
    vocab = ["acme", "corp", "ltd", "zebra", "quick", "brown", "fox", "the", "of"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pq = str(tmp_path / "rc.parquet")
    df.write.mode("overwrite").parquet(pq)
    got = sorted(tuple(r) for r in rarest_token_canopy(df, "id", "text", purge_above=60).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW tbl AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = sorted(
        tuple(r)
        for r in con.execute(
            rarest_token_canopy_sql("tbl", "id", "text", purge_above=60)
        ).fetchall()
    )
    assert got == want


def test_canopy_pass_kind(spark):
    """A Canopy blocker runs inside run_match: canopy pairs are scored, and
    first-pass-wins dedup keeps pass-0 ownership of shared pairs."""
    from bigmatch_utilities_spark.config import (
        BlockField,
        BlockingPassSpec,
        Canopy,
        CutoffSpec,
        FieldRef,
        MatchConfig,
        MatchField,
    )
    from bigmatch_utilities_spark.operators.pipeline import run_match

    rows = [
        # same zip -> pass 0 catches (1,2); the shared rarest token links
        # (1,3)/(2,3) only through the canopy pass (different zips);
        # zelda/corp tie at df=3 -> lexicographic canopy 'corp'
        (1, "11111", "zelda corp"),
        (2, "11111", "zelda corp"),
        (3, "99999", "zelda corp"),
        (4, "88888", "common common"),
    ]
    df = spark.createDataFrame(rows, "id long, zip string, name string")
    fields = (MatchField(name="name", comparator="e", m=0.9, u=0.1),)
    cut = CutoffSpec(hi=2.0, lo=-50.0)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(BlockField(name="zip"),),
                match_fields=fields,
                cutoff=cut,
                print_cutoff=cut,
            ),
            BlockingPassSpec(
                block_fields=(),
                match_fields=fields,
                cutoff=cut,
                print_cutoff=cut,
                blocker=Canopy(field="name", purge_above=3),
            ),
        ),
        id_field=FieldRef(name="id"),
        dedupe_single_file=True,
    )
    res = run_match(df, None, cfg, id_col="id", persist=False)
    got = {
        (r["id_rec"], r["id_mem"]): r["pass_id"] for r in res.pairs.collect()
    }
    assert got[(1, 2)] == 0       # equi pass owns the same-zip pair
    assert got[(1, 3)] == 1       # canopy (zelda) reaches across zips
    assert got[(2, 3)] == 1
    assert (1, 4) not in got      # no shared canopy, no shared zip


def test_canopy_pass_requires_field():
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        Canopy,
        MatchField,
    )

    import pytest as _pytest

    with _pytest.raises(TypeError, match="field"):
        Canopy()
    with _pytest.raises(ValueError, match="needs a field"):
        BlockingPassSpec(
            block_fields=(),
            match_fields=(MatchField(name="x", comparator="c", m=0.9, u=0.1),),
            blocker=Canopy(field=""),
        )
