"""Two-file blocked join with guardrails against a brute-force pandas join.

The generic `candidate_pairs` path reads its block statistics (size cap on
either side, hot-block shard counts) from one aggregate over both sides'
keys. Each case here checks the emitted (id_rec, id_mem) set against the
plain definition: blank-flagged keys leave the pass, a block with more
than ``max_block_rows`` rows on either side yields nothing, sharding
changes no pair, and ``dedupe`` keeps ``id_rec < id_mem``.
"""

from __future__ import annotations

import pandas as pd
import pytest

from bigmatch_utilities_spark.config import BlockField, BlockingPassSpec, MatchField
from bigmatch_utilities_spark.operators.blocking import candidate_pairs

MATCH = (MatchField(name="v", comparator="c", m=0.9, u=0.1),)
# American soundex of every surname below (letters only, so every
# implementation agrees)
SOUNDEX = {"SMITH": "S530", "SMYTH": "S530", "JONES": "J520",
           "JONAS": "J520", "BROWN": "B650", "BRAUN": "B650",
           "CLARK": "C462"}


def _side(spec: list[tuple[str, str, str, int]], first_id: int) -> pd.DataFrame:
    """(k, k2, name, copies) groups → rows with ids first_id, first_id+2, …"""
    rows, i = [], first_id
    for k, k2, name, n in spec:
        for _ in range(n):
            rows.append({"id": i, "k": k, "k2": k2, "name": name, "v": f"v{i % 3}"})
            i += 2
    return pd.DataFrame(rows, columns=["id", "k", "k2", "name", "v"])


# block A: 7 record rows, 2 memory rows; block C: 2 record rows, 6 memory
# rows; B, D: small on both sides; '', '  ' and None: blank keys; E, F:
# one side only.
REC = _side([
    ("A", "x", "SMITH", 7), ("B", "x", "SMYTH", 2), ("C", "y", "JONES", 2),
    ("D", "y", "BROWN", 3), ("", "x", "JONAS", 2), ("  ", "y", "BRAUN", 1),
    (None, "x", "CLARK", 2), ("E", "x", "SMITH", 1),
], first_id=0)
MEM = _side([
    ("A", "x", "SMITH", 2), ("B", "y", "JONES", 3), ("C", "y", "JONES", 6),
    ("D", "y", "BRAUN", 2), ("", "x", "BROWN", 2), ("  ", "x", "SMYTH", 1),
    (None, "y", "CLARK", 1), ("F", "x", "JONAS", 1),
], first_id=1)  # ids interleave the rec side's: dedupe keeps about half


def _brute(rec, mem, keys, blank_flagged, *, max_block_rows=None, dedupe=False):
    def live(df):
        for k in blank_flagged:
            df = df[df[k].notna() & (df[k].astype(str).str.strip() != "")]
        return df

    r, m = live(rec), live(mem)
    if max_block_rows:
        # a block over the cap on EITHER side yields no pair
        capped = pd.concat([
            df.groupby(keys, dropna=False).size().loc[lambda s: s > max_block_rows]
            for df in (r, m)
        ]).index
        r = r[~r.set_index(keys).index.isin(capped)]
        m = m[~m.set_index(keys).index.isin(capped)]
    r, m = r.dropna(subset=keys), m.dropna(subset=keys)  # NULL never joins
    j = r.merge(m, on=keys, suffixes=("_rec", "_mem"))
    got = {(int(a), int(b)) for a, b in zip(j["id_rec"], j["id_mem"])}
    return {p for p in got if p[0] < p[1]} if dedupe else got


@pytest.fixture(scope="module")
def frames(spark):
    schema = "id long, k string, k2 string, name string, v string"

    def to_spark(pdf):
        return spark.createDataFrame(
            [tuple(None if pd.isna(x) else x for x in row)
             for row in pdf.itertuples(index=False)],
            schema,
        )

    return to_spark(REC), to_spark(MEM)


def _pairs(df):
    return {(int(r["id_rec"]), int(r["id_mem"])) for r in df.collect()}


KEY_K = BlockingPassSpec(block_fields=(BlockField(name="k"),), match_fields=MATCH)
# k2 is blank_flag=0: '' would be a block of its own (none here), and
# k's blanks still leave the pass
KEY_K_K2 = BlockingPassSpec(
    block_fields=(BlockField(name="k"), BlockField(name="k2", blank_flag=0)),
    match_fields=MATCH,
)
KEY_K_NOFLAG = BlockingPassSpec(
    block_fields=(BlockField(name="k", blank_flag=0),), match_fields=MATCH
)


@pytest.mark.parametrize(
    "spec, keys, flagged, kwargs, swap",
    [
        # block A has 7 record rows, block C 6 memory rows: a cap of 6
        # trips on the record side only; with the files swapped, on the
        # memory side only; a cap of 5 trips on both
        pytest.param(KEY_K, ["k"], ["k"], {"max_block_rows": 6}, False,
                     id="cap-rec-only"),
        pytest.param(KEY_K, ["k"], ["k"], {"max_block_rows": 6}, True,
                     id="cap-mem-only"),
        pytest.param(KEY_K, ["k"], ["k"], {"max_block_rows": 5}, False,
                     id="cap-both-sides"),
        pytest.param(KEY_K, ["k"], ["k"], {"shard_rows": 2}, False,
                     id="hot-rec-sharded"),
        pytest.param(KEY_K, ["k"], ["k"], {"shard_rows": 2}, True,
                     id="hot-rec-sharded-swapped"),
        pytest.param(KEY_K, ["k"], ["k"], {"shard_rows": 2, "max_block_rows": 6},
                     True, id="hot-sharded-and-capped"),
        pytest.param(KEY_K_K2, ["k", "k2"], ["k"], {"max_block_rows": 4}, False,
                     id="two-keys-capped"),
        pytest.param(KEY_K_NOFLAG, ["k"], [], {"max_block_rows": 6}, False,
                     id="blank-flag-zero"),
    ],
)
@pytest.mark.parametrize("dedupe", [False, True], ids=["link", "dedupe"])
def test_two_file_guardrails_match_brute_force(
    frames, spec, keys, flagged, kwargs, swap, dedupe
):
    rec, mem = frames[::-1] if swap else frames
    rec_pd, mem_pd = (MEM, REC) if swap else (REC, MEM)
    got = _pairs(candidate_pairs(rec, mem, spec, "id", dedupe=dedupe, **kwargs))
    want = _brute(rec_pd, mem_pd, keys, flagged, dedupe=dedupe,
                  max_block_rows=kwargs.get("max_block_rows"))
    assert got == want
    assert want  # every case keeps some pairs


def test_caps_drop_exactly_the_tripping_side(frames):
    """Each cap case drops the block it names and nothing else: cap 6
    drops block A (7 record rows); with the files swapped it drops A for
    its 7 memory rows; cap 5 also drops block C (6 memory rows)."""
    rec, mem = frames
    ids_a = set(REC.loc[REC["k"] == "A", "id"])
    mem_c = set(MEM.loc[MEM["k"] == "C", "id"])
    base = _pairs(candidate_pairs(rec, mem, KEY_K, "id"))
    cap6 = _pairs(candidate_pairs(rec, mem, KEY_K, "id", max_block_rows=6))
    cap5 = _pairs(candidate_pairs(rec, mem, KEY_K, "id", max_block_rows=5))
    assert cap6 == {p for p in base if p[0] not in ids_a}
    assert cap5 == {p for p in cap6 if p[1] not in mem_c}
    assert cap5 < cap6 < base
    swapped = _pairs(candidate_pairs(mem, rec, KEY_K, "id"))
    swapped6 = _pairs(candidate_pairs(mem, rec, KEY_K, "id", max_block_rows=6))
    assert swapped6 == {p for p in swapped if p[1] not in ids_a} < swapped


def test_soundex_key_matches_brute_force(frames):
    rec, mem = frames
    spec = BlockingPassSpec(
        block_fields=(BlockField(name="name", key_kind="soundex"),),
        match_fields=MATCH,
    )
    r, m = REC.assign(sdx=REC["name"].map(SOUNDEX)), MEM.assign(sdx=MEM["name"].map(SOUNDEX))
    for kwargs in ({}, {"max_block_rows": 6}, {"shard_rows": 2}):
        for dedupe in (False, True):
            got = _pairs(candidate_pairs(rec, mem, spec, "id", dedupe=dedupe, **kwargs))
            want = _brute(r, m, ["sdx"], ["sdx"], dedupe=dedupe,
                          max_block_rows=kwargs.get("max_block_rows"))
            assert got == want, (kwargs, dedupe)
            assert want


def _aggregates(df) -> int:
    """Aggregate nodes in the optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Aggregate [" in line)


def test_two_file_plan_has_one_block_statistics_aggregate(frames):
    """Cap and shard count come from ONE aggregate over both sides' block
    keys. The special-blocks table is joined to each side, so the logical
    plan lists it twice; Spark reuses its exchange when it runs. A cap
    aggregate per side plus a shard table over the capped record side
    would list six times."""
    rec, mem = frames
    both = candidate_pairs(rec, mem, KEY_K, "id", max_block_rows=6, shard_rows=2)
    assert _aggregates(both) == 2
    assert _aggregates(candidate_pairs(rec, mem, KEY_K, "id")) == 0
    # executing it runs one statistics aggregate: a partial and a final
    # hash aggregate, the second reference served by a reused exchange
    both.collect()
    plan = both._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("HashAggregate(") == 2, final
    assert "ReusedExchange" in final, final


def test_small_memory_file_is_broadcast_without_a_hint(frames):
    """SURVEY J5, the memory file held in RAM: a bare two-file pass hints
    no broadcast, and AQE broadcasts the small side from its measured
    size, so the executed plan runs a broadcast hash join."""
    rec, mem = frames
    pairs = candidate_pairs(rec, mem, KEY_K, "id")
    assert "broadcast" not in pairs._jdf.queryExecution().logical().toString()
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
