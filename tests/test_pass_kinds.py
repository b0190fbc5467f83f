"""One contract for every pass kind: a small frozen params class per kind
owns its fields and validation, BlockingPassSpec holds only what every
pass shares plus that ``blocker``, and the kinds that generate candidates
from one frame refuse two-file input."""

from __future__ import annotations

import dataclasses

import pytest

from bigmatch_utilities_spark.config import (
    Ann,
    BlockField,
    BlockingPassSpec,
    Canopy,
    Equi,
    FieldRef,
    Interval,
    Lsh,
    MatchConfig,
    MatchField,
    Meta,
    Pprl,
    QGram,
    Snm,
    Suffix,
    write_parmf,
)
from bigmatch_utilities_spark.operators.pipeline import pass_candidates

#: (blocker, a valid change, an invalid change or None)
KINDS = [
    (Equi(), {"star_block_rows": 8}, None),
    (Snm(), {"window": 3}, {"window": 1}),
    (Lsh(field="text"), {"bands": 2}, {"rows_per_band": 0}),
    (Pprl(field="text"), {"bits": 256}, {"band_bits": 0}),
    (QGram(field="text"), {"n": 3}, {"ratio": 0.0}),
    (Suffix(field="text"), {"min_len": 4}, {"min_len": 1}),
    (Interval(start="s", end="e"), {"granule_s": 60}, {"max_granules": 0}),
    (Meta(keys=(("k", "text"),)), {"prune": "wnp"}, {"max_block_rows": 1}),
    (Canopy(field="text"), {"purge_above": 10}, {"purge_above": 1}),
    (Ann(field="vec"), {"dim": 8}, {"bits": 0}),
]
IDS = [b.kind for b, _, _ in KINDS]
SELF_JOIN = [b for b, _, _ in KINDS if not isinstance(b, (Equi, Snm))]


def _spec(blocker) -> BlockingPassSpec:
    return BlockingPassSpec(
        block_fields=(BlockField(name="k"),),
        match_fields=(MatchField(name="text", comparator="c"),),
        blocker=blocker,
    )


def test_spec_holds_only_the_shared_fields():
    assert [f.name for f in dataclasses.fields(BlockingPassSpec)] == [
        "block_fields", "match_fields", "cutoff", "print_cutoff",
        "suppress_equal", "match_field_pairs", "level_fields", "blocker",
    ]
    plain = BlockingPassSpec(block_fields=(), match_fields=())
    assert plain.blocker == Equi() and plain.blocker.star_block_rows is None


@pytest.mark.parametrize("blocker, ok, bad", KINDS, ids=IDS)
def test_construct_and_replace(blocker, ok, bad):
    spec = _spec(blocker)
    assert spec.blocker is blocker
    changed = dataclasses.replace(
        spec, blocker=dataclasses.replace(spec.blocker, **ok)
    )
    assert changed.block_fields == spec.block_fields
    assert type(changed.blocker) is type(blocker)
    for name, value in ok.items():
        assert getattr(changed.blocker, name) == value
    first = dataclasses.fields(blocker)[0].name
    with pytest.raises(dataclasses.FrozenInstanceError):
        setattr(blocker, first, getattr(blocker, first))
    if bad is not None:
        with pytest.raises(ValueError):
            dataclasses.replace(blocker, **bad)


@pytest.mark.parametrize("blocker, ok, bad", KINDS, ids=IDS)
def test_write_parmf_refuses_every_non_equi_kind(blocker, ok, bad):
    cfg = MatchConfig(passes=(_spec(blocker),), id_field=FieldRef(name="rid"))
    if isinstance(blocker, Equi):
        assert write_parmf(cfg).startswith("1 ")
    else:
        with pytest.raises(ValueError, match=f"cannot express a '{blocker.kind}'"):
            write_parmf(cfg)


@pytest.mark.parametrize("blocker, ok, bad", KINDS, ids=IDS)
def test_a_field_of_another_kind_cannot_be_set(blocker, ok, bad):
    own = {f.name for f in dataclasses.fields(blocker)}
    for _, other_ok, _ in KINDS:
        for name, value in other_ok.items():
            if name not in own:
                with pytest.raises(TypeError):
                    dataclasses.replace(blocker, **{name: value})
    # the spec itself has no kind fields, prefixed or not
    for name, value in ok.items():
        for key in (name, f"{blocker.kind}_{name}"):
            with pytest.raises(TypeError):
                BlockingPassSpec(block_fields=(), match_fields=(), **{key: value})
    with pytest.raises(TypeError):
        BlockingPassSpec(
            block_fields=(), match_fields=(), qgram_field="x", lsh_bands=99
        )


@pytest.fixture(scope="module")
def two_files(spark):
    schema = "rid long, k string, text string"
    return (
        spark.createDataFrame([(1, "x", "a")], schema),
        spark.createDataFrame([(2, "x", "a")], schema),
    )


@pytest.mark.parametrize("blocker", SELF_JOIN, ids=[b.kind for b in SELF_JOIN])
def test_self_join_kinds_refuse_two_file_input(two_files, blocker):
    rec, mem = two_files
    with pytest.raises(ValueError, match="single-file"):
        pass_candidates(rec, mem, _spec(blocker), "rid", dedupe=True)
    with pytest.raises(ValueError, match="single-file"):
        pass_candidates(rec, rec, _spec(blocker), "rid", dedupe=False)


@pytest.mark.parametrize("blocker", [Equi(), Snm(window=2)], ids=["equi", "snm"])
def test_equi_and_snm_link_two_files(two_files, blocker):
    rec, mem = two_files
    got = pass_candidates(rec, mem, _spec(blocker), "rid").collect()
    assert [(r.id_rec, r.id_mem, r.rec_text, r.mem_text) for r in got] == [
        (1, 2, "a", "a")
    ]
