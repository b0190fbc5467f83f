"""parmf / parmn / data-dictionary grammar tests (grammar per
/root/reference/app/BigMatchParmFile.py:405-549).

Every test reads stand-ins rebuilt from FIXTURES.md into ``tmp_path``: a
``gs``-shaped parmf, parmn and record dictionary (F2) and an
``app/parmf.txt`` (F3). When the reference checkout is present, every
sample parmf it ships is an extra parametrization of the parmf tests."""

from __future__ import annotations

import glob
from pathlib import Path

import pytest

from bigmatch_utilities_spark.config import (
    MatchConfig,
    parse_datadict,
    parse_parmf,
    parse_parmn,
    unique_id_field,
    write_datadict,
    write_parmf,
)
from tests.person_f2 import REC_LAYOUT, REC_ROWS, write_side

#: F2's ``gs/parmf.txt`` shape: 3 passes with 3/2/2 blocking fields and
#: 2/3/3 match fields on the F2 layouts, two-file mode, id at rec 53 /
#: mem 41.
GS_PARMF = """\
3 1 1 0 1 0 0 56 44
3 2 2
2 3 3
fname 1 14 1 14 1
lname 27 14 15 14 1
dob 45 8 33 8 1
race 41 2 29 2 0 uo 0.90 0.10
gender 43 2 31 2 0 uo 0.90 0.10
4.0 0.0
4.0 -4.0
lname 27 14 15 14 1
dob 45 8 33 8 1
fname 1 14 1 14 0 uo 0.90 0.05
race 41 2 29 2 0 uo 0.90 0.10
gender 43 2 31 2 0 uo 0.90 0.10
6.0 0.0
6.0 -6.0
fname 1 14 1 14 1
dob 45 8 33 8 1
lname 27 14 15 14 0 uo 0.95 0.05
race 41 2 29 2 0 uo 0.90 0.10
gender 43 2 31 2 0 uo 0.90 0.10
6.0 0.0
6.0 -6.0
id 53 4 41 4
"""
#: F3's ``app/parmf.txt``: pass 1 blocks on id and scores fname/lname,
#: pass 2 blocks on lname and scores addrnum/street/city; cutoffs
#: 98.0/2.0, print cutoffs 97.0/3.0.
APP_PARMF = """\
2 1 1 0 1 0 0 77 77
1 1
2 3
id 1 4 1 4 1
fname 5 15 5 15 0 uo 0.87 0.01
lname 20 15 20 15 0 uo 0.49 0.05
98.0 2.0
97.0 3.0
lname 20 15 20 15 1
addrnum 35 5 35 5 0 uo 0.80 0.05
street 40 15 40 15 0 uo 0.85 0.02
city 55 15 55 15 0 uo 0.90 0.10
98.0 2.0
97.0 3.0
id 1 4 1 4
"""
PARMN = "/data/gs/sample2_fixedwidth.txt\n/data/gs/sample_fixedwidth.txt\n"

REFERENCE = Path("/root/reference")
#: (root, relative path): the stand-ins, then the reference's own samples
PARMFS = [("standin", "gs/parmf.txt"), ("standin", "app/parmf.txt")] + [
    ("reference", str(Path(p).relative_to(REFERENCE)))
    for p in sorted(glob.glob(f"{REFERENCE}/samplefiles/**/parmf*.txt", recursive=True))
    + sorted(glob.glob(f"{REFERENCE}/app/parmf.txt"))
]


@pytest.fixture
def standin(tmp_path):
    """The stand-in reference tree: gs parmf, parmn and record dictionary,
    and app/parmf.txt."""
    (tmp_path / "gs").mkdir()
    (tmp_path / "app").mkdir()
    (tmp_path / "gs" / "parmf.txt").write_text(GS_PARMF)
    (tmp_path / "gs" / "parmn.txt").write_text(PARMN)
    write_side(tmp_path / "gs", "sample_fixed_width", REC_LAYOUT, REC_ROWS)
    (tmp_path / "app" / "parmf.txt").write_text(APP_PARMF)
    return tmp_path


def _parmf(standin, root, rel):
    return parse_parmf(((standin if root == "standin" else REFERENCE) / rel).read_text())


@pytest.mark.parametrize("root, rel", PARMFS, ids=[f"{r}:{p}" for r, p in PARMFS])
def test_parse_every_reference_parmf(standin, root, rel):
    cfg = _parmf(standin, root, rel)
    assert isinstance(cfg, MatchConfig)
    assert len(cfg.passes) >= 1
    for p in cfg.passes:
        assert len(p.block_fields) >= 1
        assert len(p.match_fields) >= 1
        for mf in p.match_fields:
            assert 0.0 < mf.u < mf.m < 1.0
            assert mf.comparator in ("c", "ci", "uo", "uoi", "p", "y", "q", "s")
    assert cfg.id_field.name


@pytest.mark.parametrize("root, rel", PARMFS, ids=[f"{r}:{p}" for r, p in PARMFS])
def test_parmf_round_trip(standin, root, rel):
    cfg = _parmf(standin, root, rel)
    assert parse_parmf(write_parmf(cfg)) == cfg


def test_gs_parmf_shape(standin):
    cfg = parse_parmf((standin / "gs" / "parmf.txt").read_text())
    assert len(cfg.passes) == 3
    assert [len(p.block_fields) for p in cfg.passes] == [3, 2, 2]
    assert [len(p.match_fields) for p in cfg.passes] == [2, 3, 3]
    p0 = cfg.passes[0]
    assert [bf.name for bf in p0.block_fields] == ["fname", "lname", "dob"]
    assert [mf.name for mf in p0.match_fields] == ["race", "gender"]
    assert all(mf.comparator == "uo" for mf in p0.match_fields)
    assert all(mf.m == 0.90 and mf.u == 0.10 for mf in p0.match_fields)
    assert cfg.id_field.name == "id"
    assert cfg.id_field.rec_start == 53 and cfg.id_field.mem_start == 41
    assert not cfg.dedupe_single_file


def test_parmn(standin):
    mem, rec = parse_parmn((standin / "gs" / "parmn.txt").read_text())
    assert mem.endswith("sample2_fixedwidth.txt")
    assert rec.endswith("sample_fixedwidth.txt")


def test_datadict_parse_and_roundtrip(standin):
    text = (standin / "gs" / "sample_fixed_width.dict.csv").read_text()
    fields = parse_datadict(text)
    assert [f.name for f in fields] == [
        "fname", "mname", "lname", "race", "gender", "dob", "id",
    ]
    uid = unique_id_field(fields)
    assert uid.name == "id" and uid.start_pos == 53 and uid.width == 4
    again = parse_datadict(write_datadict(fields))
    assert again == fields


def test_datadict_header_variants():
    text = "columnname,startpos,width,seq_yn\nfoo,1,5,\nbar,6,3,y\n"
    fields = parse_datadict(text)
    assert fields[0].name == "foo" and fields[1].is_unique_id


def test_edit_comparator_config_reachable():
    """e/ei validate in MatchField and survive a parmf round-trip — the
    comparator grammar position is just another method token
    (app/BigMatchParmFile.py:472-506)."""
    from bigmatch_utilities_spark.config import (
        BlockingPassSpec,
        BlockField,
        FieldRef,
        MatchConfig,
        MatchField,
    )

    mf = MatchField(name="path", comparator="e", m=0.9, u=0.05)
    mfi = MatchField(name="path", comparator="ei", m=0.9, u=0.05)
    cfg = MatchConfig(
        passes=(
            BlockingPassSpec(
                block_fields=(BlockField(name="lang"),),
                match_fields=(mf, mfi),
            ),
        ),
        id_field=FieldRef(name="record_id"),
    )
    assert parse_parmf(write_parmf(cfg)).passes[0].match_fields[0].comparator == "e"
    assert parse_parmf(write_parmf(cfg)).passes[0].match_fields[1].comparator == "ei"
