"""Fixed-width source/sink tests over the F2 person pair
(tests/person_f2.py, the FIXTURES.md F2 layouts)."""

from __future__ import annotations

from bigmatch_utilities_spark.config import parse_datadict
from bigmatch_utilities_spark.sources.fixed_width import (
    csv_to_fixed_width,
    infer_widths,
    read_fixed_width,
    write_fixed_width,
)
from tests.person_f2 import MEM_ROWS, REC_ROWS, write_person_f2


def _read(spark, d, side):
    """(fields, frame) of the F2 ``side`` file ('rec' or 'mem') in ``d``."""
    fields = parse_datadict((d / f"{side}.dict.csv").read_text())
    return fields, read_fixed_width(spark, str(d / f"{side}.txt"), fields)


def test_read_rec_sample(spark, tmp_path):
    _, df = _read(spark, write_person_f2(tmp_path), "rec")
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == len(REC_ROWS) == 14
    r1 = rows["1"]
    assert r1["fname"] == "THOMAS"
    assert r1["mname"] == "A"
    assert r1["lname"] == "EDISON"
    assert r1["race"] == "W" and r1["gender"] == "M" and r1["dob"] == "18470211"
    # a row blank in every field reads back blank, not shifted
    assert all(rows["12"][c] == "" for c in ("fname", "lname", "dob", "race"))


def test_read_mem_sample_blanks(spark, tmp_path):
    _, df = _read(spark, write_person_f2(tmp_path), "mem")
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == len(MEM_ROWS) == 10
    assert "mname" not in df.columns
    # perturbations: TOM vs THOMAS, blank dob/race (blanks read as '')
    r1 = rows["1"]
    assert r1["fname"] == "TOM" and r1["lname"] == "EDISON"
    assert r1["dob"] == "18470211" and r1["race"] == "W"
    r2 = rows["2"]
    assert r2["fname"] == "ALBERT" and r2["dob"] == "" and r2["race"] == ""


def test_write_round_trip(spark, tmp_path):
    fields, df = _read(spark, write_person_f2(tmp_path), "rec")
    out = str(tmp_path / "out_fw")
    write_fixed_width(df, out, fields)
    again = read_fixed_width(spark, out, fields)
    assert sorted(df.collect()) == sorted(again.collect())


def test_infer_widths_and_csv_convert(spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\nxx,1\nyyyy,22\n,333\n")
    df = spark.read.csv(str(csv), header=True)
    w = infer_widths(df)
    assert w == {"a": 4, "b": 3}
    out = str(tmp_path / "fw")
    fields = csv_to_fixed_width(spark, str(csv), out)
    assert [(f.name, f.start_pos, f.width) for f in fields] == [
        ("a", 1, 4),
        ("b", 5, 3),
    ]
    back = read_fixed_width(spark, out, fields)
    got = sorted((r["a"], r["b"]) for r in back.collect())
    assert got == [("", "333"), ("xx", "1"), ("yyyy", "22")]
