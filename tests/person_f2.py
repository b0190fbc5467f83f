"""A two-file person pair in the FIXTURES.md F2 layouts, written by the
tests that need one (tests/test_checkpoint.py, tests/test_pipeline_golden.py).

The memory file is the same people with perturbations (TOM vs THOMAS,
NICOLA vs NIKOLA, KATHRINE vs KATHERINE, blank dob/race) and no mname
column. Rows 12 and 20 are blank in every field, so the blank-flagged keys
drop them; JOHNSON and PARKS blocks hold two record rows each, and the
(gender, race) pass shares keys across many rows. PIERRE CURIE shares only
the CURIE block with MARIE CURIE and disagrees on every scored field, so
pass 0 scores the pair below its print floor and does not emit it.
"""

from __future__ import annotations

from bigmatch_utilities_spark.config import parse_datadict, parse_parmf
from bigmatch_utilities_spark.operators.pipeline import normalize
from bigmatch_utilities_spark.sources.fixed_width import read_fixed_width

REC_LAYOUT = [("fname", 14), ("mname", 12), ("lname", 14), ("race", 2),
              ("gender", 2), ("dob", 8), ("id", 4)]
MEM_LAYOUT = [("fname", 14), ("lname", 14), ("race", 2), ("gender", 2),
              ("dob", 8), ("id", 4)]
REC_ROWS = [
    ("THOMAS", "A", "EDISON", "W", "M", "18470211", 1),
    ("ALBERT", "", "EINSTEIN", "W", "M", "18790314", 2),
    ("MARIE", "S", "CURIE", "W", "F", "18671107", 3),
    ("ISAAC", "", "NEWTON", "W", "M", "16430104", 4),
    ("ADA", "K", "LOVELACE", "W", "F", "18151210", 5),
    ("ROSA", "L", "PARKS", "B", "F", "19130204", 6),
    ("NIKOLA", "", "TESLA", "W", "M", "18560710", 7),
    ("GRACE", "B", "HOPPER", "W", "F", "19061209", 8),
    ("ALAN", "M", "TURING", "W", "M", "19120623", 9),
    ("KATHERINE", "", "JOHNSON", "B", "F", "19180826", 10),
    ("MARY", "", "JOHNSON", "B", "F", "19200101", 11),
    ("", "", "", "", "", "", 12),
    ("JOHN", "Q", "PARKS", "W", "M", "19130204", 13),
    ("PIERRE", "", "CURIE", "A", "M", "18590515", 14),
]
MEM_ROWS = [
    ("TOM", "EDISON", "W", "M", "18470211", 1),
    ("ALBERT", "EINSTEIN", "", "M", "", 2),
    ("MARIE", "CURIE", "W", "F", "18671107", 3),
    ("ISAAC", "NEWTON", "W", "M", "16430104", 4),
    ("ADA", "LOVELACE", "W", "F", "18151210", 5),
    ("ROSA", "PARKS", "B", "F", "19130204", 6),
    ("NICOLA", "TESLA", "W", "M", "18560710", 7),
    ("GRACE", "HOPPER", "", "F", "19061209", 8),
    ("KATHRINE", "JOHNSON", "B", "F", "19180826", 10),
    ("", "", "", "", "", 20),
]
#: (rec id, mem id) of the same person on both sides.
PLANTED_LINKS = {
    ("1", "1"), ("2", "2"), ("3", "3"), ("4", "4"), ("5", "5"), ("6", "6"),
    ("7", "7"), ("8", "8"), ("10", "10"),
}
#: A blocked pair pass 0 scores below its print floor (-10).
BELOW_FLOOR = ("14", "3")
# parmf grammar: pass/field counts, then per pass one row per blocking
# field (name, rec start/width, mem start/width, blank flag), one per match
# field (..., 0, comparator, m, u), cutoff hi/lo, print cutoff hi/lo; last
# the unique id row.
PARMF = """\
3 1 1 0 1 0 0 56 44
1 1 2
3 2 3
lname 27 14 15 14 1
fname 1 14 1 14 0 uo 0.90 0.05
dob 45 8 33 8 0 c 0.95 0.02
gender 43 2 31 2 0 c 0.98 0.50
8.0 0.0
8.0 -10.0
dob 45 8 33 8 1
fname 1 14 1 14 0 uo 0.90 0.05
lname 27 14 15 14 0 uo 0.95 0.05
8.0 0.0
8.0 -10.0
gender 43 2 31 2 0
race 41 2 29 2 1
fname 1 14 1 14 0 uo 0.90 0.05
lname 27 14 15 14 0 uo 0.95 0.05
dob 45 8 33 8 0 c 0.95 0.02
8.0 0.0
8.0 -10.0
id 53 4 41 4
"""


def write_side(d, name, layout, rows):
    """``<d>/<name>.txt`` (fixed width) and its ``<name>.dict.csv``."""
    lines = []
    for row in rows:
        lines.append("".join(
            (str(v).rjust(w) if n == "id" else str(v).ljust(w))
            for (n, w), v in zip(layout, row)
        ))
    (d / f"{name}.txt").write_text("\n".join(lines) + "\n")
    dd = ["column_name,start_pos,width,unique_id_yn,matchfield_yn,"
          "bigmatch_type,data_format,comments"]
    pos = 1
    for n, w in layout:
        dd.append(f"{n},{pos},{w},{'y' if n == 'id' else ''},y,,,")
        pos += w
    (d / f"{name}.dict.csv").write_text("\n".join(dd) + "\n")


def write_person_f2(d):
    """Write the record file, the memory file and the 3-pass parmf into
    the directory ``d`` (a ``pathlib.Path``); returns ``d``."""
    write_side(d, "rec", REC_LAYOUT, REC_ROWS)
    write_side(d, "mem", MEM_LAYOUT, MEM_ROWS)
    (d / "parmf.txt").write_text(PARMF)
    return d


def read_person_f2(spark, d):
    """``(config, rec, mem)``: the parmf and both normalized files of ``d``."""
    cfg = parse_parmf((d / "parmf.txt").read_text())
    rec, mem = (
        normalize(read_fixed_width(
            spark, str(d / f"{side}.txt"),
            parse_datadict((d / f"{side}.dict.csv").read_text()),
        ))
        for side in ("rec", "mem")
    )
    return cfg, rec, mem
