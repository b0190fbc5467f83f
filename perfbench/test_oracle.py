"""Tests of the benchmark's independent checker (no Spark needed).

    python3 -m pytest perfbench/test_oracle.py -q
"""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest

from perfbench import inputs, oracle


@pytest.mark.parametrize("a,b,want", [
    ("MARTHA", "MARHTA", 0.961111111111),
    ("DWAYNE", "DUANE", 0.84),
    ("DIXON", "DICKSONX", 0.813333333333),
    ("", "abc", 0.0),
    ("abc", "abc", 1.0),
    ("abc", "xyz", 0.0),
])
def test_jaro_winkler_textbook_values(a, b, want):
    assert oracle.jaro_winkler(a, b) == pytest.approx(want, abs=1e-9)


def test_jaro_winkler_agrees_with_duckdb():
    duckdb = pytest.importorskip("duckdb")
    rng = random.Random(5)
    pairs = []
    for _ in range(400):
        a = "".join(rng.choice("abcde ") for _ in range(rng.randint(1, 12)))
        b = list(a)
        for _ in range(rng.randint(0, 4)):
            b[rng.randrange(len(b))] = rng.choice("abcde ")
        pairs.append((a, "".join(b)))
    df = pd.DataFrame(pairs, columns=["a", "b"])  # noqa: F841 (read by duckdb)
    got = duckdb.sql("SELECT jaro_winkler_similarity(a, b) AS s FROM df").df()["s"]
    for (a, b), s in zip(pairs, got):
        assert oracle.jaro_winkler(a, b) == pytest.approx(s, abs=1e-12), (a, b)


def test_fs_weight_partial_agreement_and_blanks():
    agr, dis = math.log2(0.9 / 0.1), math.log2(0.1 / 0.9)
    assert oracle.fs_field_weight("c", 0.9, 0.1, "x", "x") == pytest.approx(agr)
    assert oracle.fs_field_weight("c", 0.9, 0.1, "x", "y") == pytest.approx(dis)
    assert oracle.fs_field_weight("c", 0.9, 0.1, "  ", "y") == 0.0
    assert oracle.fs_field_weight("uo", 0.9, 0.1, None, "y") == 0.0
    # year comparator: one year off scores 0.75 = the partial floor -> dis
    assert oracle.fs_field_weight("y", 0.9, 0.1, "1970", "1971") == pytest.approx(dis)
    # a similarity halfway between the floor and 1 lands halfway in weight
    assert oracle.fs_field_weight("p", 0.9, 0.1, "40", "41") == pytest.approx(
        dis + (agr - dis) * (0.8 - 0.75) / 0.25)


def test_repo_derived_columns():
    content = "# header\nimport os\n\n  x =  1\n// trailing note\n"
    d = oracle.repo_derived(content)
    assert d["anchor_line"] == "x =  1"
    assert d["head_64"] == "import os x = 1"
    assert d["tail_64"] == "import os x = 1"
    assert d["n_chars"] == str(len("import os x = 1"))


def test_brute_force_link_blank_flag_and_first_pass_wins():
    rec = pd.DataFrame({"id": ["r1", "r2", "r3"], "zip": ["1", "", "2"],
                        "name": ["ann", "ann", "bob"]})
    mem = pd.DataFrame({"id": ["m1", "m2"], "zip": ["1", ""], "name": ["ann", "ann"]})
    fields = [("name", "c", 0.9, 0.1)]
    passes = [
        {"block": [("zip", 1)], "fields": fields, "hi": 3.0, "lo": 0.0, "print_lo": 0.0},
        {"block": [("name", 1)], "fields": fields, "hi": 3.0, "lo": 0.0, "print_lo": 0.0},
    ]
    got = oracle.brute_force_link(rec, mem, passes, "id", accept_threshold=10.0)
    rows = {(r.id_rec, r.id_mem): r.pass_id for r in got.itertuples()}
    # blank zip never blocks in pass 0; pass 1 then finds those pairs
    assert rows == {("r1", "m1"): 0, ("r2", "m1"): 1, ("r1", "m2"): 1, ("r2", "m2"): 1}
    assert got["good"].all()


def test_pairwise_f1_and_partition_checks():
    truth = pd.Series({1: "a", 2: "a", 3: "b", 4: "b"})
    assert oracle.pairwise_f1_clusters(truth, truth) == 1.0
    pred = pd.Series({1: 1, 2: 1, 3: 1, 4: 4})
    # predicted pairs 12 13 23, true pairs 12 34 -> P = 1/3, R = 1/2
    assert oracle.pairwise_f1_clusters(pred, truth) == pytest.approx(0.4)
    assert oracle.pairwise_f1_pairs({(1, 2)}, {(1, 2), (3, 4)}) == pytest.approx(2 / 3)

    ids, edges = [5, 3, 9, 7], [(9, 5), (5, 3)]
    good = pd.DataFrame({"id": [3, 5, 7, 9], "cluster_id": [3, 3, 7, 3]})
    assert oracle.check_partition(good, ids, edges) == []
    wrong = pd.DataFrame({"id": [3, 5, 7, 9, 9], "cluster_id": [3, 3, 7, 5, 3]})
    assert len(oracle.check_partition(wrong, ids, edges)) == 2


def test_union_find_min_ids():
    comps = oracle.components([10, 4, 8, 2, 6], [(10, 8), (8, 6), (4, 2)])
    assert comps == {10: 6, 8: 6, 6: 6, 4: 2, 2: 2}


def test_soundex():
    assert [inputs.soundex(n) for n in ("robert", "rupert", "tymczak", "pfister",
                                        "ashcraft", "lee")] == [
        "R163", "R163", "T522", "P236", "A261", "L000"]


def test_generators_are_seeded(tmp_path):
    metas = []
    for sub in ("a", "b"):
        (tmp_path / sub).mkdir()
        metas.append(inputs.gen_person(str(tmp_path / sub), seed=3, n_rec=200))
    assert metas[0] == metas[1]
    assert metas[0]["rec_rows"] == 200 and metas[0]["mem_rows"] == 20
    (tmp_path / "c").mkdir()
    assert inputs.gen_chain(str(tmp_path / "c"), seed=3, n_edges=500)["rows"] == 500
