"""jobs/run_match.py runs the same passes with and without --checkpoint:
the MinHash pass 3 included, --no-minhash honoured, and at --slices 2 the
pass without block fields committed whole."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from bigmatch_utilities_spark.synthdata import repo_files_df


def _run_match_main(spark, monkeypatch, argv):
    monkeypatch.setattr(sys, "argv", ["run_match.py", *argv])
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    spec = importlib.util.spec_from_file_location(
        "run_match_cli",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "jobs", "run_match.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main()


@pytest.fixture(scope="module")
def repo_input(spark, tmp_path_factory):
    # at 80 clusters (seed 13) the MinHash pass keeps pairs of its own
    path = str(tmp_path_factory.mktemp("run_match_job") / "input")
    repo_files_df(spark, seed=13, n_clusters=80).write.parquet(path)
    return path


def _pairs(spark, out):
    return {
        (r.id_rec, r.id_mem, r.pass_id, round(r.weight, 9), r.decision)
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }


@pytest.mark.parametrize("no_minhash", [False, True])
def test_checkpointed_run_matches_direct(
    spark, repo_input, tmp_path, monkeypatch, no_minhash
):
    flags = ["--no-minhash"] if no_minhash else []
    runs = {
        "direct": [],
        "ckpt": ["--checkpoint", str(tmp_path / "ckpt")],
        "sliced": ["--checkpoint", str(tmp_path / "ckpt_sliced"), "--slices", "2"],
    }
    got = {}
    for name, extra in runs.items():
        out = str(tmp_path / f"out_{name}")
        _run_match_main(
            spark, monkeypatch, ["--input", repo_input, "--output", out, *flags, *extra]
        )
        got[name] = _pairs(spark, out)
    assert got["ckpt"] == got["direct"]
    assert got["sliced"] == got["direct"]
    passes = {p for _, _, p, _, _ in got["direct"]}
    assert (3 in passes) != no_minhash, passes

    markers = sorted(
        m for m in os.listdir(tmp_path / "ckpt_sliced" / "markers")
        if not m.startswith(".")
    )
    n = 3 if no_minhash else 4
    assert [m for m in markers if "slice" not in m] == [
        f"pass_{k:02d}.json" for k in range(n)
    ]
    # passes 0-2 commit two key-hash slices each; pass 3 has no block key
    # and commits whole
    for k in range(n):
        sliced = [m for m in markers if m.startswith(f"pass_{k:02d}_slice_")]
        assert len(sliced) == (0 if k == 3 else 2), (k, markers)
