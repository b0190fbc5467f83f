"""Independent checker for the benchmark's outputs.

Everything here is plain Python / pandas written apart from the program:
it imports nothing from ``bigmatch_utilities_spark`` (in particular not
``operators.evaluate`` or ``functions.comparators``), so a fault in the
engine's comparators or scoring cannot hide by also being in the check.

* ``jaro_winkler`` / ``fs_field_weight`` -- a scalar Jaro-Winkler and the
  Fellegi-Sunter weight with the partial-agreement rule;
* ``repo_derived`` -- the derived match columns of the repo-files rows;
* ``brute_force_link`` -- a blocked join with first-pass-wins, for sampled
  memory records of the two-file linkage;
* ``pairwise_f1_clusters`` / ``pairwise_f1_pairs`` / ``check_partition`` --
  pandas pair metrics and the cluster-partition checks;
* ``UnionFind`` / ``components`` -- expected clusters (min id per component).
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

PARTIAL_FLOOR = 0.75


# ---------------------------------------------------------------------------
# comparators and Fellegi-Sunter weights
# ---------------------------------------------------------------------------


def jaro_winkler(a: str, b: str) -> float:
    """Jaro-Winkler with the engine's documented convention: empty side ->
    0.0, window max(len)//2 - 1, transpositions = mismatches // 2, prefix
    boost 0.1 over at most 4 chars, applied only when jaro > 0.7."""
    if not a or not b:
        return 0.0
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    window = max(max(la, lb) // 2 - 1, 0)
    used_b = [False] * lb
    match_a = []
    for i, ch in enumerate(a):
        for j in range(max(0, i - window), min(lb, i + window + 1)):
            if not used_b[j] and b[j] == ch:
                used_b[j] = True
                match_a.append(ch)
                break
    m = len(match_a)
    if m == 0:
        return 0.0
    match_b = [b[j] for j in range(lb) if used_b[j]]
    t = sum(x != y for x, y in zip(match_a, match_b)) // 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1.0 - jaro)


def _num(s: str) -> float | None:
    try:
        v = float(s)
    except ValueError:
        return None
    return v if math.isfinite(v) else None


def similarity(comparator: str, a: str, b: str) -> float:
    """The comparator codes the benchmark's configs use."""
    if comparator == "c":
        return 1.0 if a == b else 0.0
    if comparator == "uo":
        return jaro_winkler(a, b)
    x, y = _num(a), _num(b)
    if x is None or y is None:
        return 0.0
    d = abs(x - y)
    if comparator == "q":
        return 1.0 if d == 0 else 0.0
    if comparator == "y":
        return 1.0 if d == 0 else 0.75 if d <= 1 else 0.5 if d <= 2 else 0.0
    if comparator == "p":
        return (1.0 if d == 0 else 0.8 if d <= 1 else 0.6 if d <= 2
                else 0.4 if d <= 3 else 0.0)
    raise ValueError(f"checker has no comparator {comparator!r}")


def fs_field_weight(comparator: str, m: float, u: float, a, b) -> float:
    """One field's Fellegi-Sunter weight: 0 when either side is blank,
    log2(m/u) on full agreement, log2((1-m)/(1-u)) below the partial
    floor, linear in the similarity in between."""
    a = "" if a is None else str(a)
    b = "" if b is None else str(b)
    if not a.strip(" ") or not b.strip(" "):
        return 0.0
    agr = math.log2(m / u)
    dis = math.log2((1.0 - m) / (1.0 - u))
    sim = similarity(comparator, a, b)
    if sim >= 1.0:
        return agr
    if sim >= PARTIAL_FLOOR:
        return dis + (agr - dis) * (sim - PARTIAL_FLOOR) / (1.0 - PARTIAL_FLOOR)
    return dis


def pair_weight(fields, rec: dict, mem: dict) -> float:
    """fields: (name, comparator, m, u) tuples; rec/mem: name -> value."""
    return sum(fs_field_weight(c, m, u, rec[n], mem[n]) for n, c, m, u in fields)


def decision(weight: float, hi: float, lo: float) -> str:
    return "match" if weight >= hi else "possible" if weight >= lo else "below"


# ---------------------------------------------------------------------------
# repo-files derived columns
# ---------------------------------------------------------------------------

_COMMENT_LINE = re.compile(r"(?m)^[ \t\n\x0b\f\r]*(#|//)[^\n]*\n?")
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def repo_derived(content: str) -> dict:
    """The match columns the repo linkage scores, derived from `content`:
    comment lines dropped, whitespace collapsed, first/last 64 chars,
    length, and the last non-blank line (the anchor)."""
    nocomment = _COMMENT_LINE.sub("", content)
    norm = _WS.sub(" ", nocomment).strip(" ")
    lines = [ln for ln in nocomment.split("\n") if ln.strip(" ")]
    return {
        "anchor_line": lines[-1].strip(" ") if lines else None,
        "head_64": norm[:64],
        "tail_64": norm[-64:],
        "n_chars": str(len(norm)),
    }


# ---------------------------------------------------------------------------
# two-file linkage oracle
# ---------------------------------------------------------------------------


def normalize_value(v: str) -> str:
    """Fixed-width field value as the engine reads it: trimmed, runs of
    spaces collapsed."""
    return re.sub(" +", " ", v.strip(" "))


def read_fixed_width(path: str, layout: list[tuple[str, int, int]]) -> pd.DataFrame:
    """layout: (name, 1-based start, width). Every value normalized."""
    rows = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            rows.append(
                {n: normalize_value(line[s - 1:s - 1 + w]) for n, s, w in layout}
            )
    return pd.DataFrame(rows)


def brute_force_link(rec: pd.DataFrame, mem: pd.DataFrame, passes, id_col: str,
                     accept_threshold: float) -> pd.DataFrame:
    """Every emitted pair touching `mem`: each memory row against every
    record row with its block key, pass by pass.

    passes: dicts with block (list of (field, blank_flag)), fields
    ((name, comparator, m, u)), hi, lo, print_lo. A pair keeps the row of
    the first pass that emits it. Returns id_rec, id_mem, pass_id, weight,
    decision, good (exact or accepted)."""
    rec_rows = rec.to_dict("records")
    out: dict[tuple, dict] = {}
    for k, p in enumerate(passes):
        floor = min(p["lo"], p["print_lo"])
        keys = [f for f, _ in p["block"]]
        flagged = [f for f, blank_flag in p["block"] if blank_flag]
        # the record file grouped by the pass's block key: every record
        # row with the same key, blank-flagged blanks left out
        blocks: dict[tuple, list[dict]] = {}
        for rrow in rec_rows:
            if all(rrow[f].strip(" ") for f in flagged):
                blocks.setdefault(tuple(rrow[f] for f in keys), []).append(rrow)
        for mrow in mem.to_dict("records"):
            if not all(mrow[f].strip(" ") for f in flagged):
                continue
            for rrow in blocks.get(tuple(mrow[f] for f in keys), []):
                pk = (rrow[id_col], mrow[id_col])
                if pk in out:
                    continue
                w = pair_weight(p["fields"], rrow, mrow)
                if w < floor:
                    continue
                dec = decision(w, p["hi"], p["lo"])
                exact = all(rrow[n] == mrow[n] for n, _, _, _ in p["fields"])
                good = dec != "below" and (
                    exact or dec == "match"
                    or (dec == "possible" and w >= accept_threshold)
                )
                out[pk] = {"id_rec": pk[0], "id_mem": pk[1], "pass_id": k,
                           "weight": w, "decision": dec, "good": good}
    cols = ["id_rec", "id_mem", "pass_id", "weight", "decision", "good"]
    return pd.DataFrame(list(out.values()), columns=cols)


# ---------------------------------------------------------------------------
# pair metrics and clusters
# ---------------------------------------------------------------------------


def _pairs_within(sizes: pd.Series) -> int:
    s = sizes.to_numpy(dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def pairwise_f1_clusters(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a predicted clustering against true labels (both
    Series indexed by record id, same index). Pairs are unordered record
    pairs placed in one cluster."""
    df = pd.DataFrame({"p": pred, "t": truth})
    tp = _pairs_within(df.groupby(["p", "t"]).size())
    pp = _pairs_within(df.groupby("p").size())
    tt = _pairs_within(df.groupby("t").size())
    if tp == 0:
        return 0.0
    prec, rec = tp / pp, tp / tt
    return 2 * prec * rec / (prec + rec)


def pairwise_f1_pairs(found: set, truth: set) -> float:
    tp = len(found & truth)
    if tp == 0:
        return 0.0
    prec, rec = tp / len(found), tp / len(truth)
    return 2 * prec * rec / (prec + rec)


class UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # keep the smaller id as root so find() returns the component min
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra


def components(ids, edges) -> dict:
    """id -> smallest id of its connected component (singletons map to
    themselves)."""
    uf = UnionFind()
    for i in ids:
        uf.find(i)
    for a, b in edges:
        uf.union(a, b)
    return {i: uf.find(i) for i in uf.parent}


def check_partition(clusters: pd.DataFrame, ids, edges) -> list[str]:
    """Problems with a (id, cluster_id) table: it must hold every input id
    once, and each cluster_id must be the smallest id of the connected
    component its id lies in over `edges`."""
    problems = []
    got = clusters["id"]
    if got.duplicated().any():
        problems.append(f"{int(got.duplicated().sum())} ids appear twice")
    want = components(ids, edges)
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    if missing or extra:
        problems.append(f"{len(missing)} input ids missing, {len(extra)} unknown ids")
    exp = pd.Series(want, name="want")
    joined = clusters.set_index("id")["cluster_id"].to_frame().join(exp, how="inner")
    bad = int((joined["cluster_id"] != joined["want"]).sum())
    if bad:
        problems.append(f"{bad} ids carry a cluster_id other than their component minimum")
    return problems
