"""Seeded input generators, cached once per (workload, seed, size).

Each generator is a pure function of its seed and size. It writes the
program's input files plus the planted labels the checker scores against
into one cache directory; ``meta.json`` is written last, so a directory
without it is an interrupted generation and is rebuilt. Generation runs
before the Spark session starts and outside every timing.

Inputs:

* ``repo``   -- the first ``n`` rows (in record-id order) of
  ``synthdata.repo_files_pdf(seed, 2n/3)`` (the rows
  ``synthdata.repo_files_df`` builds, generated on the driver), written as
  parquet without its label column; labels go to ``labels.parquet``.
* ``person`` -- a large fixed-width record file linked against a small
  fixed-width memory file, their data dictionaries and a 3-pass parmf.
  About 60% of memory persons have one noisy copy in the record file.
* ``chain``  -- an accepted-pair graph of long chains, stars and
  singletons over shuffled ids, as (id_rec, id_mem) edges plus every id.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def digest_frame(df: pd.DataFrame) -> str:
    """Content digest of a table: sha256 over its per-row hashes."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def digest_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def cached(root: str, kind: str, seed: int, size: int) -> tuple[str, dict, float]:
    """(directory, meta, seconds spent generating -- 0 when cached)."""
    import time

    d = os.path.join(root, f"{kind}-seed{seed}-n{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return d, json.load(fh), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = GENERATORS[kind](d, seed, size)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return d, meta, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# repo files (the program's own synthetic generator)
# ---------------------------------------------------------------------------


def gen_repo(d: str, seed: int, n_rows: int) -> dict:
    """Exactly n_rows rows for every seed, so that records per second
    varies only with the time taken. Clusters average 1.85 rows, so 2n/3
    clusters always hold more than n rows; the last kept cluster may be
    cut short, which leaves its rows a (smaller) true cluster."""
    from bigmatch_utilities_spark import synthdata

    pdf = synthdata.repo_files_pdf(seed, 2 * n_rows // 3 + 1)
    if len(pdf) < n_rows:
        raise ValueError(f"seed {seed}: {len(pdf)} rows, fewer than {n_rows}")
    pdf = pdf.sort_values("record_id").head(n_rows)
    rows = pdf.drop(columns=["true_cluster"])
    _write_parquet(rows, os.path.join(d, "input.parquet"))
    _write_parquet(pdf[["record_id", "true_cluster"]], os.path.join(d, "labels.parquet"))
    return {"rows": len(rows), "digest": digest_frame(rows)}


# ---------------------------------------------------------------------------
# person files (fixed width, BigMatch's own shape)
# ---------------------------------------------------------------------------

#: (name, width) in file order; both files share the layout.
PERSON_LAYOUT = [
    ("id", 8), ("last", 14), ("first", 11), ("mi", 1), ("byear", 4),
    ("bmonth", 2), ("bday", 2), ("sex", 1), ("zip", 5), ("street", 18),
    ("last_sdx", 4),
]

#: blocking pass design: (block fields with blank flag, match fields
#: (name, comparator, m, u), cutoff hi/lo, print cutoff hi/lo).
PERSON_PASSES = [
    ([("last_sdx", 1), ("byear", 1)],
     [("last", "uo", 0.95, 0.05), ("first", "uo", 0.90, 0.05),
      ("mi", "c", 0.80, 0.10), ("bmonth", "c", 0.95, 0.08),
      ("bday", "c", 0.95, 0.03), ("sex", "c", 0.98, 0.50)],
     (8.0, 0.0), (8.0, 0.0)),
    ([("zip", 1), ("first", 1)],
     [("last", "uo", 0.95, 0.05), ("byear", "y", 0.90, 0.02),
      ("bmonth", "c", 0.95, 0.08), ("bday", "c", 0.95, 0.03),
      ("street", "uo", 0.85, 0.05)],
     (8.0, 0.0), (8.0, 0.0)),
    ([("bmonth", 1), ("bday", 1), ("sex", 0)],
     [("last", "uo", 0.95, 0.05), ("first", "uo", 0.90, 0.05),
      ("byear", "y", 0.90, 0.02), ("zip", "c", 0.85, 0.02)],
     (8.0, 0.0), (8.0, 0.0)),
]

_SYL = ("ab ber cal dan el far gon har ist jo kel lin mor nes ol per quin "
        "ros sam tor ul van wil yor zen".split())
_FIRST = ("adam alice amir anna ben carla chen dana david elena eric fatima "
          "frank grace hana ivan jack jana jose karen kim leo lina luis maria "
          "mark mei nadia noah olga omar paul petra raj rosa ruth sam sara "
          "sean tara tom una vera wei will yara zoe".split())
_STREETS = "main oak pine maple cedar elm lake hill park river".split()


def soundex(name: str) -> str:
    """American soundex (letter + three digits)."""
    codes = {**dict.fromkeys("bfpv", "1"), **dict.fromkeys("cgjkqsxz", "2"),
             **dict.fromkeys("dt", "3"), "l": "4", **dict.fromkeys("mn", "5"),
             "r": "6"}
    s = "".join(ch for ch in name.lower() if ch.isalpha())
    if not s:
        return ""
    out, prev = s[0].upper(), codes.get(s[0], "")
    for ch in s[1:]:
        c = codes.get(ch, "")
        if c and c != prev:
            out += c
        if ch not in "hw":
            prev = c
    return (out + "000")[:4]


def _typo(rng: np.random.Generator, s: str) -> str:
    if len(s) < 3:
        return s
    i = int(rng.integers(1, len(s) - 1))
    if rng.random() < 0.5:  # transpose two neighbours
        return s[:i] + s[i + 1] + s[i] + s[i + 2:]
    return s[:i] + "aeiou"[int(rng.integers(0, 5))] + s[i + 1:]


def _person(rng: np.random.Generator) -> dict:
    last = "".join(rng.choice(_SYL, size=int(rng.integers(2, 4))))
    return {
        "last": last,
        "first": str(rng.choice(_FIRST)),
        "mi": "" if rng.random() < 0.3 else chr(65 + int(rng.integers(0, 26))),
        "byear": str(int(rng.integers(1930, 2006))),
        "bmonth": f"{int(rng.integers(1, 13)):02d}",
        "bday": f"{int(rng.integers(1, 29)):02d}",
        "sex": "" if rng.random() < 0.05 else str(rng.choice(["F", "M"])),
        "zip": "" if rng.random() < 0.1 else f"{int(rng.integers(20000, 20400)):05d}",
        "street": f"{int(rng.integers(1, 999))} {rng.choice(_STREETS)} st",
    }


def _noisy_copy(rng: np.random.Generator, p: dict) -> dict:
    q = dict(p)
    if rng.random() < 0.3:
        q["first"] = _typo(rng, q["first"])
    if rng.random() < 0.2:
        q["last"] = _typo(rng, q["last"])
    if rng.random() < 0.1:
        q["byear"] = str(int(q["byear"]) + int(rng.choice([-1, 1])))
    if rng.random() < 0.15:
        q["zip"] = ""
    if rng.random() < 0.3:
        q["mi"] = ""
    if rng.random() < 0.2:
        q["street"] = _typo(rng, q["street"])
    return q


def _fixed_width_lines(rows: list[dict]) -> str:
    out = []
    for r in rows:
        line = "".join(
            (str(r[n]).rjust(w) if n == "id" else str(r[n]).ljust(w))[:w]
            for n, w in PERSON_LAYOUT
        )
        out.append(line)
    return "\n".join(out) + "\n"


def person_positions() -> list[tuple[str, int, int]]:
    out, pos = [], 1
    for n, w in PERSON_LAYOUT:
        out.append((n, pos, w))
        pos += w
    return out


def person_dict_csv() -> str:
    lines = ["column_name,start_pos,width,unique_id_yn,matchfield_yn,"
             "bigmatch_type,data_format,comments"]
    for n, s, w in person_positions():
        lines.append(f"{n},{s},{w},{'y' if n == 'id' else ''},y,,,")
    return "\n".join(lines) + "\n"


def person_parmf() -> str:
    """The passes above in the parmf grammar: pass/field counts, one row
    per blocking field (name, rec start/width, mem start/width, blank
    flag), one per match field (..., 0, comparator, m, u), cutoffs, then
    the unique id row."""
    pos = {n: (s, w) for n, s, w in person_positions()}
    length = sum(w for _, w in PERSON_LAYOUT)
    rows = [f"{len(PERSON_PASSES)} 1 1 0 1 0 0 {length} {length}",
            " ".join(str(len(p[0])) for p in PERSON_PASSES),
            " ".join(str(len(p[1])) for p in PERSON_PASSES)]
    for block, fields, cut, prcut in PERSON_PASSES:
        for n, flag in block:
            s, w = pos[n]
            rows.append(f"{n} {s} {w} {s} {w} {flag}")
        for n, comp, m, u in fields:
            s, w = pos[n]
            rows.append(f"{n} {s} {w} {s} {w} 0 {comp} {m:.2f} {u:.2f}")
        rows.append(f"{cut[0]} {cut[1]}")
        rows.append(f"{prcut[0]} {prcut[1]}")
    s, w = pos["id"]
    rows.append(f"id {s} {w} {s} {w}")
    return "\n".join(rows) + "\n"


def gen_person(d: str, seed: int, n_rec: int) -> dict:
    """Memory file of n_rec // 10 persons; record file of n_rec rows, about
    6% of which are noisy copies of memory persons (the planted links)."""
    rng = np.random.default_rng([seed, 2])
    n_mem = max(n_rec // 10, 10)
    mem = [dict(_person(rng), id=i + 1) for i in range(n_mem)]
    rec, links = [], []
    linked = rng.random(n_mem) < 0.6
    rec_ids = rng.permutation(n_rec) + 1_000_001
    k = 0
    for p, is_linked in zip(mem, linked):
        if is_linked:
            rec.append(dict(_noisy_copy(rng, p), id=int(rec_ids[k])))
            links.append((int(rec_ids[k]), p["id"]))
            k += 1
    while k < n_rec:
        rec.append(dict(_person(rng), id=int(rec_ids[k])))
        k += 1
    rec.sort(key=lambda r: r["id"])
    for rows in (rec, mem):
        for r in rows:
            r["last_sdx"] = soundex(r["last"])
    with open(os.path.join(d, "rec.txt"), "w") as fh:
        fh.write(_fixed_width_lines(rec))
    with open(os.path.join(d, "mem.txt"), "w") as fh:
        fh.write(_fixed_width_lines(mem))
    for name in ("rec.dict.csv", "mem.dict.csv"):
        with open(os.path.join(d, name), "w") as fh:
            fh.write(person_dict_csv())
    with open(os.path.join(d, "parmf.txt"), "w") as fh:
        fh.write(person_parmf())
    _write_parquet(pd.DataFrame(links, columns=["id_rec", "id_mem"]),
                   os.path.join(d, "links.parquet"))
    digest = hashlib.sha256(
        "".join(digest_file(os.path.join(d, f))
                for f in ("rec.txt", "mem.txt", "parmf.txt")).encode()
    ).hexdigest()[:16]
    return {"rows": n_rec + n_mem, "rec_rows": n_rec, "mem_rows": n_mem,
            "digest": digest}


# ---------------------------------------------------------------------------
# accepted-pair graph for closure
# ---------------------------------------------------------------------------


def gen_chain(d: str, seed: int, n_edges: int) -> dict:
    """About half the edges form long chains (200-2000 nodes), the rest
    stars (2-50 leaves); singletons add n_edges // 10 isolated ids."""
    rng = np.random.default_rng([seed, 3])
    edges: list[tuple[int, int]] = []
    comps: list[list[int]] = []
    n_nodes = 0
    chain_budget = n_edges // 2
    while len(edges) < n_edges:
        if len(edges) < chain_budget:
            size = int(rng.integers(200, 2001))
        else:
            size = int(rng.integers(3, 52))
        size = min(size, n_edges - len(edges) + 1)
        nodes = list(range(n_nodes, n_nodes + size))
        n_nodes += size
        if len(edges) < chain_budget:
            edges += list(zip(nodes[:-1], nodes[1:]))
        else:
            edges += [(nodes[0], x) for x in nodes[1:]]
        comps.append(nodes)
    n_single = n_edges // 10
    n_nodes += n_single
    # shuffled, non-contiguous ids: no component's minimum sits at a
    # predictable end of its chain
    ids = rng.choice(np.arange(1, 20 * n_nodes, dtype=np.int64), size=n_nodes,
                     replace=False)
    e = np.array(edges, dtype=np.int64)
    flip = rng.random(len(e)) < 0.5
    a, b = ids[e[:, 0]], ids[e[:, 1]]
    src, dst = np.where(flip, b, a), np.where(flip, a, b)
    order = rng.permutation(len(e))
    edges_df = pd.DataFrame({"id_rec": src[order], "id_mem": dst[order]})
    ids_df = pd.DataFrame({"record_id": rng.permutation(ids)})
    _write_parquet(edges_df, os.path.join(d, "edges.parquet"))
    _write_parquet(ids_df, os.path.join(d, "ids.parquet"))
    return {"rows": len(edges_df), "nodes": int(n_nodes),
            "components": len(comps) + n_single,
            "digest": digest_frame(edges_df)}


GENERATORS = {"repo": gen_repo, "person": gen_person, "chain": gen_chain}
