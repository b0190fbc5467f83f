"""Local simulation of the driver's correctness gate:

runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB at the given sf, compares row count, sorted column names,
and an order-insensitive value hash (floats rounded to 6dp first).
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from bigmatch_utilities_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main(
    sf_dir: str,
    only: list[str] | None = None,
    json_out: str | None = None,
) -> int:
    spark = get_spark("driver-sim", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None, "oracle_rows": None,
                "err": str(e)[:300],
            }
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(got)} rows")
            records[name] = {
                "rows_match": True, "schema_match": None, "hash_match": None,
                "spark_rows": len(got), "oracle_rows": None, "err": None,
            }
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error {str(e)[:200]}")
            records[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(got),
                "oracle_rows": None, "err": str(e)[:300],
            }
            failures += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_cols and value_hash(got) == value_hash(want)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        records[name] = {
            "rows_match": ok_rows, "schema_match": ok_cols,
            "hash_match": ok_hash, "spark_rows": len(got),
            "oracle_rows": len(want), "err": None,
        }
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(got)}/{len(want)} cols "
            f"{'=' if ok_cols else sorted(got.columns) + sorted(want.columns)} "
            f"hash {'=' if ok_hash else 'MISMATCH'}"
        )
        if not ok_hash and ok_cols and len(got) < 20000:
            g = got[sorted(got.columns)].copy()
            w = want[sorted(want.columns)].copy()
            for c in g.columns:
                if g[c].dtype.kind == "f":
                    g[c] = g[c].round(6)
                if w[c].dtype.kind == "f":
                    w[c] = w[c].round(6)
            key = sorted(g.columns)
            gs = set(map(tuple, g.astype(str)[key].itertuples(index=False, name=None)))
            ws = set(map(tuple, w.astype(str)[key].itertuples(index=False, name=None)))
            print(f"   spark-only: {list(gs - ws)[:3]}")
            print(f"   duck-only:  {list(ws - gs)[:3]}")
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(records, fh, indent=2, sort_keys=True)
        print(f"wrote {len(records)} records to {json_out}")
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] != "-" else None
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    raise SystemExit(main(sf, only, json_out))
