"""Phase-level timing of run_repo_linkage to locate the scaling bottleneck.

Usage: python tools/phase_probe.py <cpus> [input] [shard_rows|none]
"""

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from bigmatch_utilities_spark.session import get_spark
from bigmatch_utilities_spark.operators.dedup import minhash_candidates
from bigmatch_utilities_spark.operators.pipeline import (
    first_pass_wins,
    pass_candidates,
    score_pass,
)
from bigmatch_utilities_spark.repo_linkage import (
    ID_COL,
    prepare,
    repo_match_config,
)

cpus = int(sys.argv[1])
inp = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scaling_input_200000"
shard = sys.argv[3] if len(sys.argv) > 3 else "192"
shard_rows = None if shard == "none" else int(shard)

spark = get_spark(f"phase-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet(inp)

t = {}


def timed(name, fn):
    t0 = time.time()
    out = fn()
    t[name] = round(time.time() - t0, 2)
    print(f"  {name}: {t[name]}s -> {out}", file=sys.stderr)
    return out


prepared = prepare(df).persist()
timed("prepare", lambda: prepared.count())
cfg = repo_match_config()

scored = []
for k, spec in enumerate(cfg.passes):
    timed(
        f"cand_pass{k}",
        lambda spec=spec: pass_candidates(
            prepared, prepared, spec, ID_COL, dedupe=True,
            max_block_rows=2000, shard_rows=shard_rows,
        ).count(),
    )
    s = score_pass(
        prepared, prepared, spec, k, ID_COL, dedupe=True,
        max_block_rows=2000, shard_rows=shard_rows,
    )
    scored.append(s)
    timed(f"score_pass{k}", lambda s=s: s.count())

cands = minhash_candidates(
    prepared, "content_norm", ID_COL, shingle_k=3, bands=4, rows_per_band=4,
    max_bucket=256, shard_rows=shard_rows,
)
timed("minhash_cands", lambda: cands.count())

core = scored[0]
for s in scored[1:]:
    core = core.unionByName(s, allowMissingColumns=True)
timed("union_fpw", lambda: first_pass_wins(core).count())

print(json.dumps({"cpus": cpus, "shard_rows": shard_rows, "phases": t,
                  "total": round(sum(t.values()), 2)}))
spark.stop()
