"""One-off probe: time run_repo_linkage under a given local config.

Usage: python tools/scale_probe.py <cpus> <shuffle_parts> <driver_mem> [input]
Prints one JSON line. Used to diagnose local-mode scaling behavior.
"""

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bigmatch_utilities_spark.session import get_spark
from bigmatch_utilities_spark.repo_linkage import run_repo_linkage

cpus = int(sys.argv[1])
parts = int(sys.argv[2])
mem = sys.argv[3]
inp = sys.argv[4] if len(sys.argv) > 4 else "/tmp/scaling_input_20000"

spark = get_spark(
    f"probe-{cpus}-{parts}",
    master=f"local[{cpus}]",
    shuffle_partitions=parts,
    extra_conf={"spark.driver.memory": mem},
)
spark.sparkContext.setLogLevel("ERROR")
df = spark.read.parquet(inp)
run_repo_linkage(df.limit(500), use_minhash_pass=True).pairs.count()
t0 = time.time()
n = run_repo_linkage(df, use_minhash_pass=True).pairs.count()
wall = time.time() - t0
print(json.dumps({"cpus": cpus, "parts": parts, "mem": mem, "pairs": n,
                  "wall_s": round(wall, 2)}))
spark.stop()
