"""Per-pass checkpointing, lineage markers, and metrics.

The reference has no resumability — a failed BigMatch run is simply rerun.
The north rule requires idempotent resume with per-partition lineage +
metrics, supplied here as driver-side orchestration:

* each pass's pairs land in ``<out>/pairs/pass=NN/`` (partitioned layout —
  an Iceberg table partition spec in production; plain parquet dirs here);
* a pass is complete iff its **marker** ``<out>/markers/pass_NN.json``
  exists. Markers are written atomically (tmp + rename) *after* the data
  commit, so a crash between data write and marker write re-runs the pass —
  the parquet overwrite makes that idempotent;
* ``slices > 1`` splits each pass into that many **partition-level resume
  units**: the blocking-key space is hashed into `slices` disjoint shards,
  each scored and committed independently to
  ``pairs/pass=NN/slice=SS`` with its own marker
  ``pass_NN_slice_SS.json`` — a straggler failure mid-pass resumes at
  slice granularity instead of re-running the pass. Slicing by BLOCK KEY
  (not by row) keeps every per-block guardrail — blank flags, size caps,
  star emission, adaptive shard counts — bit-identical to the unsliced
  plan, because a block lives wholly inside one slice; the union over
  slices is therefore exactly the full pass output. A pass with no block
  fields (a MinHash canopy) has no key to slice by and commits whole;
* metrics rows (pass, slice, rows, pairs, wall seconds, partitions)
  append to ``<out>/metrics/`` — the lineage/metrics table. A unit's
  ``partition`` rows are one per written parquet file, numbered from its
  ``part-NNNNN`` name, with the row count from the file's footer. Each
  committed unit adds one JSON-lines ``part-<uuid>.json`` file, written
  on the driver through the Hadoop FileSystem API like the markers (no
  Spark job); `CheckpointedMatch.metrics` reads the directory with
  ``spark.read.json``.

On restart, completed passes/slices are read back from their parquet
instead of recomputed: resume cost is O(completed output), not O(input).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigmatch_utilities_spark.config import MatchConfig
from bigmatch_utilities_spark.operators.pipeline import (
    MatchResult,
    accept_at,
    score_pass,
    union_passes,
)


class CheckpointedMatch:
    """Markers and metrics go through the Hadoop FileSystem API (resolved
    from the path's scheme), NOT driver-local ``os`` calls — so the same
    code resumes off ``file:``, ``hdfs:`` or ``s3a:`` paths on a real
    cluster. Marker commit = write tmp + rename (rename is atomic per
    FileSystem contract on HDFS and local FS)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out = out_dir.rstrip("/")
        self._jvm = spark._jvm
        self._hconf = spark._jsc.hadoopConfiguration()
        self._fs(f"{self.out}/markers").mkdirs(self._hpath(f"{self.out}/markers"))

    # -- Hadoop FS plumbing ----------------------------------------------
    def _hpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._hpath(path).getFileSystem(self._hconf)

    # -- markers ---------------------------------------------------------
    def _marker_path(self, pass_id: int, slice_id: int | None = None) -> str:
        if slice_id is None:
            return f"{self.out}/markers/pass_{pass_id:02d}.json"
        return f"{self.out}/markers/pass_{pass_id:02d}_slice_{slice_id:02d}.json"

    def pass_complete(self, pass_id: int) -> bool:
        p = self._marker_path(pass_id)
        return self._fs(p).exists(self._hpath(p))

    def slice_complete(self, pass_id: int, slice_id: int) -> bool:
        p = self._marker_path(pass_id, slice_id)
        return self._fs(p).exists(self._hpath(p))

    def read_marker(self, pass_id: int) -> dict | None:
        return self._read_json(self._marker_path(pass_id))

    def _read_json(self, p: str) -> dict | None:
        fs = self._fs(p)
        if not fs.exists(self._hpath(p)):
            return None
        stream = fs.open(self._hpath(p))
        try:
            ioutils = self._jvm.org.apache.commons.io.IOUtils
            data = bytes(ioutils.toByteArray(stream))
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def _write_marker(
        self, pass_id: int, payload: dict, slice_id: int | None = None
    ) -> None:
        self._write_json(self._marker_path(pass_id, slice_id), payload)

    def _write_json(self, path: str, payload: dict) -> None:
        self._commit(path, json.dumps(payload))

    def _commit(self, path: str, text: str) -> None:
        """Write ``text`` to ``path`` atomically: a hidden tmp file in the
        same directory (``spark.read`` skips ``.``-prefixed names), then a
        rename."""
        head, name = path.rsplit("/", 1)
        tmp = f"{head}/.{name}.tmp.{uuid.uuid4().hex}"
        fs = self._fs(path)
        out = fs.create(self._hpath(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # HDFS rename refuses to overwrite: clear any stale marker first
        # (a marker is only rewritten when the pass re-ran after a crash
        # BETWEEN data commit and marker rename, which is idempotent).
        fs.delete(self._hpath(path), False)
        if not fs.rename(self._hpath(tmp), self._hpath(path)):
            raise IOError(f"commit rename failed: {tmp} -> {path}")

    # -- metrics ---------------------------------------------------------
    def _append_metrics(self, rows: list[dict]) -> None:
        """One JSON-lines ``part-<uuid>.json`` file per call, written on the
        driver: a few rows need no Spark job."""
        self._commit(
            f"{self.out}/metrics/part-{uuid.uuid4().hex}.json",
            "".join(json.dumps(r) + "\n" for r in rows),
        )

    def metrics(self) -> DataFrame:
        return self.spark.read.json(f"{self.out}/metrics")

    def _record_unit(
        self, path: str, pass_id: int, slice_id: int | None, wall: float
    ) -> int:
        """Per-file lineage for one committed unit (a pass, or one slice of
        it) written to ``path``: one metrics row per ``part-NNNNN`` parquet
        file (numbered from its name, rows from its footer) plus a unit
        total, so a resume/audit can account for every piece of completed
        work. The files are listed and read on the driver through the
        Hadoop FileSystem API: no Spark job. Returns the unit's pair
        count."""
        parquet = self._jvm.org.apache.parquet.hadoop
        part_rows = []
        for st in self._fs(path).listStatus(self._hpath(path)):
            name = st.getPath().getName()
            if name.startswith("part-") and name.endswith(".parquet"):
                reader = parquet.ParquetFileReader.open(
                    parquet.util.HadoopInputFile.fromStatus(st, self._hconf)
                )
                try:
                    part = int(name.split("-")[1])
                    part_rows.append((part, reader.getRecordCount()))
                finally:
                    reader.close()
        n_pairs = sum(n for _, n in part_rows)
        unit = {
            "pass_id": pass_id,
            "slice": -1 if slice_id is None else int(slice_id),
            "wall_s": float(wall),
            "partitions": len(part_rows),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._append_metrics(
            [
                dict(
                    unit,
                    kind="pass" if slice_id is None else "slice",
                    partition=-1,
                    rows=n_pairs,
                )
            ]
            + [
                dict(unit, kind="partition", partition=part, rows=n)
                for part, n in sorted(part_rows)
            ]
        )
        return n_pairs

    def _slice_of(self, pass_id: int, spec, slices: int, pairs_path: str):
        """The slice of a row in a sliced pass: a blocking-key hash mod
        ``slices``, so both join sides are restricted to the same slice of
        the key space. NULL-safe: blank/absent keys hash via the ''
        coalesce, and blank_flag rows are dropped inside score_pass exactly
        as in the unsliced plan.

        The hash-mod layout is only resumable at the SAME slice count: a
        sidecar written before the first slice pins it, and a resume with
        a different ``slices`` fails fast instead of silently
        skipping/duplicating blocks whose shard assignment moved."""
        sidecar = f"{self.out}/markers/pass_{pass_id:02d}_slices.json"
        pinned = self._read_json(sidecar)
        if pinned is None:
            self._write_json(sidecar, {"slices": int(slices)})
        elif int(pinned["slices"]) != int(slices):
            raise ValueError(
                f"pass {pass_id}: resuming with slices={slices}, but this "
                f"pass's existing slice markers were written with "
                f"slices={pinned['slices']} — the blocking-key "
                "hash-mod layout differs, so completed slices would "
                "not line up. Resume with the original value, or "
                f"delete {pairs_path} and {self.out}/markers/"
                f"pass_{pass_id:02d}* to restart the pass."
            )
        key_cols = [
            F.coalesce(F.col(bf.name).cast("string"), F.lit(""))
            for bf in spec.block_fields
        ]
        return F.pmod(F.xxhash64(*key_cols), F.lit(slices))

    # -- the resumable run ------------------------------------------------
    def run(
        self,
        rec: DataFrame,
        mem: DataFrame | None,
        config: MatchConfig,
        id_col: str | None = None,
        slices: int = 1,
        **pass_kwargs,
    ) -> MatchResult:
        """``slices > 1`` turns each pass into `slices` independently
        committed resume units sharded by blocking-key hash (see module
        docstring): a crash re-runs only the incomplete slices. The
        result is provably identical to the unsliced run because every
        block — and therefore every candidate pair and every per-block
        guardrail decision — falls in exactly one slice. A pass with no
        block fields is committed whole, as in an unsliced run.

        An unsliced pass is one unit and a sliced pass is `slices` units;
        every unit takes the same path: score, write, record its metrics
        from the written files' footers, write its marker. A sliced pass's
        own marker then totals its slice markers' ``pairs``."""
        id_col = id_col or config.id_field.name
        dedupe = mem is None or config.dedupe_single_file
        if mem is None:
            mem = rec
        rec = rec.persist()
        if mem is not rec:
            mem = mem.persist()

        per_pass: list[DataFrame] = []
        for k, spec in enumerate(config.passes):
            pairs_path = f"{self.out}/pairs/pass={k:02d}"
            if self.pass_complete(k):
                df = self.spark.read.parquet(pairs_path)
                per_pass.append(df.drop("slice") if "slice" in df.columns else df)
                continue
            # a pass without block fields (a MinHash canopy, say) has no
            # key to slice by: a hash-mod split would cut its candidate
            # groups apart, so it commits as one unit
            sliced = slices > 1 and bool(spec.block_fields)
            if not sliced:
                units = [(None, rec, mem, pairs_path)]
            else:
                slice_of = self._slice_of(k, spec, slices, pairs_path)
                units = []
                for s in range(slices):
                    rec_s = rec.filter(slice_of == s)
                    mem_s = rec_s if mem is rec else mem.filter(slice_of == s)
                    units.append((s, rec_s, mem_s, f"{pairs_path}/slice={s:02d}"))

            total_pairs = 0
            for s, rec_u, mem_u, path in units:
                if s is not None and self.slice_complete(k, s):
                    total_pairs += self._read_json(self._marker_path(k, s))["pairs"]
                    continue
                t0 = time.time()
                scored = score_pass(
                    rec_u, mem_u, spec, k, id_col, dedupe=dedupe, **pass_kwargs
                )
                scored.write.mode("overwrite").parquet(path)
                df = self.spark.read.parquet(path)
                n = self._record_unit(path, k, s, time.time() - t0)
                marker = {"pairs": n, "wall_s": time.time() - t0}
                if s is not None:
                    marker["slices"] = int(slices)
                self._write_marker(k, marker, slice_id=s)
                total_pairs += n
            if sliced:
                # pass marker after every slice committed: pass_complete
                # stays the fast whole-pass check on later resumes.
                self._write_marker(k, {"pairs": total_pairs, "slices": slices})
                df = self.spark.read.parquet(pairs_path).drop("slice")
            per_pass.append(df)

        # the per-pass parquet keeps the carried rec_*/mem_* values (review
        # emitters and resumes read them); result.pairs is the decision core
        return MatchResult.from_pairs(
            union_passes(per_pass), accept_at(config.accept_threshold)
        )
