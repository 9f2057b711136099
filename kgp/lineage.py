"""Per-partition lineage + checkpointed resumability (SURVEY.md §4.3(3)).

The production design is an Iceberg ``_lineage`` table plus idempotent
``overwritePartitions`` per stage; with no Iceberg jar in this sandbox the
same contract is implemented over a directory layout:

    <root>/<stage>/data/...            partitioned parquet (the stage table)
    <root>/_lineage/<stage>.json       manifest: per-partition rows/bytes,
                                       wall time, input fingerprint, status

A stage runs as ``run_stage(name, build_fn)``:

- if the manifest records status=ok for the same input fingerprint, the
  stage is **skipped** and its output is read back (resume path);
- otherwise bucketed stages commit at BUCKET granularity: every bucket
  directory has a progress entry (``<stage>.buckets.json``) keyed by the
  input fingerprint, dirty buckets are rewritten with dynamic partition
  overwrite (clean directories untouched on disk), and the manifest
  commits last — a crash anywhere resumes by rebuilding only the buckets
  whose entry or directory is missing/stale (idempotent: same content
  hash ids, same output);
- unbucketed stages keep the whole-stage tmp-dir + rename commit.

Per-partition metrics come from a groupBy over the same bucket key the
table is partitioned on — they double as the skew report the north_rule
asks for.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class LineageLog:
    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        self.dir = os.path.join(root, "_lineage")
        os.makedirs(self.dir, exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def read_manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_done(self, stage: str, input_fingerprint: str) -> bool:
        m = self.read_manifest(stage)
        return bool(m and m.get("status") == "ok" and m.get("input") == input_fingerprint)

    def data_path(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    # --- per-bucket progress (the overwritePartitions analogue) ---

    def _progress_path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.buckets.json")

    def read_bucket_progress(self, stage: str) -> dict:
        """bucket -> {input, rows_out}; committed buckets survive a crash
        that happens before the stage manifest lands."""
        p = self._progress_path(stage)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {int(k): v for k, v in json.load(f).items()}

    def _write_bucket_progress(self, stage: str, progress: dict) -> None:
        p = self._progress_path(stage)
        with open(p + ".tmp", "w") as f:
            json.dump({str(k): v for k, v in progress.items()}, f, indent=1)
        os.replace(p + ".tmp", p)

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_fingerprint: str,
        build_fn,
        bucket_on: str | None = "conv_id",
    ) -> DataFrame:
        """Build-or-resume one stage; returns the stage DataFrame (read back
        from its table so downstream consumers always see the persisted,
        partition-pruned form).

        Bucketed stages commit at BUCKET granularity (SURVEY.md §4.3's
        ``overwritePartitions`` contract): each bucket directory carries a
        progress entry keyed by the input fingerprint, the write uses
        dynamic partition overwrite (only dirty buckets' directories are
        replaced), and a resume after a mid-stage crash rebuilds ONLY the
        buckets whose entry is missing, stale, or whose directory was
        lost — clean buckets are read back untouched.
        """
        out = self.data_path(stage)
        if self.is_done(stage, input_fingerprint):
            return spark.read.parquet(out)
        t0 = time.time()
        df = build_fn()
        if bucket_on is not None and bucket_on in df.columns:
            part_metrics = self._run_bucketed(spark, stage, input_fingerprint, df, bucket_on)
            rows = sum(p["rows_out"] for p in part_metrics)
        else:
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)
            df.write.mode("overwrite").parquet(tmp)
            rows = spark.read.parquet(tmp).count()
            os.rename(tmp, out)
            part_metrics = []
        manifest = {
            "stage": stage,
            "status": "ok",
            "input": input_fingerprint,
            "rows_out": rows,
            "wall_ms": int((time.time() - t0) * 1000),
            "partitions": sorted(part_metrics, key=lambda p: p["partition"]),
            "committed_at": time.time(),
        }
        with open(self._manifest_path(stage) + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(self._manifest_path(stage) + ".tmp", self._manifest_path(stage))
        return spark.read.parquet(out)

    def _run_bucketed(
        self, spark: SparkSession, stage: str, input_fingerprint: str, df: DataFrame, bucket_on: str
    ) -> list:
        out = self.data_path(stage)
        progress = self.read_bucket_progress(stage)
        # an output dir with NO progress map is unknown provenance (crash
        # between the parquet write and the progress commit, or a layout
        # from the pre-bucketing whole-stage format): its buckets can be
        # stale under the current input, and dynamic overwrite would keep
        # any bucket the new input produces no rows for — hard reset
        if not progress and os.path.exists(out):
            shutil.rmtree(out, ignore_errors=True)
        # a fingerprint change invalidates everything: hard reset (the
        # Iceberg analogue is REPLACE TABLE — stale partitions must not
        # survive an input change, dynamic overwrite alone would keep them)
        if any(e.get("input") != input_fingerprint for e in progress.values()):
            shutil.rmtree(out, ignore_errors=True)
            progress = {}
        clean = {
            b
            for b, e in progress.items()
            if e.get("input") == input_fingerprint
            and (e.get("rows_out") == 0 or os.path.isdir(os.path.join(out, f"bucket={b}")))
        }
        dirty = [b for b in range(self.n_buckets) if b not in clean]
        if dirty:
            writer = df.withColumn(
                "bucket", F.pmod(F.xxhash64(F.col(bucket_on)), F.lit(self.n_buckets)).cast("int")
            ).where(F.col("bucket").isin([int(b) for b in dirty]))
            # per-write override (not a session conf set/restore): stages
            # may run concurrently from the pipeline's branch threads, and
            # a global conf mutation would race across them
            writer.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(out)
            counts = {
                int(r["bucket"]): int(r["n"])
                for r in spark.read.parquet(out)
                .where(F.col("bucket").isin([int(b) for b in dirty]))
                .groupBy("bucket")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for b in dirty:
                progress[b] = {"input": input_fingerprint, "rows_out": counts.get(b, 0)}
            self._write_bucket_progress(stage, progress)
        return [
            {"partition": int(b), "rows_out": int(e["rows_out"])}
            for b, e in progress.items()
            if e["rows_out"] > 0 or os.path.isdir(os.path.join(out, f"bucket={b}"))
        ]

    def skew_report(self, stage: str) -> dict:
        """max/median partition rows — the salting-effectiveness metric."""
        m = self.read_manifest(stage) or {}
        rows = sorted(p["rows_out"] for p in m.get("partitions", []))
        if not rows:
            return {"max": 0, "median": 0, "ratio": 0.0}
        med = rows[len(rows) // 2]
        return {"max": rows[-1], "median": med, "ratio": rows[-1] / max(med, 1)}
