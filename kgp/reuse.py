"""Multi-consumer reuse points — local checkpoint vs lineage stage tables.

A "reuse point" is a stage output consumed by more than one downstream
subtree (the tagged corpus feeds the relation and coref branches;
each cf_embedding layer feeds messages + base + the final concat). It
must be materialized exactly once, and the downstream plans must read
the materialized form (plan truncation keeps Catalyst analysis time flat
as the pipeline deepens).

Two interchangeable implementations, both ``(df, name) -> DataFrame``:

- :func:`local_reuse` — eager ``localCheckpoint`` with deserialized row
  blocks. Fastest on a single box, but blocks live in executor/driver
  block storage: NOT fault-tolerant on executor loss, and at sf16 the
  pinned tagged/mention tables forced a 16 GB driver heap (SCALING.md
  "Round-4: sf16 memory finding"). The local profile, and the default
  ``reuse=`` of every library function.

- :func:`lineage_reuse` — each reuse point becomes a
  :class:`kgp.lineage.LineageLog` stage TABLE (bucketed parquet + a
  per-partition manifest, the sandbox analogue of Iceberg
  ``overwritePartitions``): executor-loss safe, resumable mid-run (a
  crashed job skips completed reuse points on re-run), and the blocks
  never touch the block manager — the cluster profile, the route for
  inputs too large for block-manager pins, and the same mechanism
  :func:`kgp.ops.dedup.run_dedup_resumable` already uses.

Profile selection from the environment (``KGP_REUSE`` /
``KGP_REUSE_DIR``) happens in one place only,
:func:`kgp.stages.pipeline._default_reuse`; library calls take an
explicit ``reuse=``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def content_hash(df: DataFrame, cols: list | None = None) -> str:
    """Partitioning-independent content hash of ``df`` over ``cols``
    (default: all): xor of per-row xxhash64, plus the row count. One scan."""
    h = df.select(
        F.bit_xor(F.xxhash64(*(cols or df.columns))).alias("h"), F.count("*").alias("n")
    ).first()
    return f"{h['h']}:{h['n']}"


def input_fingerprint(transcripts: DataFrame, cfg) -> str:
    """Content hash of the input + config (drives stage-skip on resume:
    any input or config change invalidates every downstream stage table)."""
    cfg_h = hashlib.md5(repr(cfg).encode()).hexdigest()[:12]
    return f"{content_hash(transcripts, ['conv_id', 'turn_idx', 'text'])}:{cfg_h}"


def local_reuse(df: DataFrame, name: str | None = None) -> DataFrame:
    """Eager localCheckpoint with deserialized row blocks."""
    return df.localCheckpoint()


def lineage_reuse(
    spark: SparkSession,
    outdir: str,
    fingerprint: str,
    bucket_on: str | None = "conv_id",
):
    """``(df, name) -> DataFrame`` that persists each reuse point as a
    LineageLog stage table under ``outdir`` and reads it back.

    Stages whose schema carries ``bucket_on`` commit at bucket
    granularity (dynamic partition overwrite, per-bucket progress — a
    mid-stage crash rebuilds only dirty buckets); others use the
    whole-stage tmp-dir + rename commit. Thread-safe across the
    pipeline's concurrent branch threads: each reuse point is its own
    stage with its own manifest file.
    """
    from kgp.lineage import LineageLog

    log = LineageLog(outdir)

    def reuse(df: DataFrame, name: str | None = None) -> DataFrame:
        if name is None:
            raise ValueError("lineage_reuse requires a stage name per reuse point")
        out = log.run_stage(spark, name, fingerprint, lambda: df, bucket_on=bucket_on)
        # the bucketed table layout adds its partition column on read-back;
        # a reuse point must hand downstream consumers the INPUT schema
        if "bucket" in out.columns and "bucket" not in df.columns:
            out = out.drop("bucket")
        return out

    reuse.lineage = log  # callers can read manifests / skew reports
    return reuse
