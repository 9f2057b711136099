"""Multi-consumer reuse points — local checkpoint vs lineage stage tables.

A "reuse point" is a stage output consumed by more than one downstream
subtree (the tagged corpus feeds the relation and coref branches;
each cf_embedding layer feeds messages + base + the final concat). It
must be materialized exactly once, and the downstream plans must read
the materialized form (plan truncation keeps Catalyst analysis time flat
as the pipeline deepens).

Interchangeable implementations, all ``(df, name) -> DataFrame``:

- :func:`local_reuse` — eager ``localCheckpoint``. Fastest on a single
  box, but blocks live in executor/driver block storage: NOT
  fault-tolerant on executor loss, and at sf16 the pinned tagged/mention
  tables forced a 16 GB driver heap (SCALING.md "Round-4: sf16 memory
  finding"). The default ``reuse=`` of every library function.

- :func:`local_reuse_for` — the same eager localCheckpoint with the
  storage level picked from the job's input bytes; the default of
  :func:`kgp.stages.pipeline.run_pipeline`.

- :func:`lineage_reuse` — each reuse point becomes a
  :class:`kgp.lineage.LineageLog` stage TABLE (bucketed parquet + a
  per-partition manifest, the sandbox analogue of Iceberg
  ``overwritePartitions``): executor-loss safe, resumable mid-run (a
  crashed job skips completed reuse points on re-run), and the blocks
  never touch the block manager — the cluster profile, and the same
  mechanism :func:`kgp.ops.dedup.run_dedup_resumable` already uses.

Profile selection from the environment (``KGP_REUSE`` /
``KGP_REUSE_DIR``) happens in one place only,
:func:`kgp.stages.pipeline._default_reuse`; library calls take an
explicit ``reuse=``.
"""

from __future__ import annotations

import hashlib
import os

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


local_reuse.level = "deser"


def input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the files feeding ``df`` — metadata only
    (no job). 0 when the input isn't file-backed (synthetic ranges,
    streaming sources)."""
    from urllib.parse import unquote, urlparse

    total = 0
    try:
        for p in df.inputFiles():
            # percent-encoded file: URIs (a space is %20, a % is %25)
            if p.startswith("file:"):
                p = unquote(urlparse(p).path)
            total += os.path.getsize(p)
    except Exception:
        return 0
    return total


# local_reuse_for thresholds, in bytes of input parquet
SER_ABOVE_BYTES = 32e6
DISK_ABOVE_BYTES = 96e6


def local_reuse_for(in_bytes: int = 0):
    """Scale-adaptive local profile: pick the checkpoint storage level
    from the job's input size.

    Deserialized row blocks (localCheckpoint's default) are fastest when
    the pinned tables fit comfortably — but they carry ~10-20x the
    on-disk parquet footprint as JVM objects, and at sf16 that residency
    both forced a 16 GB driver heap and taxed memory bandwidth: the
    round-5 eventlog decomposition measured +14% task core-seconds on
    the 4-core leg, and switching the pins to serialized UnsafeRow bytes
    cut that leg ~23% (same host, same input). At sf0.1 the same switch
    is a ~7% LOSS (the extra ser/deser copy on a job whose pins are a
    few MB). So: serialized above SER_ABOVE_BYTES of input parquet (sf4
    and sf16 qualify, the sf0.1 driver bench does not), deserialized
    below.

    Above DISK_ABOVE_BYTES of input parquet (sf16 qualifies, sf4 does not)
    the pins go DISK_ONLY: the round-5 jstack probe of the sf16 4-core
    leg caught the 70 s driver-only gap red-handed as SINGLE-THREADED
    block eviction — the broadcast-exchange thread calling
    MemoryStore.evictBlocksToFreeSpace -> DiskStore.putBytes to push
    pinned checkpoint blocks to disk one at a time while every core
    idled. DISK_ONLY pays the same disk write, but inside the checkpoint
    job's parallel tasks (and the OS page cache serves the re-reads), so
    the serial stall never forms.

    The returned hook's ``level`` attribute ("deser" / "ser" / "disk")
    names the choice.
    """
    if in_bytes <= SER_ABOVE_BYTES:
        return local_reuse

    from pyspark import StorageLevel

    level = "disk" if in_bytes > DISK_ABOVE_BYTES else "ser"
    sl = StorageLevel.DISK_ONLY if level == "disk" else StorageLevel.MEMORY_AND_DISK

    def reuse(df: DataFrame, name: str | None = None) -> DataFrame:
        return df.localCheckpoint(eager=True, storageLevel=sl)

    reuse.level = level
    return reuse


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
