"""SparkSession factory.

Production target is Spark-on-cluster with an Iceberg catalog
(``spark.read.format("iceberg")`` — SURVEY.md §1.3, §4.2); this sandbox has
no Iceberg runtime jar and no network, so the factory detects the jar and
falls back to a partitioned-Parquet catalog (kgp.io.catalog) with identical
stage semantics. All scale-relevant knobs (AQE, skew join, Arrow batching,
shuffle partitions) are set here once.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession


def iceberg_available() -> bool:
    import pyspark

    return bool(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*")))


def _master_cores(master: str) -> int:
    """Core count implied by a local[N] master (machine cores for local[*]
    or non-local masters) — the unit the 4-waves split/shuffle rules size
    against."""
    if master.startswith("local[") and master.endswith("]"):
        n = master[6:-1]
        if n.isdigit():
            return max(int(n), 1)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "kgp",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("KGP_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 8)
        else:
            shuffle_partitions = min(cores, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets *bytes*, but the hot stages here are
        # pandas-UDF compute where bytes are a bad cost proxy: the default
        # 1m floor coalesced tagger/scorer stages below the core count and
        # idled a third of the cluster. A small floor keeps CPU-bound
        # shuffle stages at the configured parallelism; relational stages
        # still coalesce via parallelismFirst.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local fixtures are single parquet files; a smaller split size
        # keeps their scans (and the map-side partial aggs fused into
        # them) parallel. On a real cluster the Iceberg layout provides
        # many files and this only affects oversized ones.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # file splits follow the same 4-waves-per-stage rule as shuffle
        # partitions: FilePartition sizes splits at
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)),
        # and the default minPartitionNum (= defaultParallelism) left the
        # sf16 scaling fixture at 9 splits on 4 cores = 2.25 task waves —
        # a ~17% packing tail on the scan-rooted pandas-UDF stages that
        # dominate the e2e wall (BENCH/BASELINE.md sf16 decomposition).
        # openCostInBytes stays at its 4 MB default: a file under 64 MB
        # splits at 4 MB or more, so a small file is one task. A Parquet
        # split never divides a row group, and a lower floor only cut a
        # one-row-group transcript file into 16 splits of which 15 were
        # empty Python tasks (~0.2 CPU-s each), all repeated by every map
        # stage over the tagger's pin.
        .config("spark.sql.files.minPartitionNum", str(4 * _master_cores(master)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # larger Arrow batches amortize the per-batch Python round trip in
        # the pandas-UDF stages (measured ~12% e2e at sf4); turn rows are
        # small, so 16k rows stays well under worker memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.sql.session.timeZone", "UTC")
        # independent stage materializations are submitted from concurrent
        # driver threads (kgp.stages.pipeline): FAIR scheduling lets a
        # short job's tasks interleave with a long sibling instead of
        # queueing behind it, filling scheduler gaps (shuffle barriers,
        # AQE replanning) that otherwise idle cores at low parallelism
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("KGP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # STATIC auto-broadcast is OFF (-1): Catalyst's size estimates are
        # meaningless through pandas-UDF and localCheckpoint boundaries
        # (a checkpointed LogicalRDD inherits the pre-materialization
        # estimate), and the round-5 sf16 event-log/jstack probe caught
        # the old 64 MB static threshold planning BROADCASTS OF THE
        # CORPUS-SIZED mention/token tables (the banded coref a-side, and the
        # since-deleted RE join sides) — a driver OOM at 8 GB and a 70 s
        # single-threaded eviction stall at 16 GB, and a cluster-killer at
        # real scale. Broadcastability is decided either explicitly
        # (F.broadcast on vocabulary-bounded dims: alias dict, thetas,
        # centroids, item dim) or by AQE at runtime from MEASURED shuffle
        # sizes (threshold below) — never from static guesses.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    )
    if iceberg_available():  # pragma: no cover - not present in sandbox
        wh = os.environ.get("KGP_WAREHOUSE", "/tmp/kgp_warehouse")
        b = (
            b.config("spark.sql.catalog.kgp", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.kgp.type", "hadoop")
            .config("spark.sql.catalog.kgp.warehouse", wh)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def local_table(spark: SparkSession, rows, ddl: str):
    """Driver rows (tuples in ``ddl``'s flat column order) as a
    LocalRelation, via pandas->Arrow: it is scanned and broadcast with no
    Spark job, where a plain list plans a Python-RDD scan whose every use
    runs Python-worker tasks. Zero rows fall back to an empty RDD scan."""
    import pandas as pd

    cols = [f.split()[0] for f in ddl.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), ddl)
