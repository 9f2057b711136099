"""Incremental (streaming) mode.

The reference is pure batch (SURVEY.md §2.9); this module provides the
documented upgrade path: ``readStream`` over the transcript table +
``Trigger.AvailableNow`` + ``foreachBatch`` running the batch pipeline's
own :func:`kgp.stages.pipeline.extract_triples` on each micro-batch — the
same DAG, pins and concurrent branches, so no operator or stage wiring is
reimplemented for streaming.

Conversation completeness is ENFORCED, not assumed: raw rows are archived
per batch, and when a batch carries a fragment of a conversation seen in
an earlier batch, that conversation's FULL row history (archive + current
fragment) is reprocessed and its triples re-emitted under the new
batch_id; the read view keeps only each conversation's latest batch. A
conversation split across micro-batches therefore converges to exactly
the batch pipeline's output once its last fragment arrives — cross-turn
coref/RE pairs spanning the split are recovered, not silently lost. Cost
is bounded: each arrival reprocesses only the affected conversations
(O(conv size x fragments)), never the whole history.

Also provides a watermarked windowed aggregation over an event stream —
the Structured Streaming operator surface (event-time window + watermark
for late data) demonstrated on the testdata `events` schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA


def incremental_triples(
    spark: SparkSession,
    input_dir: str,
    model,
    outdir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_batch: int | None = None,
):
    """Stream transcript parquet files -> append-only triples table.

    Returns the finished StreamingQuery (Trigger.AvailableNow drains all
    pending input then stops — the incremental-batch pattern).
    """
    from kgp.reuse import local_reuse
    from kgp.stages.pipeline import extract_triples

    sink = os.path.join(outdir, "triples")
    raw = os.path.join(outdir, "raw")
    checkpoint = os.path.join(outdir, "_checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fragment = batch_df.localCheckpoint()
        # archive the raw rows FIRST (append is idempotent per batch under
        # foreachBatch's exactly-once-per-batch-id contract), then rebuild
        # the full row set of every conversation present in this batch:
        # earlier fragments of a split conversation are pulled back in, so
        # the stages below always see conversation-complete input.
        fragment.write.mode("append").parquet(raw)
        batch_convs = fragment.select("conv_id").distinct()
        transcripts = (
            spark.read.parquet(raw)
            .join(F.broadcast(batch_convs), "conv_id", "left_semi")
            # the archive may hold the same (conv, turn) twice if a source
            # re-delivers or a crashed batch is retried (append is not
            # transactional); such duplicates are byte-identical rows, so
            # keeping any one survivor per (conv, turn) is deterministic
            .dropDuplicates(["conv_id", "turn_idx"])
            .localCheckpoint()
        )
        # the batch pipeline's own DAG and pins, minus the graph: graph
        # ids renumbered per micro-batch would mean nothing downstream
        triples = extract_triples(spark, transcripts, model, cfg, local_reuse)["triples"]
        (
            triples.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_batch is not None:
        # rate limit = micro-batch boundary control; tests use 1 to force a
        # conversation split across batches and watch it converge
        reader = reader.option("maxFilesPerTrigger", max_files_per_batch)
    stream = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    return sink


def read_incremental_triples(spark: SparkSession, sink: str) -> DataFrame:
    """Global view: per conversation, ONLY its latest batch's triples are
    current (earlier batches saw an incomplete fragment and were
    superseded by the reprocessing in ``process_batch``); then dedup."""
    t = spark.read.parquet(sink)
    latest = t.groupBy("conv_id").agg(F.max("batch_id").alias("batch_id"))
    return (
        t.join(latest, ["conv_id", "batch_id"])
        .groupBy("conv_id", "subj", "pred", "obj")
        .agg(F.array_sort(F.flatten(F.collect_set("src_turns"))).alias("src_turns"))
        .withColumn("src_turns", F.array_distinct("src_turns"))
    )


def windowed_event_counts(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked event-time windowed aggregation (streaming-safe plan):
    per (window, event_type) counts + value sums; late rows beyond the
    watermark are dropped by the engine."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
