"""Document assembly (SURVEY.md A2/W1): turns -> per-conversation documents.

north_rule requires explicit skew handling for long conversations: a plain
``groupBy(conv_id).agg(collect_list(...))`` puts a 10^4-turn conversation's
whole payload through one reducer. We do the salted two-stage aggregation
(§4.3(1)): partial collect on (conv_id, seg, salt) — map-side combine keeps
partials small — then final merge + flatten + array_sort on (conv_id, seg).
Conversations longer than ``max_turns_per_doc`` are segmented so a single
document row stays bounded at any scale; downstream coref is windowed on
turn_idx, not on document boundaries, so segmentation never loses recall.

Sort key: array_sort on struct sorts lexicographically by the first field,
so ``turn_idx`` leads the struct — giving the stable (conv_id, turn_idx)
ordering the per-turn text-equality invariant (input_hint) is tested on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, PipelineConfig

# salt buckets of the two-stage collect (north_rule skew): a long
# conversation's turns spread over this many partial collects
SALT_BUCKETS = 16


def assemble_documents(transcripts: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> documents."""
    turn = F.struct(
        F.col("turn_idx").alias("turn_idx"),
        F.col("role").alias("role"),
        F.col("text").alias("text"),
        F.col("tool").alias("tool"),
    )
    partial = (
        transcripts.withColumn("seg", (F.col("turn_idx") / cfg.max_turns_per_doc).cast("int"))
        .withColumn("salt", F.pmod(F.col("turn_idx"), F.lit(SALT_BUCKETS)))
        .groupBy("conv_id", "seg", "salt")
        .agg(F.collect_list(turn).alias("part"))
    )
    return (
        partial.groupBy("conv_id", "seg")
        .agg(F.array_sort(F.flatten(F.collect_list("part"))).alias("turns"))
        .select(
            "conv_id",
            "seg",
            F.size("turns").alias("n_turns"),
            "turns",
            F.array_join(F.transform("turns", lambda t: t["text"]), "\n").alias("doc_text"),
        )
    )


def explode_documents(documents: DataFrame) -> DataFrame:
    """Inverse of assembly (for the per-turn text-equality invariant test)."""
    return documents.select(
        "conv_id", F.explode("turns").alias("t")
    ).select("conv_id", "t.turn_idx", "t.role", "t.text", "t.tool")
