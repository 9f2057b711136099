"""Pair generation (SURVEY.md J10).

Two pair families, mirroring the reference's split:

- **RE pairs** — intra-turn ordered pairs (the reference classifies
  (head, tail) within one sentence, data_loader.py:126-137): array
  functions over a turn row's spans, ``a.start < b.start``, plus one
  explode — no join, no shuffle when the input is one row per turn.

- **Coref pairs** — cross-turn pairs within a turn window W. A naive join
  keyed on conv_id alone does O(M²) comparisons inside one task for a
  10^4-turn conversation; we use the **banded range-join**: each mention is
  bucketed by ``turn_idx // (W+1)``, the left side is exploded to its own
  band and the next band, and the equi-join runs on (conv_id, band) — work
  becomes O(M · W · density) and the hot conversation is spread over its
  bands instead of one key (the north_rule's skew requirement for this
  stage; band id participates in the shuffle key).

Canonical pair orientation: (a, b) with a before b in (turn_idx, start,
mention_id) order — deterministic, no duplicate mirrored pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.stages.mentions import mention_id


SPAN_FIELDS = ["start", "end", "mention", "label"]


def _sides(mentions: DataFrame):
    cols = ["conv_id", "turn_idx", *SPAN_FIELDS, "mention_id"]
    a = mentions.select([F.col(c).alias(f"a_{c}") for c in cols])
    b = mentions.select([F.col(c).alias(f"b_{c}") for c in cols])
    return a, b


def re_pairs(turns: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Ordered intra-turn pairs, head strictly before tail in the turn, with
    the turn's ``tokens``. ``turns`` is the tagger's turn rows
    (:func:`kgp.stages.mentions.tag_turns`) or mention rows, first grouped
    into turn rows (``tokens`` NULL). Rows with a NULL key belong to no
    turn and are dropped. Both mention ids are computed from the key."""
    turns = turns.where(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
    if "spans" not in turns.columns:
        turns = turns.groupBy("conv_id", "turn_idx").agg(
            F.collect_list(F.struct(*SPAN_FIELDS)).alias("spans"),
            F.lit(None).cast("array<string>").alias("tokens"),
        )
    pairs = F.flatten(F.transform("spans", lambda a: F.transform(
        F.filter("spans", lambda b: a["start"] < b["start"]),
        lambda b: F.struct(a.alias("a"), b.alias("b")),
    )))
    return turns.select("conv_id", "turn_idx", "tokens", F.explode(pairs).alias("p")).select(
        F.col("conv_id").alias("a_conv_id"),
        F.col("turn_idx").alias("a_turn_idx"),
        *[F.col(f"p.{s}.{c}").alias(f"{s}_{c}") for s in "ab" for c in SPAN_FIELDS],
        *[mention_id(f"p.{s}.").alias(f"{s}_mention_id") for s in "ab"],
        "tokens",
    )


def coref_pairs(mentions: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Cross-turn candidate pairs with 0 <= b.turn - a.turn <= W (banded)."""
    w = cfg.coref_turn_window
    band_width = w + 1
    a, b = _sides(mentions)
    a = a.withColumn("band", F.explode(F.array(
        (F.col("a_turn_idx") / band_width).cast("long"),
        (F.col("a_turn_idx") / band_width).cast("long") + 1,
    )))
    b = b.withColumn("band", (F.col("b_turn_idx") / band_width).cast("long"))
    gap = F.col("b_turn_idx") - F.col("a_turn_idx")
    before = (F.col("a_turn_idx") < F.col("b_turn_idx")) | (
        (F.col("a_turn_idx") == F.col("b_turn_idx")) & (F.col("a_start") < F.col("b_start"))
    )
    return (
        a.join(b, on=[a["a_conv_id"] == b["b_conv_id"], a["band"] == b["band"]])
        .where((gap >= 0) & (gap <= w) & before)
        .drop("band", "b_conv_id")
    )
