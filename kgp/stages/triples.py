"""Triple assembly (SURVEY.md §7 slice 7): relations × clusters × links.

Each classified relation (head_mention, tail_mention, rel) is resolved to
canonical entities: mention -> coref cluster -> linked entity_id. Mentions
whose cluster has no link above threshold are dropped (the reference's EL
emits only matches above θ, eval_el.py:286-291); the drop count is
observable via the lineage metrics, not silently lost.

Output grain (FIXTURES.md goldens): one row per (conv_id, subj, pred, obj)
with the sorted source turns — dedup via groupBy, mirroring the
reference's triple dedup (loader_kgat.py:80).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assemble_triples(
    relations: DataFrame, clusters: DataFrame, links: DataFrame
) -> DataFrame:
    m2e = clusters.join(links, "cluster_id").select(
        "mention_id", F.col("entity_id")
    )  # mention -> canonical entity
    h = m2e.select(
        F.col("mention_id").alias("head_mention_id"), F.col("entity_id").alias("subj")
    )
    t = m2e.select(
        F.col("mention_id").alias("tail_mention_id"), F.col("entity_id").alias("obj")
    )
    return (
        relations.join(h, "head_mention_id")
        .join(t, "tail_mention_id")
        .groupBy("conv_id", "subj", F.col("rel").alias("pred"), "obj")
        .agg(F.array_sort(F.collect_set("turn_idx")).alias("src_turns"))
    )
