"""Coreference (SURVEY.md F5 + A14).

The reference models CR "similarly as a relation extraction task"
(README.md:117): a binary classifier over mention pairs. Candidate
pairs come from the banded join (``kgp.stages.pairs.coref_pairs``); the
type-consistent ones (equal labels) are scored in the same stream by a
batched pandas UDF (surrogate: 1.0 when both surfaces belong to the same
alias group of the broadcast dictionary or are string-equal, else their
char-ngram Jaccard — a calibrated score in [0,1] so the 0.5 threshold has
the same shape as the reference's softmax cutoff).

Clustering is connected components over the positive pairs of each
conversation: ``cluster_unionfind(mentions, positive_pairs)`` returns the
input mention rows plus ``cluster_id = min(mention_id)`` (deterministic),
so a column a downstream stage needs per member (linking's surface) rides
through the clusters pin instead of being joined back. It is a union-find
over ``cogroup().applyInPandas`` on a constant number of conv_id hash
buckets. Conversations are bounded (a
10^4-turn conversation's mentions fit a single task comfortably), so
grouping by conv_id is the natural partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.functions.surrogate import jaccard


def score_coref_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    surface_groups: dict,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Binary coref scorer over the type-consistent candidate pairs ->
    adds ``coref_score``.

    ``surface_groups``: surface string -> alias-group id (entity index) —
    the broadcast "model" of the surrogate. Pairs whose labels differ can
    never join a cluster, so they are dropped before scoring (as the
    oracle skips them), and the scorer runs once per remaining pair row.
    """
    groups_bc = spark.sparkContext.broadcast(surface_groups)

    @F.pandas_udf("double")
    def coref_scorer(a: pd.Series, b: pd.Series) -> pd.Series:
        groups = groups_bc.value
        out = []
        for x, y in zip(a, b):
            gx, gy = groups.get(x), groups.get(y)
            out.append(1.0 if (gx is not None and gx == gy) or x == y else jaccard(x, y))
        return pd.Series(out)

    # asNondeterministic: otherwise positive_edges' score filter is pushed
    # under this projection with the UDF call inlined, and Spark evaluates
    # the scorer twice per pair
    return pairs.where(F.col("a_label") == F.col("b_label")).withColumn(
        "coref_score", coref_scorer.asNondeterministic()("a_mention", "b_mention")
    )


def positive_edges(scored_pairs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    return scored_pairs.where(F.col("coref_score") > cfg.coref_threshold).select(
        F.col("a_conv_id").alias("conv_id"),
        F.col("a_mention_id").alias("src"),
        F.col("b_mention_id").alias("dst"),
    )


# conv-hash buckets of the union-find cogroup: cluster ids are
# min(mention_id), so the output does not depend on this count
UF_BUCKETS = 256
# per-bucket mention cap: guards task memory against one outsize
# conversation, which fails loudly here instead of in an executor OOM
UF_MAX_BUCKET_ROWS = 8_000_000


def cluster_unionfind(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """Bucketed per-conversation union-find (cogroup on a conv_id hash
    bucket) -> ``mentions`` (which needs ``conv_id`` and ``mention_id``)
    with ``cluster_id`` added; every other input column passes through.

    Coref edges never cross conversations, so union-find over a whole
    BUCKET of conversations is identical to running it per conversation —
    but one pandas group per bucket instead of per conv_id amortizes the
    fixed Arrow/pandas per-group cost (~ms) across thousands of
    conversations; with one group per conversation that overhead was the
    dominant cost of the whole stage at 10^5+ conversations.

    ``UF_BUCKETS`` buckets hold |mentions| / 256 mentions on average;
    building the plan runs no Spark job. The unsplittable unit is a
    single conversation (bucket = hash(conv_id)): a bucket past
    ``UF_MAX_BUCKET_ROWS`` mentions raises inside its task.
    """
    cap = UF_MAX_BUCKET_ROWS  # read on the driver; the closure ships it to the workers

    def uf(key, mention_pdfs: pd.DataFrame, edge_pdfs: pd.DataFrame) -> pd.DataFrame:
        if len(mention_pdfs) > cap:
            raise RuntimeError(
                f"union-find bucket {key} holds {len(mention_pdfs)} mentions "
                f"(> UF_MAX_BUCKET_ROWS={cap}): a single conversation "
                "exceeds the per-task bound"
            )
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        ids = list(mention_pdfs["mention_id"])
        for m in ids:
            parent.setdefault(m, m)
        for s, d in zip(edge_pdfs["src"], edge_pdfs["dst"]):
            rs, rd = find(int(s)), find(int(d))
            if rs != rd:
                # deterministic: larger root points to smaller
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        return mention_pdfs.drop(columns="b").assign(cluster_id=[find(int(m)) for m in ids])

    # a new StructType: schema.add() would mutate the input's cached schema
    schema = StructType(mentions.schema.fields + [StructField("cluster_id", LongType())])
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(UF_BUCKETS)).cast("int")
    mb = mentions.withColumn("b", bucket)
    eb = edges.select("conv_id", "src", "dst").withColumn("b", bucket)
    return mb.groupBy("b").cogroup(eb.groupBy("b")).applyInPandas(uf, schema=schema)

