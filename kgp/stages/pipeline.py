"""End-to-end composition: transcripts -> ... -> triples + graph.

Each stage is a pure ``DataFrame -> DataFrame`` function (SURVEY.md §7
design stance); this module wires them. ``tagged`` (one row per turn with
a mention) is consumed by three subtrees (RE pairs inside each turn row,
and through its mention rows coref pairs and the union-find's members), so
it is persisted once rather than recomputed per branch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.stages.assemble import assemble_documents
from kgp.stages.coref import (
    cluster_unionfind,
    positive_edges,
    score_coref_pairs,
)
from kgp.stages.graph import materialize_graph
from kgp.stages.linking import build_alias_artifacts, cluster_surfaces, link_clusters
from kgp.stages.mentions import mentions_from_tagged, tag_turns
from kgp.stages.pairs import coref_pairs, re_pairs
from kgp.stages.relations import classify_relations
from kgp.stages.triples import assemble_triples


def _default_reuse(
    spark: SparkSession, transcripts: DataFrame, cfg: PipelineConfig, model=None
):
    """The one place a reuse profile is picked (kgp.reuse).

    Local profile (default): :func:`kgp.reuse.local_reuse`, an eager
    deserialized localCheckpoint per boundary, whatever the input size.
    Cluster profile (``KGP_REUSE=table``): LineageLog stage tables under
    ``KGP_REUSE_DIR`` (a fresh temp dir when unset, so repeated runs
    re-execute rather than resume), keyed by the input+config
    fingerprint and, when ``model`` is given, the model's — executor-loss
    safe, resumable, zero block-manager residency: the route for inputs
    too large for block-manager pins (the sf16 16 GB-driver-heap finding
    in SCALING.md is exactly the local profile's pins). The fingerprint
    scans only run under the table profile."""
    import os
    import tempfile

    from kgp.reuse import input_fingerprint, lineage_reuse, local_reuse

    if os.environ.get("KGP_REUSE") == "table":
        outdir = os.environ.get("KGP_REUSE_DIR") or tempfile.mkdtemp(prefix="kgp-reuse-")
        fp = input_fingerprint(transcripts, cfg)
        if model is not None:
            fp += ":" + model.fingerprint()
        return lineage_reuse(spark, outdir, fp)
    return local_reuse


def _run_concurrently(spark: SparkSession, *thunks) -> list:
    """Run several independent build-and-materialize thunks, each from its
    own driver thread so their Spark jobs interleave under the FAIR
    scheduler. Threads (not async handles) because actions block;
    exceptions propagate through the pool."""
    import concurrent.futures

    def run(i_thunk):
        i, thunk = i_thunk
        sc = spark.sparkContext
        # distinct on-demand pools: with scheduler.mode=FAIR the cross-pool
        # policy is fair sharing, so neither branch's tasks queue behind
        # the other's (within one pool the default policy is still FIFO).
        # Python threads are pinned to JVM threads (PYSPARK_PIN_THREAD
        # default on), so the local property scopes to this thread's jobs.
        sc.setLocalProperty("spark.scheduler.pool", f"kgp-branch-{i}")
        try:
            return thunk()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with concurrent.futures.ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return list(pool.map(run, enumerate(thunks)))


@dataclass
class PipelineModel:
    """The broadcastable 'model' of the surrogate pipeline: gazetteer
    surfaces for the tagger, alias groups for the coref scorer, and the
    alias dictionary DataFrame for linking."""

    surfaces: list  # [(surface, entity_type)]
    surface_groups: dict  # surface -> alias-group id
    alias_dict: DataFrame

    def fingerprint(self) -> str:
        """Content hash of the gazetteer, the alias groups and the alias
        dictionary (one scan of ``alias_dict``)."""
        import hashlib

        from kgp.reuse import content_hash

        py = repr((self.surfaces, sorted(self.surface_groups.items())))
        return f"{hashlib.md5(py.encode()).hexdigest()[:12]}:{content_hash(self.alias_dict)}"


def extract_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    model: PipelineModel,
    cfg: PipelineConfig,
    reuse,
) -> dict:
    """transcripts -> documents, mentions, relations, clusters, links and
    triples: the extraction DAG up to and including the ``triples`` pin.
    :func:`run_pipeline` adds the graph; the streaming micro-batch
    (:mod:`kgp.streaming.incremental`) runs this alone."""
    # Stage boundaries are materialized AND lineage-truncated through the
    # `reuse` hook (kgp.reuse): localCheckpoint in the single-JVM profile,
    # LineageLog stage tables (the Iceberg overwritePartitions analogue)
    # under KGP_REUSE=table — which truncates the plan the same way, adds
    # fault tolerance + mid-run resume, and keeps the driver heap flat.
    # Either way the materialization keeps the logical plan of every
    # downstream query small — with plain persist() the full pipeline tree
    # is re-analyzed on every action and Catalyst planning dominates.
    # Only multi-consumer outputs are checkpointed (tagged feeds 3
    # consumers: RE pairs from its turn rows, coref pairs and the
    # union-find's member rows from its mention rows;
    # clusters feeds linking and triple assembly; triples feeds
    # materialize_graph's id-key collect and its forward-edge join),
    # and EAGERLY: consumers sit in one downstream query (some under
    # broadcast-exchange threads), and only an already-materialized
    # checkpoint guarantees the producer runs exactly once.
    documents = assemble_documents(transcripts, cfg)
    # tagger input is raw turns (narrow map, no shuffle): mentions are
    # keyed (conv_id, turn_idx), so document assembly is a sibling
    # deliverable, not an upstream dependency of mention detection.
    # ONE fused pass emits a row per turn with a mention, holding its spans
    # and, for multi-mention turns, its tokens (tag_turns) — the corpus is
    # tokenized exactly once, and RE pairs and slices inside each turn row
    # with no join: the tokens end before the turn's last mention, the last
    # token RE can read.
    # EAGER checkpoint: tagged feeds several consumer subtrees INSIDE one
    # downstream query (including broadcast-exchange threads); a lazy
    # checkpoint lets those subtrees race and re-run the whole tagger pass
    # per consumer (observed in the event log as a second full
    # Scan>MapInPandas under a BroadcastExchange), so the one serial job
    # here buys single-execution of the most expensive stage.
    tagged = reuse(tag_turns(spark, transcripts, model.surfaces, cfg), "tagged")
    mentions = mentions_from_tagged(tagged)

    # linking's dictionary side depends on the alias dim alone and must fit
    # on the driver to be broadcast: built there (no Spark job) before the
    # branch threads start.
    alias_art = build_alias_artifacts(model.alias_dict, cfg)

    # The relation branch (in-row pairs + classifier) and the coref branch
    # (pair scoring + union-find) are INDEPENDENT given `tagged`: each is
    # built AND materialized inside its own driver thread (FAIR scheduler,
    # kgp/session.py), two threads in all, so their jobs interleave.
    # Neither branch saturates the executor at every instant (shuffle
    # barriers, AQE replanning, Arrow batch tails); overlapping them fills
    # those gaps — a pure win at N>1 cores, a no-op at 1 core. Both
    # subtrees read only the already-materialized `tagged`, so no producer
    # can be re-run.
    def _relations_branch():
        return reuse(classify_relations(re_pairs(tagged, cfg), cfg), "relations")

    def _coref_branch():
        scored = score_coref_pairs(spark, coref_pairs(mentions, cfg), model.surface_groups, cfg)
        members = mentions.select("conv_id", "mention_id", "mention")
        return reuse(cluster_unionfind(members, positive_edges(scored, cfg)), "clusters")

    relations, clusters = _run_concurrently(spark, _relations_branch, _coref_branch)

    links, candidates = link_clusters(cluster_surfaces(clusters), alias_art, cfg)
    triples = reuse(assemble_triples(relations, clusters, links), "triples")
    return {
        "documents": documents,
        "mentions": mentions,
        "relations": relations,
        "clusters": clusters,
        "links": links,
        "link_candidates": candidates,
        "triples": triples,
    }


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    model: PipelineModel,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    reuse=None,
) -> dict:
    """:func:`extract_triples` followed by :func:`materialize_graph`; the
    reuse profile defaults to :func:`_default_reuse`'s pick."""
    if reuse is None:
        reuse = _default_reuse(spark, transcripts, cfg, model)
    out = extract_triples(spark, transcripts, model, cfg, reuse)
    out["edges"], out["entity_dict"], out["relation_dict"] = materialize_graph(
        out["triples"], reuse=reuse
    )
    return out


def fixture_model(spark: SparkSession, fixture_cfg=None) -> PipelineModel:
    """PipelineModel from the deterministic fixture gazetteer."""
    from kgp.config import FixtureConfig
    from kgp.fixtures import alias_df, make_gazetteer, tagger_surfaces

    fixture_cfg = fixture_cfg or FixtureConfig()
    gaz = make_gazetteer(fixture_cfg)
    groups = {s: e.idx for e in gaz for s in e.surfaces}
    return PipelineModel(
        surfaces=tagger_surfaces(gaz),
        surface_groups=groups,
        alias_dict=alias_df(spark, fixture_cfg),
    )
