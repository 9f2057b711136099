"""Entity linking (SURVEY.md J1/J2/J3, F6, W2, P14).

The reference's EL is: Elasticsearch ``match`` recall of top-128 candidates
per mention, then a BERT cross-encoder scores each (mention, candidate)
pair, then a threshold filter (eval_el.py:162-291). Rebuilt with no
external service as ONE probe per surface of a broadcast alias index
(:class:`AliasIndex`), run by one ``mapInPandas`` over each cluster's
distinct surfaces. A probe applies, in order:

1. **Exact/canonical hit (J3)** — the normalized surface is looked up in
   the alias dictionary; each entity of a hit alias is a candidate at
   score 1.0. ``entity_id = md5(entity_name--code)`` parity with
   prepare_el_index.py:27-29 is carried in the dictionary.
2. **Recall (J1)** — a miss's distinct char-ngram shingles read the
   index's posting lists (ngram -> alias); gram overlaps sum per
   (alias, entity) into an IDF-WEIGHTED Jaccard recall score (the BM25
   stand-in: matching a rare gram counts up to 16x a ubiquitous one, so a
   skewed dictionary's stop-grams stop dominating the ranking the way
   ES's BM25 IDF term discounts them in eval_el.py:162-190), and the
   top-k by (score desc, entity_id, alias) survive (W2, reference
   topk=128 -> cfg.recall_top_k). Weights are INTEGERS (w = max(1, 16 -
   floor(log2 df))), so every score is an exact rational — ranking can't
   drift with float summation order between engine and oracle.
3. **Score (F6) + threshold (P14)** — the surrogate cross-encoder rescores
   the survivors; ``score > θ`` keeps a candidate, and the argmax per
   cluster with deterministic tie-break emits the final link.

The input is each cluster's distinct surfaces (:func:`cluster_surfaces`),
read from the ``mention`` column the coref union-find carries through the
clusters pin: linking never joins back to the mention table. A task
memoizes each surface it probes, so a surface shared by many clusters is
recalled and scored once per task.

The dictionary is small by construction (it is in the reference too — an
ES index of entity names), so it is built on the driver
(:func:`build_alias_artifacts`) and broadcast: the probe is a narrow map
over the surface rows, and the mention side never shuffles for linking
at any data scale. Any surface takes the same path, whether or not it is
a gazetteer surface: the tagger can emit spans in no gazetteer.
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict
from functools import cached_property
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType
from pyspark.sql.window import Window

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.functions.surrogate import jaccard
from kgp.session import local_table

# gram weight of a surface gram that no alias contains
ABSENT_GRAM_W = 16


def cluster_surfaces(clusters: DataFrame) -> DataFrame:
    """Distinct normalized surface forms per cluster, read from the
    ``mention`` column the union-find carries through the clusters pin."""
    return clusters.select("cluster_id", F.col("mention").alias("surface")).distinct()


def _padded_grams(s: str, n: int) -> set:
    """Distinct char-``n``-grams of ``#s#`` (one gram when it is shorter)."""
    p = f"#{s}#"
    return {p[i : i + n] for i in range(max(len(p) - n, 0) + 1)}


def _nulls_first(s):
    """Sort key of a nullable string in Spark's ascending order."""
    return (s is not None, s or "")


class AliasIndex:
    """The linking dictionary as plain dicts, probed once per surface.

    exact:    normalized alias -> its entity_ids;
    weights:  gram -> integer IDF weight over the alias gram space;
    postings: gram -> [(alias, entity_id)], stop-grams cut;
    tw_a:     alias -> summed weight of its grams.
    """

    def __init__(self, pairs: list, n: int):
        self.n = n
        self.exact = defaultdict(list)
        for a, eid in pairs:
            self.exact[a].append(eid)
        grams = {a: _padded_grams(a, n) for a in self.exact}
        dfreq = Counter(g for gs in grams.values() for g in gs)
        self.weights = {g: max(1, 16 - (d.bit_length() - 1)) for g, d in dfreq.items()}
        self.tw_a = {a: sum(self.weights[g] for g in gs) for a, gs in grams.items()}
        self.postings = defaultdict(list)
        for a, eid in pairs:
            for g in grams[a]:
                if self.weights[g] > 1:  # stop-gram cap: see build_alias_artifacts
                    self.postings[g].append((a, eid))

    def probe(self, surface: str | None, top_k: int, theta: float) -> list:
        """-> [(alias, entity_id, score)]: the surface's exact hits, else its
        top-k recall candidates that score above ``theta``."""
        if surface is None:
            return []
        hit = self.exact.get(surface)
        if hit is not None:
            return [(surface, eid, 1.0) for eid in hit]
        w = self.weights
        grams = _padded_grams(surface, self.n)
        tw_s = sum(w.get(g, ABSENT_GRAM_W) for g in grams)
        ov = Counter()
        for g in grams:
            for key in self.postings.get(g, ()):
                ov[key] += w[g]
        top = heapq.nsmallest(
            top_k,
            ov.items(),
            key=lambda kv: (
                -kv[1] / (tw_s + self.tw_a[kv[0][0]] - kv[1]),
                _nulls_first(kv[0][1]),
                kv[0][0],
            ),
        )
        scored = ((a, eid, jaccard(surface, a, self.n)) for (a, eid), _ in top)
        return [c for c in scored if c[2] > theta]

    def posting_rows(self) -> list:
        """(gram, alias, w, entity_id, tw_a) per posting entry."""
        return [
            (g, a, self.weights[g], eid, self.tw_a[a])
            for g, keys in self.postings.items()
            for a, eid in keys
        ]


class AliasArtifacts:
    """Dictionary side of the linking stage, computed from ``alias_dict``
    alone: the :class:`AliasIndex` that :func:`link_clusters` broadcasts,
    and its posting list as a table (the linking layer's rows)."""

    def __init__(self, index: AliasIndex, spark):
        self.index = index
        self._spark = spark

    @cached_property
    def posting(self) -> DataFrame:
        """Capped posting list (gram, alias, w, entity_id, tw_a), a
        ``LocalRelation``."""
        return local_table(
            self._spark,
            self.index.posting_rows(),
            "gram string, alias string, w long, entity_id string, tw_a long",
        )


def build_alias_artifacts(
    alias_dict: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, on_drop=None
) -> AliasArtifacts:
    """Build the linking dictionary (see :class:`AliasArtifacts`) from one
    ``collect()`` of ``(alias, entity_id)``, which runs no job when
    ``alias_dict`` is itself a ``LocalRelation``.

    The dictionary is the SET of ``(normalized alias, entity_id)`` pairs:
    two rows that normalize to one pair add it once. Normalization is
    Spark's ``lower(trim(alias))``: ``trim`` strips only U+0020, so tabs
    and newlines stay in the alias. A null alias is dropped (it can never
    match a surface).

    IDF weights: df(g) = number of distinct aliases containing gram g;
    w(g) = max(1, 16 - floor(log2 df)) (surface grams absent from the
    dictionary get the max weight 16). Integer weights keep every score an
    exact rational — ranking can't drift with float summation order
    between engine and oracle.

    STOP-GRAM CAP (mirrors ``kgp.ops.dedup.max_shingle_df`` semantics): a
    gram at the IDF floor (w == 1, i.e. present in >= 2^15 distinct
    aliases) is dropped from CANDIDATE GENERATION — its posting list
    multiplies a probe's work by its document frequency while
    contributing the minimum weight to every score. Denominators
    (``tw_s``/``tw_a``) still count dropped grams exactly, so the cap is
    conservative: overlap can only be undercounted, a candidate whose sole
    shared grams are stop-grams is simply never generated (it could never
    outrank one sharing any informative gram). Never silent:
    ``on_drop(n_stop_grams)`` fires when a callable is supplied.
    """
    pairs = dict.fromkeys(
        (a.strip(" ").lower(), eid)
        for a, eid in alias_dict.select("alias", "entity_id").collect()
        if a is not None
    )
    index = AliasIndex(list(pairs), cfg.ngram_size)
    if on_drop is not None:
        on_drop(sum(1 for v in index.weights.values() if v <= 1))
    return AliasArtifacts(index, alias_dict.sparkSession)


def link_clusters(
    surfaces: DataFrame, artifacts: AliasArtifacts, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame]:
    """-> (links, candidates). links: one best entity per cluster;
    candidates: (cluster_id, surface, alias, entity_id, score).

    ``artifacts``: the dictionary from :func:`build_alias_artifacts` (where
    the stop-gram-cap semantics are documented); its index is broadcast.
    """
    index_bc = surfaces.sparkSession.sparkContext.broadcast(artifacts.index)
    top_k, theta = cfg.recall_top_k, cfg.link_threshold
    surfaces = surfaces.select("cluster_id", "surface")
    schema = StructType(
        surfaces.schema.fields
        + [
            StructField("alias", StringType()),
            StructField("entity_id", StringType()),
            StructField("score", DoubleType()),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # recall and scoring run per DISTINCT surface: distinct surfaces are
        # bounded by vocabulary while cluster rows grow with the data
        index, memo = index_bc.value, {}
        for pdf in batches:
            rows, cands = [], []
            for i, s in enumerate(pdf["surface"]):
                hits = memo.get(s)
                if hits is None:
                    hits = memo[s] = index.probe(s, top_k, theta)
                rows += [i] * len(hits)
                cands += hits
            alias, eid, score = zip(*cands) if cands else ((), (), ())
            yield pdf.iloc[rows].assign(
                alias=list(alias), entity_id=list(eid), score=np.asarray(score, dtype=float)
            )

    candidates = surfaces.mapInPandas(probe, schema=schema)
    return _best_per_cluster(candidates), candidates


def _best_per_cluster(candidates: DataFrame) -> DataFrame:
    """The per-cluster argmax of a candidate table -> (cluster_id,
    entity_id, score): highest score, ties broken by entity_id, surface,
    then alias."""
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("entity_id"), F.asc("surface"), F.asc("alias")
    )
    return (
        candidates.withColumn("rk", F.row_number().over(wc))
        .where(F.col("rk") == 1)
        .select("cluster_id", "entity_id", "score")
    )


# surrogate-calibrated grid (the char-ngram Jaccard scorer's useful range)
# UNION the reference's own sweep {0.9, 0.95, 0.98, 0.99, 0.995}
# (eval_el.py:443-455) — grid parity so a reference user sees their θs
EL_SWEEP_THETAS = (0.35, 0.5, 0.65, 0.8, 0.9, 0.95, 0.98, 0.99, 0.995)


def threshold_sweep(
    candidates: DataFrame, gold_links: DataFrame, thetas=EL_SWEEP_THETAS
) -> DataFrame:
    """E2: micro P/R/F1 of the final cluster->entity link decision at each
    threshold θ, in ONE pass over the cached candidate score table
    (reference eval_el.py:443-455 sweeps θ ∈ {0.9..0.995} re-reading its
    score file; here the per-cluster argmax is θ-independent, so it is
    computed once and each θ is a cheap filter + aggregate over it).

    Output: (theta, tp, n_pred, n_gold, precision, recall, f1) — one row
    per θ, including θ values where nothing is predicted.
    """
    spark = candidates.sparkSession
    best = _best_per_cluster(candidates)
    th = local_table(spark, [(float(t),) for t in thetas], "theta double")
    gold = gold_links.select("cluster_id", F.col("entity_id").alias("g_entity"))
    pred = (
        best.crossJoin(F.broadcast(th))
        .where(F.col("score") > F.col("theta"))
        .join(gold, "cluster_id", "left")  # gold is unique per cluster: no fanout
        .withColumn("is_tp", (F.col("entity_id") == F.col("g_entity")).cast("long"))
    )
    agg = pred.groupBy("theta").agg(
        F.count("*").alias("n_pred"), F.sum(F.coalesce("is_tp", F.lit(0))).alias("tp")
    )
    n_gold_df = gold.agg(F.count("*").alias("n_gold"))
    out = (
        th.join(agg, "theta", "left")
        .crossJoin(F.broadcast(n_gold_df))
        .withColumn("tp", F.coalesce("tp", F.lit(0)))
        .withColumn("n_pred", F.coalesce("n_pred", F.lit(0)))
    )
    p = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(F.lit(0.0))
    r = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(F.lit(0.0))
    out = out.withColumn("precision", p).withColumn("recall", r)
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.select("theta", "tp", "n_pred", "n_gold", "precision", "recall", f1.alias("f1"))
