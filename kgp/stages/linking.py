"""Entity linking (SURVEY.md J1/J2/J3, F6, W2, P14).

The reference's EL is: Elasticsearch ``match`` recall of top-128 candidates
per mention, then a BERT cross-encoder scores each (mention, candidate)
pair, then a threshold filter (eval_el.py:162-291). Rebuilt with no
external service as the **two-stage hash-join + score pass** the
north_rule names:

1. **Exact/canonical pass (J3)** — normalized surface equi-joined against
   the broadcast alias dictionary. ``entity_id = md5(entity_name--code)``
   parity with prepare_el_index.py:27-29 is carried in the dictionary.
2. **Recall join (J1)** — surfaces without an exact hit are exploded into
   distinct char-ngram shingles and hash-joined against a broadcast
   posting table (ngram -> alias); gram overlaps aggregate per
   (surface, alias) into an IDF-WEIGHTED Jaccard recall score (the BM25
   stand-in: matching a rare gram counts up to 16x a ubiquitous one, so a
   skewed dictionary's stop-grams stop dominating the ranking the way
   ES's BM25 IDF term discounts them in eval_el.py:162-190), and a rank
   window keeps top-k per surface (W2, reference topk=128 ->
   cfg.recall_top_k). Weights are INTEGERS (w = max(1, 16 - floor(log2
   df))), so every score is an exact rational — ranking can't drift with
   float summation order between engine and oracle.
3. **Score pass (F6) + threshold (P14)** — a batched pandas UDF
   (surrogate cross-encoder) rescores the survivors; ``score > θ`` keeps a
   candidate, argmax per cluster with deterministic tie-break emits the
   final link.

The input is each cluster's distinct surfaces (:func:`cluster_surfaces`),
read from the ``mention`` column the coref union-find carries through the
clusters pin: linking never joins back to the mention table.

The dictionary is small by construction (it is in the reference too — an
ES index of entity names), so both joins are broadcast: the mention side
never shuffles for linking at any data scale. Being broadcast, the
dictionary side must fit on the driver, so it is built there
(:class:`AliasArtifacts`).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.functions.surrogate import jaccard
from kgp.session import local_table


def _cross_encoder(n: int):
    """Surrogate cross-encoder: char-``n``-gram Jaccard of surface and alias.

    Nondeterministic for the optimizer: otherwise the ``score > θ`` filter
    is pushed under the projection with the UDF call inlined, and Spark
    evaluates the scorer twice per candidate."""

    @F.pandas_udf("double")
    def scorer(surface: pd.Series, alias: pd.Series) -> pd.Series:
        return pd.Series([jaccard(a, b, n) for a, b in zip(surface, alias)])

    return scorer.asNondeterministic()


def cluster_surfaces(clusters: DataFrame) -> DataFrame:
    """Distinct normalized surface forms per cluster, read from the
    ``mention`` column the union-find carries through the clusters pin."""
    return clusters.select("cluster_id", F.col("mention").alias("surface")).distinct()


def _ngram_explode(df: DataFrame, col: str, n: int) -> DataFrame:
    """Distinct padded char-ngrams of a string column (JVM-side, no UDF;
    substring with a column start position needs the SQL expr form)."""
    return df.withColumn(
        "grams",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(length(concat('#', {col}, '#')) - {n}, 0)), "
                f"i -> substring(concat('#', {col}, '#'), i + 1, {n}))"
            )
        ),
    ).withColumn("n_grams", F.size("grams"))


def _padded_grams(s: str, n: int) -> set:
    """The gram set :func:`_ngram_explode` emits for one string."""
    p = f"#{s}#"
    return {p[i : i + n] for i in range(max(len(p) - n, 0) + 1)}


class AliasArtifacts:
    """Dictionary-side tables of the linking stage, computed from
    ``alias_dict`` alone. Every one of them is broadcast by
    :func:`link_clusters`, so it has to fit on the driver anyway: they are
    built there, in Python, and enter Spark as ``LocalRelation``s, which
    are scanned and broadcast without a Spark job.

    alias_norm: (alias, entity_id) normalized dictionary, duplicates kept;
    wtab:       (gram, w) integer IDF weights over the alias gram space;
    posting:    capped posting list (gram, alias, w, entity_id, tw_a).
    """

    def __init__(self, alias_norm: DataFrame, wtab: DataFrame, posting: DataFrame):
        self.alias_norm = alias_norm
        self.wtab = wtab
        self.posting = posting


def build_alias_artifacts(
    alias_dict: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, on_drop=None
) -> AliasArtifacts:
    """Build the linking dictionary artifacts (see :class:`AliasArtifacts`)
    from one ``collect()`` of ``(alias, entity_id)``, which runs no job
    when ``alias_dict`` is itself a ``LocalRelation``.

    Normalization is Spark's ``lower(trim(alias))``: ``trim`` strips only
    U+0020, so tabs and newlines stay in the alias. A null alias keeps its
    ``alias_norm`` row and has no grams (it can never join a surface).

    IDF weights: df(g) = number of distinct aliases containing gram g;
    w(g) = max(1, 16 - floor(log2 df)) (surface grams absent from the
    dictionary get the max weight 16). Integer weights keep every score an
    exact rational — ranking can't drift with float summation order
    between engine and oracle.

    STOP-GRAM CAP (mirrors ``kgp.ops.dedup.max_shingle_df`` semantics): a
    gram at the IDF floor (w == 1, i.e. present in >= 2^15 distinct
    aliases) is dropped from CANDIDATE GENERATION — its posting list
    multiplies the recall join's rows by its document frequency while
    contributing the minimum weight to every score. Denominators
    (``tw_s``/``tw_a``) still count dropped grams exactly, so the cap is
    conservative: overlap can only be undercounted, a candidate whose sole
    shared grams are stop-grams is simply never generated (it could never
    outrank one sharing any informative gram). Never silent:
    ``on_drop(n_stop_grams)`` fires when a callable is supplied.
    """
    n = cfg.ngram_size
    norm = [
        (None if a is None else a.strip(" ").lower(), eid)
        for a, eid in alias_dict.select("alias", "entity_id").collect()
    ]
    grams = {a: _padded_grams(a, n) for a, _ in norm if a is not None}
    dfreq = Counter(g for gs in grams.values() for g in gs)
    w = {g: max(1, 16 - (d.bit_length() - 1)) for g, d in dfreq.items()}
    tw_a = {a: sum(w[g] for g in gs) for a, gs in grams.items()}
    if on_drop is not None:
        on_drop(sum(1 for v in w.values() if v <= 1))
    posting = [
        (g, a, w[g], eid, tw_a[a])
        for a, eid in norm
        if a is not None
        for g in grams[a]
        if w[g] > 1  # stop-gram cap: see docstring
    ]
    spark = alias_dict.sparkSession
    return AliasArtifacts(
        local_table(spark, norm, "alias string, entity_id string"),
        local_table(spark, list(w.items()), "gram string, w long"),
        local_table(
            spark, posting, "gram string, alias string, w long, entity_id string, tw_a long"
        ),
    )


def link_clusters(
    surfaces: DataFrame, artifacts: AliasArtifacts, cfg: PipelineConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame]:
    """-> (links, candidates). links: one best entity per cluster.

    ``artifacts``: the dictionary tables from :func:`build_alias_artifacts`
    (where the stop-gram-cap semantics are documented), each broadcast.
    """
    n = cfg.ngram_size
    alias_norm, wtab, posting = artifacts.alias_norm, artifacts.wtab, artifacts.posting

    # Recall + scoring run per DISTINCT surface, not per (cluster, surface):
    # distinct surfaces are bounded by vocabulary while cluster rows grow
    # with the data, so the expensive ngram join and cross-encoder cost
    # stays O(vocab) at any input scale; results join back to clusters at
    # the end (the mention side of that join never carries candidate
    # blow-up, only the final per-surface survivors).
    surf = surfaces.select("surface").distinct()

    # --- stage 1: exact broadcast join (J3) ---
    exact_s = surf.join(
        F.broadcast(alias_norm), surf["surface"] == alias_norm["alias"]
    ).select("surface", "alias", "entity_id", F.lit(1.0).alias("score"))

    # --- stage 2: ngram recall join for the misses (J1) ---
    misses = surf.join(
        F.broadcast(alias_norm), surf["surface"] == alias_norm["alias"], "left_anti"
    )
    m_grams = _ngram_explode(misses, "surface", n).select(
        "surface", F.explode("grams").alias("gram")
    )
    tw_s = (
        m_grams.join(F.broadcast(wtab), "gram", "left")
        .groupBy("surface")
        .agg(F.sum(F.coalesce("w", F.lit(16))).alias("tw_s"))
    )
    overlap = (
        m_grams.join(F.broadcast(posting), "gram")
        .groupBy("surface", "alias", "entity_id", "tw_a")
        .agg(F.sum("w").alias("ov_w"))
        .join(tw_s, "surface")
        .withColumn(
            "recall_score", F.col("ov_w") / (F.col("tw_s") + F.col("tw_a") - F.col("ov_w"))
        )
    )
    w = Window.partitionBy("surface").orderBy(
        F.desc("recall_score"), F.asc("entity_id"), F.asc("alias")
    )
    topk = overlap.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= cfg.recall_top_k)

    # --- score pass (F6) + threshold (P14) ---
    fuzzy_s = (
        topk.withColumn("score", _cross_encoder(n)("surface", "alias"))
        .where(F.col("score") > cfg.link_threshold)
        .select("surface", "alias", "entity_id", "score")
    )

    # --- join per-surface candidates back to clusters ---
    cand_s = exact_s.unionByName(fuzzy_s)
    candidates = surfaces.join(cand_s, "surface").select(
        "cluster_id", "surface", "alias", "entity_id", "score"
    )

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
