"""Graph materialization (SURVEY.md P16/P17, U1, J8, A4, A12) — the
KGAT-ready edge-list/adjacency deliverable, with exact
KGAT-pytorch/utility/loader_kgat.py:84-148 semantics rebuilt relationally.

Two layers:

- :func:`materialize_graph` — pipeline deliverable: the deduped triple set
  mapped to dense int ids (entities sorted by entity_id, relations sorted
  by name — deterministic, cross-run stable), plus reverse edges with
  ``r + n_relations`` (P16, loader_kgat.py:86-91).

- :func:`kgat_construct` — the full CF+KG union of the reference
  (loader_kgat.py:84-148): relation ids shifted by 2 to reserve 0/1 for
  the interaction edge and its reverse (P17, :95), user ids shifted past
  the entity-id space (:100-110), interaction edges injected in both
  directions (J8/U1, :113-130), and the h -> [(t, r)] adjacency aggregation
  (A4, :136-148) as a grouped collect.

Id dictionaries are tiny next to the edge set (they are in the reference
too: remap files) and bounded by the alias dictionary and the relation
labels, so the driver numbers the collected *distinct* key set; the big
edge table only ever broadcast-joins against them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgp.reuse import local_reuse
from kgp.session import local_table


def _dense_id_dicts(triples: DataFrame) -> tuple[DataFrame, DataFrame, int, int]:
    """BOTH id dictionaries (entities sorted by key -> 0..n_ent-1,
    relations sorted by key -> 0..n_rel-1), numbered on the driver.

    Entity keys are linked ``entity_id``s, bounded by the alias
    dictionary, and relation keys by the relation label set, so ONE job
    collects the distinct ``(kind, key)`` pairs and Python numbers them.
    The sort puts nulls first and compares strings by code point — Spark's
    ascending order (UTF-8 byte order equals code-point order), so the ids
    equal a Spark ``orderBy("key")`` numbering. Both dicts come back as
    ``LocalRelation``s: the edge joins broadcast them with no further job.
    """
    keys = (
        triples.select(F.lit("e").alias("kind"), F.col("subj").alias("key"))
        .unionByName(triples.select(F.lit("e").alias("kind"), F.col("obj").alias("key")))
        .unionByName(triples.select(F.lit("r").alias("kind"), F.col("pred").alias("key")))
    )
    by_kind: dict = {"e": [], "r": []}
    for r in keys.distinct().collect():
        by_kind[r["kind"]].append(r["key"])
    ent_keys, rel_keys = (sorted(by_kind[k], key=lambda x: (x is not None, x)) for k in "er")
    spark = triples.sparkSession
    # int ids keep the historical schema (dictionary-bounded, like the
    # reference's remap files)
    ents = local_table(
        spark, [(k, i) for i, k in enumerate(ent_keys)], "entity_id string, ent_int int"
    )
    rels = local_table(spark, [(k, i) for i, k in enumerate(rel_keys)], "pred string, rel_int int")
    return ents, rels, len(ent_keys), len(rel_keys)


def materialize_graph(
    triples: DataFrame, reuse=local_reuse
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (edges, entity_dict, relation_dict).

    edges: forward (h, r, t) distinct + reverse (t, r + n_rel, h) —
    loader_kgat.py:86-91 semantics over OUR extracted triples.

    ``reuse`` is the multi-consumer pin hook (kgp.reuse): the deduped
    forward edge set feeds both subtrees of the fwd∪rev union. Default
    is an eager localCheckpoint; the cluster profile persists it as a
    lineage stage table instead.
    """
    ents, rels, _n_ent, n_rel = _dense_id_dicts(triples)
    fwd = reuse(
        triples.join(F.broadcast(ents.withColumnRenamed("entity_id", "subj")), "subj")
        .withColumnRenamed("ent_int", "h")
        .join(F.broadcast(ents.withColumnRenamed("entity_id", "obj")), "obj")
        .withColumnRenamed("ent_int", "t")
        .join(F.broadcast(rels), "pred")
        .select("h", F.col("rel_int").alias("r"), "t")
        .dropDuplicates(["h", "r", "t"]),  # A12
        "graph_fwd",
    )
    rev = fwd.select(
        F.col("t").alias("h"), (F.col("r") + F.lit(n_rel)).alias("r"), F.col("h").alias("t")
    )
    return fwd.unionByName(rev), ents, rels


def kgat_construct(kg: DataFrame, cf: DataFrame, reuse=local_reuse) -> dict:
    """Exact loader_kgat.py:84-148 dataflow over (h, r, t) + (user, item).

    Returns dict of DataFrames: edges, adjacency, stats (single row).
    """
    # deduped kg feeds the stats agg AND fwd/rev below: pin it so the
    # dedup shuffle runs once, and batch both extent statistics (:95-98
    # max-id convention) into ONE driver job instead of two first() jobs
    kg = reuse(kg.dropDuplicates(["h", "r", "t"]), "kgat_kg")  # :80
    stats0 = kg.agg(
        (F.max("r") + 1).alias("n_rel"),
        (F.greatest(F.max("h"), F.max("t")) + 1).alias("n_ent"),
    ).first()
    n_rel, n_ent = stats0["n_rel"], stats0["n_ent"]
    # reverse edges (:86-91), then shift all kg relations by 2 (:95)
    fwd = kg.select("h", (F.col("r") + F.lit(2)).alias("r"), "t")
    rev = kg.select(
        F.col("t").alias("h"), (F.col("r") + F.lit(n_rel) + F.lit(2)).alias("r"), F.col("h").alias("t")
    )
    # users shifted past entity space (:100-110); interactions as r=0 / reverse r=1 (:113-130)
    inter = cf.select(
        (F.col("user") + F.lit(n_ent)).alias("h"), F.lit(0).alias("r"), F.col("item").alias("t")
    ).dropDuplicates()
    inter_rev = inter.select(
        F.col("t").alias("h"), F.lit(1).alias("r"), F.col("h").alias("t")
    )
    edges = fwd.unionByName(rev).unionByName(inter).unionByName(inter_rev)
    adjacency = edges.groupBy("h").agg(
        F.array_sort(F.collect_list(F.struct("t", "r"))).alias("out_edges")
    )  # A4 (:136-148); sorted for determinism
    stats = edges.agg(
        F.count("*").alias("n_edges"),
        (F.greatest(F.max("h"), F.max("t")) + 1).alias("n_nodes"),
        (F.max("r") + 1).alias("n_relations"),
    )
    return {"edges": edges, "adjacency": adjacency, "stats": stats}


def kgat_attention(
    spark,
    edges: DataFrame,
    ent_emb,
    rel_emb,
    rel_w,
) -> DataFrame:
    """F7: per-edge attention score ``att = tanh(W_r e_h + e_r) . (W_r e_t)``
    (KGAT-pytorch/model/KGAT.py:111-129 semantics) as one batched pandas
    UDF over the edge table, with the embedding matrices broadcast once.

    ent_emb: (n_ent, d); rel_emb: (n_rel, d_r); rel_w: (n_rel, d_r, d).
    Compose with :func:`edge_softmax` for the A10-normalized adjacency.
    """
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast((np.asarray(ent_emb), np.asarray(rel_emb), np.asarray(rel_w)))

    @F.pandas_udf("double")
    def att(h, r, t):
        E, R, W = bc.value
        hv = E[h.to_numpy()]  # (B, d)
        tv = E[t.to_numpy()]
        ri = r.to_numpy()
        Wr = W[ri]  # (B, d_r, d)
        wh = np.einsum("bij,bj->bi", Wr, hv)
        wt = np.einsum("bij,bj->bi", Wr, tv)
        return pd.Series(np.einsum("bi,bi->b", np.tanh(wh + R[ri]), wt))

    # asNondeterministic, as the pipeline scorers: otherwise Catalyst drops a
    # distinct under edge_softmax's max and scores every raw edge row
    return edges.withColumn("score", att.asNondeterministic()("h", "r", "t"))


def mask_train_interactions(scores: DataFrame, train: DataFrame, keys=("user", "item")) -> DataFrame:
    """J7: drop train interactions from the candidate score table
    (the reference zeroes them, metrics.py:126-130; anti-join is the
    set-semantics equivalent for ranking)."""
    return scores.join(train, on=list(keys), how="left_anti")


def edge_softmax(edges_scored: DataFrame) -> DataFrame:
    """A10: per-destination softmax normalization of edge scores
    (KGAT-pytorch/utility/helper.py:11-23) — groupBy+join form (skew-safe
    vs a partition-wide window), in the max-shifted numerically stable
    form: ``att = exp(s - max_t(s)) / sum_t exp(s - max_t(s))``. The
    reference exponentiates raw scores (helper.py:17), which overflows
    float64 past s ≈ 709 — mathematically the shift is exact (the max
    cancels), so outputs are identical where the naive form is finite,
    and remain finite where it is not. Both grouped aggregates and both
    joins key on ``t``: after the first shuffle everything is
    co-partitioned, so the stability costs no extra exchange."""
    mx = edges_scored.groupBy("t").agg(F.max("score").alias("_mx"))
    shifted = edges_scored.join(mx, "t")
    denom = shifted.groupBy("t").agg(
        F.sum(F.exp(F.col("score") - F.col("_mx"))).alias("z")
    )
    return (
        shifted.join(denom, "t")
        .withColumn("att", F.exp(F.col("score") - F.col("_mx")) / F.col("z"))
        .drop("_mx")
    )


_AGGREGATOR_TYPES = ("bi-interaction", "gcn", "graphsage")


def _agg_tail(
    base: DataFrame,
    msgs: DataFrame,
    w_df: DataFrame,
    aggregator: str,
    alpha: float,
) -> DataFrame:
    """Shared combine -> linear -> LeakyReLU tail of one aggregation round
    (KGAT-pytorch/model/KGAT.py:51-64 ``Aggregator.forward``, Equations
    6-9). ``base`` is the long-form ego embedding (h, i, e_h); ``msgs``
    the attention-weighted neighbor sums (h, i, n_val); ``w_df`` the tiny
    broadcastable (i, j, w1, w2) weight table. Per variant:

        gcn:            leaky( sum_i (e_h + e_N)[i] * W1[i][j] )
        graphsage:      leaky( sum_i e_h[i]*W1[i][j] + e_N[i]*W2[i][j] )
                        (W1/W2 = the top/bottom halves of the reference's
                         single (2*d_in x d_out) weight over the concat
                         [e_h ; e_N] — same linear map, split by operand)
        bi-interaction: leaky(sum (e_h+e_N) W1) + leaky(sum (e_h*e_N) W2)

    The only shuffle is the uniform (h, j) groupBy; the weight table is a
    broadcast at every scale.
    """
    if aggregator not in _AGGREGATOR_TYPES:
        raise ValueError(f"aggregator must be one of {_AGGREGATOR_TYPES}: {aggregator}")
    e_h = F.col("e_h")
    e_n = F.coalesce("n_val", F.lit(0.0))
    if aggregator == "graphsage":
        s, p = e_h, e_n
    else:
        s, p = e_h + e_n, e_h * e_n
    combined = base.join(msgs, ["h", "i"], "left").select(
        "h", "i", s.alias("s"), p.alias("p")
    )
    lin = (
        combined.join(F.broadcast(w_df), "i")
        .groupBy("h", "j")
        .agg(
            F.sum(F.col("s") * F.col("w1")).alias("z1"),
            F.sum(F.col("p") * F.col("w2")).alias("z2"),
        )
    )

    def leaky(c):
        return F.when(c > 0, c).otherwise(alpha * c)

    if aggregator == "bi-interaction":
        out = leaky(F.col("z1")) + leaky(F.col("z2"))
    elif aggregator == "gcn":
        out = leaky(F.col("z1"))
    else:
        out = leaky(F.col("z1") + F.col("z2"))
    return lin.select("h", "j", out.alias("e_out"))


def _ego_long(spark, ent_emb) -> DataFrame:
    """Driver-side embedding matrix as the long-form ``(id, i, val)`` table."""
    rows = [(i, j, float(x)) for i, row in enumerate(ent_emb) for j, x in enumerate(row)]
    return local_table(spark, rows, "id long, i int, val double")


def _weight_table(spark, w1, w2) -> DataFrame:
    """A d_in x d_out weight pair as the broadcastable ``(i, j, w1, w2)`` table."""
    rows = [
        (i, j, float(w1[i][j]), float(w2[i][j]))
        for i in range(len(w1))
        for j in range(len(w1[0]))
    ]
    return local_table(spark, rows, "i int, j int, w1 double, w2 double")


def kgat_aggregate(
    spark,
    edges_att: DataFrame,
    ent_emb,
    w1,
    w2=None,
    alpha: float = 0.2,
    aggregator: str = "bi-interaction",
) -> DataFrame:
    """One KGAT aggregation round over softmaxed edges
    (KGAT-pytorch/model/KGAT.py:38-108 ``Aggregator``; the reference's
    user-facing ``aggregation_type`` choice {gcn, graphsage,
    bi-interaction}, KGAT.py:17-32): per node h,

        e_N(h)  = sum over out-edges (h, r, t) of  att * e_t
        e_h'    = per-variant linear + LeakyReLU over (e_h, e_N)
                  (see :func:`_agg_tail`; bi-interaction shown below)

        e_h'[j] = LeakyReLU( sum_i (e_h + e_N)[i] * W1[i][j] )
                + LeakyReLU( sum_i (e_h * e_N)[i] * W2[i][j] )

    ``w2`` is unused by the gcn variant (pass None); for graphsage pass
    the two halves of the concat weight as (w1, w2).

    -> one row per (h, j): ``(h, j, e_out)``, for all entities in the
    embedding table (a node with no out-edges aggregates e_N = 0, like an
    empty adjacency row in the reference's sparse matmul).

    Dataflow: the driver matrices become the long-form ego table
    ``(id, i, val)`` and the ``(i, j, w1, w2)`` weight table, and the
    round is :func:`_aggregate_long` — the same message pass
    :func:`kgat_cf_embedding` stacks.
    """
    if w2 is None:
        w2 = [[0.0] * len(w1[0]) for _ in range(len(w1))]
    out = _aggregate_long(
        _ego_long(spark, ent_emb), edges_att, _weight_table(spark, w1, w2), alpha, aggregator
    )
    return out.select("h", F.col("j").cast("long").alias("j"), "e_out")


def _aggregate_long(
    emb_long: DataFrame,
    edges_att: DataFrame,
    w_df: DataFrame,
    alpha: float = 0.2,
    aggregator: str = "bi-interaction",
) -> DataFrame:
    """One aggregation round over LONG-FORM embeddings ``(id, i, val)``
    — the building block of :func:`kgat_aggregate` and of
    :func:`kgat_cf_embedding`'s stacked layers (variant formulas:
    :func:`_agg_tail`; bi-interaction shown below).

    The embedding is a DataFrame that is equi-joined, so layer k+1
    consumes layer k's output without ever collecting it: at billions of
    entities the embedding table is itself big data, and the only
    operations here are uniform-key shuffles (join on t, groupBy (h, i) /
    (h, j)) plus one broadcast of the tiny d_in x d_out weight table. The
    neighbor sum is a groupBy(h, i) with map-side partial aggregation — a
    high-out-degree hub costs one combiner per dimension, never one task.

        e_N(h)[i] = sum over out-edges (h -att-> t) of att * e_t[i]
        e_out(h)[j] = leaky(sum_i (e_h+e_N)[i] W1[i][j])
                    + leaky(sum_i (e_h*e_N)[i] W2[i][j])
    """
    msgs = (
        edges_att.select("h", "t", "att")
        .join(emb_long, edges_att["t"] == emb_long["id"])
        .groupBy("h", "i")
        .agg(F.sum(F.col("val") * F.col("att")).alias("n_val"))
    )
    base = emb_long.select(F.col("id").alias("h"), "i", F.col("val").alias("e_h"))
    return _agg_tail(base, msgs, w_df, aggregator, alpha)


def kgat_cf_embedding(
    spark,
    edges_att: DataFrame,
    ent_emb,
    layers,
    alpha: float = 0.2,
    aggregator: str = "bi-interaction",
    reuse=local_reuse,
) -> DataFrame:
    """The reference's full ``cf_embedding`` (KGAT-pytorch/model/
    KGAT.py:164-176, Equation 11): stack the chosen aggregator
    over the softmaxed edge table, L2-normalizing each layer's output,
    and CONCAT ego + every layer:

        all_embed = cat([e, norm(layer_1(e)), norm(layer_2(...)), ...])

    ``layers`` is a list of (W1, W2) pairs (layer k maps d_k -> d_{k+1},
    the reference's ``conv_dim_list`` ladder). Returns long form
    ``(h, k, val)`` where k is the global concat position — the relational
    twin of ``torch.cat(all_embed, dim=1)`` — rows ordered only by key.

    Each layer's output feeds three consumers (messages, base, final
    concat); it is pinned through the ``reuse`` hook (kgp.reuse) so the
    lineage does not re-execute the previous layers exponentially:
    eager localCheckpoint by default, a LineageLog stage table per layer
    under an explicit ``reuse=lineage_reuse(...)`` whose fingerprint must
    cover ``ent_emb`` and ``layers`` — exactly like the dedup ops'
    resumable path, and free of the block-manager residency that drove
    the sf16 driver-heap finding (SCALING.md).
    L2 normalization (torch.functional.normalize eps=1e-12) is a per-h
    aggregate + an equi-join back — no windows, no driver round-trip.
    """
    ego = _ego_long(spark, ent_emb)
    parts = [ego.select("id", F.col("i").cast("long").alias("k"), "val")]
    offset = len(ent_emb[0])
    cur = ego
    for depth, (w1, w2) in enumerate(layers, start=1):
        out = _aggregate_long(
            cur, edges_att, _weight_table(spark, w1, w2), alpha=alpha, aggregator=aggregator
        )
        nrm = out.groupBy("h").agg(
            F.greatest(F.sqrt(F.sum(F.col("e_out") * F.col("e_out"))), F.lit(1e-12)).alias("nrm")
        )
        cur = reuse(
            out.join(nrm, "h").select(
                F.col("h").alias("id"),
                F.col("j").cast("int").alias("i"),
                (F.col("e_out") / F.col("nrm")).alias("val"),
            ),
            f"cf_layer_{depth}",
        )
        parts.append(
            cur.select("id", (F.col("i") + F.lit(offset)).cast("long").alias("k"), "val")
        )
        offset += len(w1[0])
    all_embed = parts[0]
    for p in parts[1:]:
        all_embed = all_embed.unionByName(p)
    return all_embed.select(F.col("id").alias("h"), "k", "val")


def kgat_cf_score(
    all_embed: DataFrame, users: DataFrame, items: DataFrame
) -> DataFrame:
    """The reference's ``cf_score`` (KGAT-pytorch/model/KGAT.py:179-193,
    Equation 12): full eval-user x eval-item score matrix
    ``score(u, i) = all_embed[u] . all_embed[i]`` over the concatenated
    :func:`kgat_cf_embedding` output — relational matmul as join-on-dim +
    grouped sum, long form ``(user, item, score)``.

    Scale shape mirrors the reference's own batching: it evaluates users
    in ``test_batch_size`` chunks precisely because a full-matmul row
    block is the work unit, so the user-side embedding here is an
    eval-batch-sized table and is broadcast; the item side (the whole
    catalog) stays distributed and is touched once. The join key is the
    concat dimension k (low cardinality) — with the user side broadcast
    there is no shuffle on k at all, only the final uniform (user, item)
    aggregation. For catalog-scale top-k without the full matrix, the ANN
    ops (kgp/ops/similarity.py) are the scale path.
    """
    ue = all_embed.join(
        F.broadcast(users), all_embed["h"] == users["user"]
    ).select("user", "k", F.col("val").alias("uval"))
    ie = all_embed.join(
        F.broadcast(items), all_embed["h"] == items["item"]
    ).select("item", "k", F.col("val").alias("ival"))
    return (
        F.broadcast(ue)
        .join(ie, "k")
        .groupBy("user", "item")
        .agg(F.sum(F.col("uval") * F.col("ival")).alias("score"))
    )


def kgat_cf_loss(
    all_embed: DataFrame, batch: DataFrame, l2_lambda: float = 1e-5
) -> DataFrame:
    """The reference's ``calc_cf_loss`` (KGAT-pytorch/model/KGAT.py:195-219,
    Equations 12-13) over the stacked concat embedding: for a training
    batch of ``(user, pos_item, neg_item)`` id triples (all indices into
    the one entity+user embedding table, like the reference's
    ``entity_user_embed``),

        pos_score = e_u . e_pos          neg_score = e_u . e_neg   (Eq 12)
        cf_loss   = mean(-logsigmoid(pos_score - neg_score))       (Eq 13)
        l2_row    = (|e_u|^2 + |e_pos|^2 + |e_neg|^2) / 2
        loss      = cf_loss + l2_lambda * mean(l2_row)   (KGAT.py:9-10,217)

    -> 1 row ``(n, cf_loss, l2_loss, loss)``. Softplus in the same
    max-shifted stable form as :func:`kgp.functions.losses.bpr_loss`
    (``-logsigmoid(x) = softplus(-x)``).

    Dataflow: each batch row gets a per-evaluation surrogate key, then
    three equi-joins against the long-form ``(h, k, val)`` embedding on
    (id, concat-dim) feed one grouped sum per row (the Eq-12 dots and the
    three _L2_loss_mean terms folded together) and one global avg. Both
    sides stay distributed — a cf_batch of millions of triples joining a
    billion-entity embedding table is three uniform hash joins plus a
    uniform row-key agg; nothing is collected and no side must fit in
    memory. The surrogate key (not a groupBy on the id triple) keeps
    duplicate batch rows — the reference samples with replacement — from
    silently collapsing.
    """
    keyed = batch.select(
        F.monotonically_increasing_id().alias("_row"), "user", "pos_item", "neg_item"
    )
    ue = all_embed.select(F.col("h").alias("user"), "k", F.col("val").alias("uval"))
    pe = all_embed.select(
        F.col("h").alias("pos_item"), "k", F.col("val").alias("pval")
    )
    ne = all_embed.select(
        F.col("h").alias("neg_item"), "k", F.col("val").alias("nval")
    )
    per_row = (
        keyed.join(ue, "user")
        .join(pe, ["pos_item", "k"])
        .join(ne, ["neg_item", "k"])
        .groupBy("_row")
        .agg(
            F.sum(F.col("uval") * F.col("pval")).alias("pos_score"),
            F.sum(F.col("uval") * F.col("nval")).alias("neg_score"),
            (
                F.sum(
                    F.col("uval") * F.col("uval")
                    + F.col("pval") * F.col("pval")
                    + F.col("nval") * F.col("nval")
                )
                / 2
            ).alias("l2_row"),
        )
    )
    # cf_loss row term: -logsigmoid(pos - neg) = softplus(neg - pos)
    d = F.col("neg_score") - F.col("pos_score")
    row = F.greatest(d, F.lit(0.0)) + F.log1p(F.exp(-F.abs(d)))
    return (
        per_row.select(row.alias("_l"), "l2_row")
        .agg(
            F.count("*").alias("n"),
            F.avg("_l").alias("_cf"),
            F.avg("l2_row").alias("_l2"),
        )
        .select(
            "n",
            F.round("_cf", 6).alias("cf_loss"),
            F.round("_l2", 6).alias("l2_loss"),
            F.round(F.col("_cf") + F.lit(l2_lambda) * F.col("_l2"), 6).alias("loss"),
        )
    )
