"""F8 — loss functions as DataFrame aggregations (SURVEY.md §2.10).

Training-time losses from the reference, re-expressed as relational
aggregates over score/label tables (no optimizer, no autograd — the
engine computes the VALUE of each loss over a materialized prediction
table, which is what a Spark-side evaluation/monitoring pass needs):

- :func:`focal_loss` — multi-class focal loss
  ``mean(-(1-p_t)^gamma * log p_t)`` over (logits, label) rows
  (Biaffine/loss_function_utils.py:7-25 log-softmax form;
  Relation_Extraction_and_Coreference_Resolution/model/focal_loss.py:36-66
  is the same with alpha=1).
- :func:`dice_loss` — vanilla batch dice/DSC over (prob, label) rows,
  ``1 - (2*sum(p*y)+s) / (sum(p)+sum(y)+s)``
  (Biaffine/loss_function_utils.py:28-222 ``_compute_dice_loss``,
  square_denominator switch included).
- :func:`bpr_loss` — pairwise BPR ``mean(-logsigmoid(pos-neg))``
  (KGAT-pytorch/model/KGAT.py calc_cf_loss / BPRMF.py).
- :func:`crf_nll` — linear-chain CRF negative log-likelihood
  ``logZ(x) - score(x, y)`` per sequence via the forward algorithm over
  the surrogate tagger's emission/transition parameters
  (CRF/modeling_bert.py:85-94; torchcrf forward semantics), batched in
  one vectorized pandas pass per Arrow batch.

- :func:`transr_scores` / :func:`transr_kg_loss` — the reference's KG
  embedding loss (KGAT-pytorch/model/KGAT.py:132-162 ``calc_kg_loss``,
  Equations 1-2): per-triple TransR plausibility
  ``||W_r e_h + e_r - W_r e_t||^2`` for a (h, r, pos_t, neg_t) batch, then
  ``mean(-logsigmoid(neg - pos)) + lambda * L2`` with
  ``_L2_loss_mean(x) = mean(sum(x^2)/2)`` (KGAT.py:9-10).

The pure-scalar losses are built-in column expressions (JVM-side,
whole-stage codegen); ``transr_scores`` projects through the relation
matrices in ONE batched pandas UDF with the embedding tensors broadcast
(the same shape as ``kgat_attention``, whose 9-dp DuckDB parity already
certifies numpy<->DuckDB transcendental agreement on this host). All
carry DuckDB SQL twins in kgp/oracles.py; ``crf_nll``'s log-sum-exp
recursion over the time axis is twinned as a DuckDB RECURSIVE CTE
(kgp/oracles.py:crf_nll_sql) and additionally brute-force path-enumerated
in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _softmax_logp_t(logits: str, label: str):
    """log softmax(logits)[label] as a column expression (max-shifted for
    the same numerical behavior the oracle twin uses)."""
    lg = F.col(logits)
    m = F.array_max(lg)
    denom = F.aggregate(
        lg, F.lit(0.0), lambda acc, x: acc + F.exp(x - m)
    )
    return F.element_at(lg, F.col(label) + 1) - m - F.log(denom)


def focal_loss(
    df: DataFrame,
    logits_col: str = "logits",
    label_col: str = "label",
    gamma: float = 2.0,
) -> DataFrame:
    """-> 1 row (n, focal_loss): mean over rows of
    ``-(1-p_t)^gamma * log(p_t)`` with ``p_t = softmax(logits)[label]``.

    All-builtin (no UDF): per-row softmax via array higher-order
    functions; the mean is the only aggregation. Labels are 0-based
    indexes into the logits array.
    """
    logp = _softmax_logp_t(logits_col, label_col)
    pt = F.exp(logp)
    row_loss = -F.pow(F.lit(1.0) - pt, F.lit(gamma)) * logp
    return df.select(row_loss.alias("_l")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("_l"), 6).alias("focal_loss"),
    )


def dice_loss(
    df: DataFrame,
    prob_col: str = "p",
    label_col: str = "y",
    smooth: float = 1e-4,
    square_denominator: bool = False,
) -> DataFrame:
    """-> 1 row (n, dice_loss): batch dice over binary (p, y) columns."""
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("double")
    num = 2.0 * F.sum(p * y) + F.lit(smooth)
    if square_denominator:
        den = F.sum(p * p) + F.sum(y * y) + F.lit(smooth)
    else:
        den = F.sum(p) + F.sum(y) + F.lit(smooth)
    return df.agg(
        F.count("*").alias("n"),
        F.round(F.lit(1.0) - num / den, 6).alias("dice_loss"),
    )


def bpr_loss(
    df: DataFrame, pos_col: str = "pos_score", neg_col: str = "neg_score"
) -> DataFrame:
    """-> 1 row (n, bpr_loss): ``mean(-log sigmoid(pos-neg))`` =
    ``mean(log(1+exp(neg-pos)))`` (softplus form, numerically stable for
    large |pos-neg| via max-shift)."""
    d = F.col(neg_col).cast("double") - F.col(pos_col).cast("double")
    # log(1+exp(d)) = max(d,0) + log1p(exp(-|d|))
    row = F.greatest(d, F.lit(0.0)) + F.log1p(F.exp(-F.abs(d)))
    return df.select(row.alias("_l")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("_l"), 6).alias("bpr_loss"),
    )


# ---------------------------------------------------------------------------
# CRF NLL (forward algorithm over the surrogate tagger parameters)
# ---------------------------------------------------------------------------


def crf_nll_batch(
    emissions_list: list[np.ndarray], paths: list[list[int]]
) -> list[float]:
    """Per-sequence NLL = logZ - score(gold path), vectorized across the
    batch dimension like :func:`kgp.functions.surrogate.batch_viterbi`
    (same padding/freezing discipline; no per-sequence loop inside the
    time recursion)."""
    from kgp.functions.surrogate import _START, _TRANS, LABELS

    B = len(emissions_list)
    if B == 0:
        return []
    lens = np.array([e.shape[0] for e in emissions_list])
    T = int(lens.max()) if B else 0
    L = len(LABELS)
    out = np.zeros(B, dtype=np.float64)
    if T == 0:
        return out.tolist()
    em = np.zeros((B, T, L), dtype=np.float64)
    for b, e in enumerate(emissions_list):
        if e.shape[0]:
            em[b, : e.shape[0]] = e
    alpha = _START[None, :] + em[:, 0, :]  # (B, L)
    for t in range(1, T):
        # logsumexp over the 'from' axis, max-shifted
        cand = alpha[:, :, None] + _TRANS[None, :, :]  # (B, from, to)
        m = cand.max(axis=1)  # (B, to)
        new = m + np.log(np.exp(cand - m[:, None, :]).sum(axis=1)) + em[:, t, :]
        active = (t < lens)[:, None]
        alpha = np.where(active, new, alpha)
    m = alpha.max(axis=1)
    logz = m + np.log(np.exp(alpha - m[:, None]).sum(axis=1))

    gold = np.zeros(B, dtype=np.float64)
    for b, (e, p) in enumerate(zip(emissions_list, paths)):
        n = e.shape[0]
        if n == 0:
            continue
        p = np.asarray(p[:n])
        gold[b] = _START[p[0]] + e[np.arange(n), p].sum()
        if n > 1:
            gold[b] += _TRANS[p[:-1], p[1:]].sum()
    has = lens > 0
    out[has] = (logz - gold)[has]
    return out.tolist()


def crf_nll(
    df: DataFrame,
    text_col: str = "text",
    labels_col: str = "bio_labels",
    surfaces: list | None = None,
) -> DataFrame:
    """Per-row CRF NLL of a gold BIO label sequence under the surrogate
    emission model (CRF/modeling_bert.py:85-94: ``-crf(emissions, tags)``).

    Input rows: (text, bio_labels array<string>); output adds ``nll``
    double. One vectorized pandas pass per Arrow batch — emissions are
    looked up in the broadcast gazetteer's emission table exactly as the
    tagger does.
    """
    import pandas as pd

    from kgp.functions.surrogate import (
        LABELS,
        build_tagger_params,
        emission_rows,
        emission_table,
        tokenize_batch,
    )

    spark = df.sparkSession
    params_b = spark.sparkContext.broadcast(build_tagger_params(surfaces or []))
    lab_idx = {l: i for i, l in enumerate(LABELS)}
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", nll double"

    def run(batches):
        vocab, table = emission_table(*params_b.value)
        for pdf in batches:
            toks = tokenize_batch(pdf[text_col])
            ems = [table[emission_rows(t, vocab)] for t in toks]
            # pad/truncate labels to the tokenized length (the reference
            # pads tag sequences to the encoded length the same way)
            paths = [
                ([lab_idx.get(l, 0) for l in (labs if labs is not None else [])] + [0] * len(tk))[: len(tk)]
                for labs, tk in zip(pdf[labels_col].tolist(), toks)
            ]
            pdf = pdf.copy()
            pdf["nll"] = pd.Series(crf_nll_batch(ems, paths), index=pdf.index)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# TransR KG loss (KGAT-pytorch/model/KGAT.py:132-162, Equations 1-2)
# ---------------------------------------------------------------------------


def transr_scores(
    spark, batch: DataFrame, ent_emb, rel_emb, rel_w
) -> DataFrame:
    """Per-triple TransR plausibility scores for a (h, r, pos_t, neg_t)
    batch (KGAT-pytorch/model/KGAT.py:132-156):

        r_mul_x   = W_r e_x          (projection onto relation r's plane)
        pos_score = || r_mul_h + e_r - r_mul_pos_t ||^2   (Equation 1)
        neg_score = || r_mul_h + e_r - r_mul_neg_t ||^2
        l2_row    = (|r_mul_h|^2 + |e_r|^2 + |r_mul_pos|^2 + |r_mul_neg|^2)/2

    One batched pandas UDF over the batch table with the embedding
    tensors broadcast once per executor (same dataflow as
    ``kgp.stages.graph.kgat_attention``); everything downstream of the
    projections is built-in column math. ent_emb: (n_ent, d); rel_emb:
    (n_rel, d_r); rel_w: (n_rel, d_r, d) — the row convention the
    attention op certifies (``r_mul_x[i] = sum_j W_r[i][j] x[j]``).
    """
    import pandas as pd

    bc = spark.sparkContext.broadcast(
        (np.asarray(ent_emb), np.asarray(rel_emb), np.asarray(rel_w))
    )

    @F.pandas_udf("pos_score double, neg_score double, l2_row double")
    def sc(h, r, pos_t, neg_t):
        E, R, W = bc.value
        hv = E[h.to_numpy()]
        pv = E[pos_t.to_numpy()]
        nv = E[neg_t.to_numpy()]
        ri = r.to_numpy()
        Wr = W[ri]  # (B, d_r, d)
        re = R[ri]  # (B, d_r)
        mh = np.einsum("bij,bj->bi", Wr, hv)
        mp = np.einsum("bij,bj->bi", Wr, pv)
        mn = np.einsum("bij,bj->bi", Wr, nv)
        pos = ((mh + re - mp) ** 2).sum(axis=1)
        neg = ((mh + re - mn) ** 2).sum(axis=1)
        l2 = (
            (mh**2).sum(axis=1)
            + (re**2).sum(axis=1)
            + (mp**2).sum(axis=1)
            + (mn**2).sum(axis=1)
        ) / 2.0
        return pd.DataFrame({"pos_score": pos, "neg_score": neg, "l2_row": l2})

    s = sc("h", "r", "pos_t", "neg_t")
    return batch.select(
        "h", "r", "pos_t", "neg_t",
        s["pos_score"].alias("pos_score"),
        s["neg_score"].alias("neg_score"),
        s["l2_row"].alias("l2_row"),
    )


def transr_kg_loss(scored: DataFrame, l2_lambda: float = 1e-5) -> DataFrame:
    """-> 1 row (n, kg_loss, l2_loss, loss) from a :func:`transr_scores`
    table (KGAT-pytorch/model/KGAT.py:152-161, Equation 2):

        kg_loss = mean(-logsigmoid(neg_score - pos_score))
                = mean(softplus(pos_score - neg_score))
        l2_loss = mean(l2_row)        (the four _L2_loss_mean terms folded
                                       into one per-row sum; KGAT.py:9-10)
        loss    = kg_loss + l2_lambda * l2_loss

    Softplus in the max-shifted stable form (``max(d,0)+log1p(exp(-|d|))``)
    — identical to :func:`bpr_loss` and its certified SQL twin.
    """
    d = F.col("pos_score") - F.col("neg_score")
    row = F.greatest(d, F.lit(0.0)) + F.log1p(F.exp(-F.abs(d)))
    return (
        scored.select(row.alias("_l"), "l2_row")
        .agg(
            F.count("*").alias("n"),
            F.avg("_l").alias("_kg"),
            F.avg("l2_row").alias("_l2"),
        )
        .select(
            "n",
            F.round("_kg", 6).alias("kg_loss"),
            F.round("_l2", 6).alias("l2_loss"),
            F.round(F.col("_kg") + F.lit(l2_lambda) * F.col("_l2"), 6).alias("loss"),
        )
    )
