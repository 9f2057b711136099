"""Tests for P7/P8/P9 encoding ops, F3 biaffine detector, F7 attention,
A13/J7 helpers."""

import numpy as np
import pytest

from kgp.functions.encoding import (
    HEAD_CLOSE,
    HEAD_OPEN,
    HEAD_REPL,
    TAIL_OPEN,
    TAIL_REPL,
    detect_spans_biaffine,
    flat_ner_decode,
    insert_entity_markers,
    rel_position_ids,
    subtoken_labels,
)


def test_subtoken_labels_schemes():
    # words: "new" (B-LOC, 1 piece), "york" (I-LOC, 2 pieces), "rocks" (O, 2 pieces)
    labels = ["B-LOC", "I-LOC", "O"]
    pieces = [1, 2, 2]
    assert subtoken_labels(labels, pieces, "v1") == ["B-LOC", "I-LOC", "I-LOC", "O", "O"]
    assert subtoken_labels(labels, pieces, "v2") == ["B-LOC", "I-LOC", "O", "O", "O"]
    assert subtoken_labels(labels, pieces, "v3") == ["B-LOC", "I-LOC", "PAD", "O", "PAD"]
    with pytest.raises(ValueError):
        subtoken_labels(labels, pieces, "v9")


def test_insert_entity_markers():
    toks = ["a", "H1", "H2", "b", "T1", "c"]
    out, h, t = insert_entity_markers(toks, (1, 3), (4, 5), "v1")
    assert out == toks and h == (1, 3) and t == (4, 5)
    out, h, t = insert_entity_markers(toks, (1, 3), (4, 5), "v2")
    assert out == ["a", HEAD_OPEN, "H1", "H2", HEAD_CLOSE, "b", TAIL_OPEN, "T1", "[unused3]", "c"]
    assert out[h[0]] == HEAD_OPEN and out[t[0]] == TAIL_OPEN
    out, h, t = insert_entity_markers(toks, (1, 3), (4, 5), "v3")
    assert out == ["a", HEAD_REPL, "b", TAIL_REPL, "c"]
    assert h == (1, 2) and t == (3, 4)
    # tail before head in the sentence
    out2, h2, t2 = insert_entity_markers(toks, (4, 5), (1, 3), "v3")
    assert out2 == ["a", TAIL_REPL, "b", HEAD_REPL, "c"]
    assert h2 == (3, 4) and t2 == (1, 2)


def test_rel_position_ids():
    assert rel_position_ids(6, (1, 3), (4, 5)) == [0, 1, 1, 0, 2, 0]


def test_flat_ner_decode_overlap_pruning():
    cands = [(0, 3, "ORG", 1.02), (1, 2, "PER", 1.0), (4, 5, "LOC", 1.0)]
    assert flat_ner_decode(cands) == [(0, 3, "ORG"), (4, 5, "LOC")]


def test_biaffine_matches_crf_detector():
    from kgp.functions.surrogate import build_tagger_params, detect_spans, tokenize

    surfaces = [("acme corp", "ORG"), ("acme", "ORG"), ("bob smith", "PER"), ("rivertown", "LOC")]
    b, i = build_tagger_params(surfaces)
    for text in [
        "the acme corp hired bob smith in rivertown .",
        "acme ships to rivertown",
        "bob smith bob smith acme",
        "no entities at all",
    ]:
        toks = tokenize(text)
        assert detect_spans_biaffine(toks, b, i) == sorted(detect_spans(toks, b, i)), text


def test_pipeline_with_biaffine_tagger(spark):
    """The F3 detector slots behind the same interface and produces the
    same mentions on fixture data."""
    from kgp.config import FixtureConfig
    from kgp.fixtures import TRANSCRIPT_SCHEMA, make_transcripts
    from kgp.stages.mentions import detect_mentions
    from kgp.stages.pipeline import fixture_model

    fx = FixtureConfig(n_conversations=15, n_entities=24)
    t = spark.createDataFrame(make_transcripts(fx), TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, fx)
    a = {tuple(r) for r in detect_mentions(spark, t, model.surfaces, tagger="crf").collect()}
    b = {tuple(r) for r in detect_mentions(spark, t, model.surfaces, tagger="biaffine").collect()}
    assert a and a == b


def test_kgat_attention(spark):
    from kgp.stages.graph import edge_softmax, kgat_attention

    rng = np.random.default_rng(3)
    E, R, W = rng.normal(size=(5, 4)), rng.normal(size=(2, 3)), rng.normal(size=(2, 3, 4))
    edges = spark.createDataFrame([(0, 0, 1), (1, 1, 2), (3, 0, 1)], "h long, r int, t long")
    out = kgat_attention(spark, edges, E, R, W).collect()
    for row in out:
        wr = W[row["r"]]
        want = float(np.tanh(wr @ E[row["h"]] + R[row["r"]]) @ (wr @ E[row["t"]]))
        assert row["score"] == pytest.approx(want)
    sm = edge_softmax(kgat_attention(spark, edges, E, R, W))
    att_by_t = {}
    for r in sm.collect():
        att_by_t.setdefault(r["t"], []).append(r["att"])
    for t, atts in att_by_t.items():
        assert sum(atts) == pytest.approx(1.0)


def _python_udf_rows(df) -> int:
    """Rows the Python UDFs of an executed query received, summed over the
    ``ArrowEvalPython`` nodes of its final adaptive plan (a reused exchange
    runs nothing, so it is not descended)."""

    def walk(node):
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        if name == "ReusedExchange":
            return 0
        metric = node.metrics().get("pythonNumRowsReceived")
        n = metric.get().value() if name == "ArrowEvalPython" and metric.isDefined() else 0
        kids = node.children()
        return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().executedPlan())


def test_kgat_attention_scores_distinct_edges_only(spark):
    """Over a deduplicated edge table the attention UDF runs on the distinct
    edges only: edge_softmax reads the scores three times (max, shift,
    normalizer), so at most 3 UDF rows per edge, however many duplicate
    input rows the distinct removed."""
    from kgp.stages.graph import edge_softmax, kgat_attention

    rng = np.random.default_rng(0)
    E, R, W = rng.normal(size=(6, 4)), rng.normal(size=(2, 3)), rng.normal(size=(2, 3, 4))
    edges = [(h, r, t) for h in range(6) for r in range(2) for t in range(6) if (h + r + t) % 3 == 0]
    raw = spark.createDataFrame(edges * 10, "h long, r int, t long")
    out = edge_softmax(kgat_attention(spark, raw.distinct(), E, R, W))
    assert len(out.collect()) == len(edges)  # executes out's own plan
    assert 0 < _python_udf_rows(out) <= 3 * len(edges)


def test_edge_softmax_large_scores_stable(spark):
    """Max-shifted softmax: raw exp overflows float64 past ~709 (the
    reference helper.py:11-23 form); the shifted form must stay finite
    and exact."""
    import math

    from kgp.stages.graph import edge_softmax

    edges = spark.createDataFrame(
        [(0, 7, 1000.0), (1, 7, 999.0), (2, 7, -1000.0), (3, 8, 800.0)],
        "h long, t long, score double",
    )
    rows = {r["h"]: r["att"] for r in edge_softmax(edges).collect()}
    assert all(math.isfinite(v) for v in rows.values())
    # exact softmax of [1000, 999, -1000] via the same shift
    z = 1.0 + math.exp(-1.0) + math.exp(-2000.0)
    assert rows[0] == pytest.approx(1.0 / z)
    assert rows[1] == pytest.approx(math.exp(-1.0) / z)
    assert rows[3] == pytest.approx(1.0)


def test_dedup_within_group_and_mask(spark):
    from kgp.ops.dedup import dedup_within_group
    from kgp.stages.graph import mask_train_interactions

    df = spark.createDataFrame(
        [("m", "e1", 0.9), ("m", "e1", 0.8), ("m", "e2", 0.7)], "mention string, ent string, s double"
    )
    out = dedup_within_group(df, ["mention", "ent"], ["s"])
    assert out.count() == 2 and {r["s"] for r in out.collect()} == {0.8, 0.7}
    scores = spark.createDataFrame([(1, "a", 0.5), (1, "b", 0.4)], "user long, item string, s double")
    train = spark.createDataFrame([(1, "a")], "user long, item string")
    masked = mask_train_interactions(scores, train)
    assert [r["item"] for r in masked.collect()] == ["b"]


def test_subtokenize_shape():
    from kgp.functions.encoding import subtokenize

    pieces, n_pieces = subtokenize(["hi", "tokenizer", "spark"], max_piece=4)
    assert pieces == ["hi", "toke", "##nize", "##r", "spar", "##k"]
    assert n_pieces == [1, 3, 2]


def test_subtoken_label_roundtrip_all_schemes():
    from kgp.functions.encoding import (
        collapse_subtoken_labels,
        subtoken_labels,
        subtokenize,
    )
    from kgp.functions.surrogate import bio_decode, bio_encode

    toks = ["the", "acme", "corporation", "ships", "widgets", "to", "metropolis"]
    spans = [(1, 3, "ORG"), (6, 7, "LOC")]
    word_labels = bio_encode(len(toks), spans)
    _, n_pieces = subtokenize(toks, max_piece=4)
    for scheme in ("v1", "v2", "v3"):
        sub = subtoken_labels(word_labels, n_pieces, scheme)
        assert len(sub) == sum(n_pieces)
        back = collapse_subtoken_labels(sub, n_pieces, scheme)
        assert back == word_labels
        assert bio_decode(back) == spans


def test_kgat_cf_embedding_matches_numpy(spark):
    """Stacked cf_embedding (KGAT-pytorch/model/KGAT.py:164-176, Eq 11):
    dense numpy message passing (att-weighted neighbor sum -> bi-interaction
    -> L2 normalize -> concat with ego) vs the relational long-form op."""
    from kgp.stages.graph import kgat_cf_embedding

    rng = np.random.default_rng(11)
    n, d = 6, 4
    dims = [d, 3, 2]
    E = rng.normal(size=(n, d))
    layers = [
        (rng.normal(size=(dims[k], dims[k + 1])), rng.normal(size=(dims[k], dims[k + 1])))
        for k in range(2)
    ]
    raw_edges = [(0, 1, 0.6), (0, 2, 0.4), (2, 1, 1.0), (4, 5, 1.0), (5, 4, 0.3), (5, 0, 0.7)]
    edges = spark.createDataFrame(raw_edges, "h long, t long, att double")

    def leaky(x):
        return np.where(x > 0, x, 0.2 * x)

    cur = E
    want_parts = [E]
    for w1, w2 in layers:
        msgs = np.zeros_like(cur)
        for h, t, att in raw_edges:
            msgs[h] += att * cur[t]
        out = leaky((cur + msgs) @ w1) + leaky((cur * msgs) @ w2)
        nrm = np.maximum(np.sqrt((out**2).sum(axis=1)), 1e-12)
        cur = out / nrm[:, None]
        want_parts.append(cur)
    want = np.concatenate(want_parts, axis=1)

    got = kgat_cf_embedding(spark, edges, E, layers).collect()
    assert len(got) == n * want.shape[1]
    for row in got:
        assert row["val"] == pytest.approx(want[row["h"], row["k"]]), (row["h"], row["k"])

    # cf_score (KGAT.py:179-193, Eq 12) on top of the same embedding:
    # users {0, 3}, items {1, 2, 4} -> full dot-product matrix
    from pyspark.sql import functions as F
    from kgp.stages.graph import kgat_cf_score

    all_embed = kgat_cf_embedding(spark, edges, E, layers)
    users = spark.createDataFrame([(0,), (3,)], "user long")
    items = spark.createDataFrame([(1,), (2,), (4,)], "item long")
    scores = kgat_cf_score(all_embed, users, items).collect()
    assert len(scores) == 6
    for row in scores:
        assert row["score"] == pytest.approx(float(want[row["user"]] @ want[row["item"]]))


def test_kgat_aggregate_variants_match_numpy(spark):
    """All three reference aggregators (KGAT-pytorch/model/KGAT.py:38-64
    ``aggregation_type`` in {gcn, graphsage, bi-interaction}) vs direct
    numpy message passing over the same softmaxed edge table."""
    from kgp.stages.graph import kgat_aggregate

    rng = np.random.default_rng(13)
    n, d, d_out = 5, 4, 3
    E = rng.normal(size=(n, d))
    w1 = rng.normal(size=(d, d_out))
    w2 = rng.normal(size=(d, d_out))
    raw_edges = [(0, 1, 0.6), (0, 2, 0.4), (2, 1, 1.0), (3, 4, 1.0)]
    edges = spark.createDataFrame(raw_edges, "h long, t long, att double")
    msgs = np.zeros_like(E)
    for h, t, att in raw_edges:
        msgs[h] += att * E[t]

    def leaky(x):
        return np.where(x > 0, x, 0.2 * x)

    wants = {
        "bi-interaction": leaky((E + msgs) @ w1) + leaky((E * msgs) @ w2),
        "gcn": leaky((E + msgs) @ w1),
        "graphsage": leaky(E @ w1 + msgs @ w2),
    }
    for agg, want in wants.items():
        got = kgat_aggregate(
            spark, edges, E, w1, None if agg == "gcn" else w2, aggregator=agg
        ).collect()
        assert len(got) == n * d_out, agg
        for row in got:
            assert row["e_out"] == pytest.approx(want[row["h"], row["j"]]), (agg, row)
    with pytest.raises(ValueError):
        kgat_aggregate(spark, edges, E, w1, w2, aggregator="mean")


def test_kgat_cf_embedding_gcn_variant(spark):
    """cf_embedding threads the aggregator choice through every stacked
    layer (KGAT-pytorch/model/KGAT.py:17-32 user-facing option)."""
    from kgp.stages.graph import kgat_cf_embedding

    rng = np.random.default_rng(19)
    n, d, d_out = 4, 3, 2
    E = rng.normal(size=(n, d))
    w1 = rng.normal(size=(d, d_out))
    w2 = rng.normal(size=(d, d_out))  # ignored by gcn
    raw_edges = [(0, 1, 1.0), (2, 3, 0.5), (2, 0, 0.5)]
    edges = spark.createDataFrame(raw_edges, "h long, t long, att double")
    msgs = np.zeros_like(E)
    for h, t, att in raw_edges:
        msgs[h] += att * E[t]
    out = np.where((E + msgs) @ w1 > 0, (E + msgs) @ w1, 0.2 * ((E + msgs) @ w1))
    nrm = np.maximum(np.sqrt((out**2).sum(axis=1)), 1e-12)
    want = np.concatenate([E, out / nrm[:, None]], axis=1)
    got = kgat_cf_embedding(spark, edges, E, [(w1, w2)], aggregator="gcn").collect()
    assert len(got) == n * (d + d_out)
    for row in got:
        assert row["val"] == pytest.approx(want[row["h"], row["k"]])


def test_kgat_cf_loss_matches_numpy(spark):
    """calc_cf_loss (KGAT-pytorch/model/KGAT.py:195-219, Eq 12-13) vs
    direct numpy over a long-form embedding; duplicate batch rows (the
    reference samples with replacement) must count twice in the means."""
    from kgp.stages.graph import kgat_cf_loss

    rng = np.random.default_rng(17)
    n, dk = 6, 5
    M = rng.normal(size=(n, dk))
    all_embed = spark.createDataFrame(
        [(h, k, float(M[h, k])) for h in range(n) for k in range(dk)],
        "h long, k int, val double",
    )
    rows = [(0, 1, 2), (3, 4, 5), (2, 0, 4), (0, 1, 2)]  # note the duplicate
    batch = spark.createDataFrame(rows, "user long, pos_item long, neg_item long")
    lam = 1e-4
    sp = [
        float(np.logaddexp(0.0, M[u] @ M[ng] - M[u] @ M[p])) for u, p, ng in rows
    ]
    l2 = [
        float((M[u] @ M[u] + M[p] @ M[p] + M[ng] @ M[ng]) / 2) for u, p, ng in rows
    ]
    cf, l2m = np.mean(sp), np.mean(l2)
    out = kgat_cf_loss(all_embed, batch, l2_lambda=lam).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n"] == 4
    assert row["cf_loss"] == pytest.approx(cf, abs=2e-6)
    assert row["l2_loss"] == pytest.approx(l2m, abs=2e-6)
    assert row["loss"] == pytest.approx(cf + lam * l2m, abs=2e-6)


def test_transr_scores_and_loss_match_numpy(spark):
    """calc_kg_loss (KGAT-pytorch/model/KGAT.py:132-162, Eq 1-2) vs a
    direct numpy evaluation of the same batch."""
    from kgp.functions.losses import transr_kg_loss, transr_scores

    rng = np.random.default_rng(7)
    E, R, W = rng.normal(size=(6, 4)), rng.normal(size=(3, 2)), rng.normal(size=(3, 2, 4))
    rows = [(0, 0, 1, 2), (3, 1, 4, 5), (2, 2, 0, 3), (5, 0, 5, 1)]
    batch = spark.createDataFrame(rows, "h long, r int, pos_t long, neg_t long")
    got = {
        (r["h"], r["r"], r["pos_t"], r["neg_t"]): r
        for r in transr_scores(spark, batch, E, R, W).collect()
    }
    kg_terms, l2_terms = [], []
    for h, r, p, ng in rows:
        mh, mp, mn = W[r] @ E[h], W[r] @ E[p], W[r] @ E[ng]
        pos = float(((mh + R[r] - mp) ** 2).sum())
        neg = float(((mh + R[r] - mn) ** 2).sum())
        l2 = float((mh**2).sum() + (R[r] ** 2).sum() + (mp**2).sum() + (mn**2).sum()) / 2
        row = got[(h, r, p, ng)]
        assert row["pos_score"] == pytest.approx(pos)
        assert row["neg_score"] == pytest.approx(neg)
        assert row["l2_row"] == pytest.approx(l2)
        kg_terms.append(np.logaddexp(0.0, pos - neg))
        l2_terms.append(l2)
    lam = 1e-4
    loss_row = transr_kg_loss(transr_scores(spark, batch, E, R, W), l2_lambda=lam).first()
    assert loss_row["n"] == len(rows)
    assert loss_row["kg_loss"] == pytest.approx(np.mean(kg_terms), abs=1e-6)
    assert loss_row["loss"] == pytest.approx(np.mean(kg_terms) + lam * np.mean(l2_terms), abs=1e-6)
