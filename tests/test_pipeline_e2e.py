"""Differential end-to-end: Spark pipeline vs single-process oracle
(SURVEY.md §5.2-2). Gate: triple P/R >= 0.95; expected 1.0 at this scale.
Also verifies the per-turn text-equality invariant (input_hint)."""

import pytest

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA, make_gazetteer, make_transcripts
from kgp.oracle import oracle_pipeline
from kgp.stages.pipeline import fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=40, n_entities=48)


@pytest.fixture(scope="module")
def results(spark):
    rows = make_transcripts(FX, make_gazetteer(FX))
    transcripts = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    out = run_pipeline(spark, transcripts, model)
    gold = oracle_pipeline(rows, make_gazetteer(FX))
    return rows, out, gold


def _prf(pred: set, gold: set):
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 1.0
    r = tp / len(gold) if gold else 1.0
    return p, r


def test_per_turn_text_equality(spark, results):
    from kgp.stages.assemble import explode_documents

    rows, out, _ = results
    back = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["role"], r["tool"])
        for r in explode_documents(out["documents"]).collect()
    }
    assert len(back) == len(rows)
    for r in rows:
        assert back[(r["conv_id"], r["turn_idx"])] == (r["text"], r["role"], r["tool"])


def test_mentions_match_oracle(results):
    _, out, gold = results
    pred = {
        (m["conv_id"], m["turn_idx"], m["start"], m["end"], m["mention"], m["label"], m["mention_id"])
        for m in out["mentions"].collect()
    }
    want = {
        (m["conv_id"], m["turn_idx"], m["start"], m["end"], m["mention"], m["label"], m["mention_id"])
        for m in gold["mentions"]
    }
    assert want, "oracle found no mentions — fixture signal broken"
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_relations_match_oracle(results):
    _, out, gold = results
    pred = {
        (x["conv_id"], x["head_mention_id"], x["tail_mention_id"], x["rel"])
        for x in out["relations"].collect()
    }
    want = {
        (x["conv_id"], x["head_mention_id"], x["tail_mention_id"], x["rel"])
        for x in gold["relations"]
    }
    assert want
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_clusters_match_oracle(results):
    _, out, gold = results
    pred = {(c["mention_id"], c["cluster_id"]) for c in out["clusters"].collect()}
    want = {(c["mention_id"], c["cluster_id"]) for c in gold["clusters"]}
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_links_match_oracle(results):
    _, out, gold = results
    pred = {(l["cluster_id"], l["entity_id"]) for l in out["links"].collect()}
    want = {(l["cluster_id"], l["entity_id"]) for l in gold["links"]}
    assert want
    p, r = _prf(pred, want)
    assert p == 1.0 and r == 1.0, (p, r, list(pred ^ want)[:5])


def test_triples_match_oracle(results):
    _, out, gold = results
    pred = {
        (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
        for t in out["triples"].collect()
    }
    want = {
        (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
        for t in gold["triples"]
    }
    assert want, "oracle produced no triples — fixture signal broken"
    p, r = _prf(pred, want)
    assert p >= 0.95 and r >= 0.95, (p, r, list(pred ^ want)[:5])
    assert p == 1.0 and r == 1.0  # expected exact at this scale


def test_edges_match_oracle(results):
    _, out, gold = results
    pred = sorted((e["h"], e["r"], e["t"]) for e in out["edges"].collect())
    want = sorted(gold["edges"])
    assert pred == want


def test_cluster_ids_are_min_mention_id(results):
    _, out, _ = results
    rows = out["clusters"].collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["mention_id"])
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_no_hit_input_yields_empty_outputs(spark):
    """A transcript with no gazetteer hit gives zero rows everywhere: the
    tagger's Arrow batches that carry no mention must not crash."""
    t = spark.createDataFrame(
        [("c0", 0, "user", "hello plain words here", None, None)], schema=TRANSCRIPT_SCHEMA
    )
    out = run_pipeline(spark, t, fixture_model(spark, FX))
    assert out["documents"].count() == 1
    counts = {k: v.count() for k, v in out.items() if k != "documents"}
    assert counts == dict.fromkeys(counts, 0)


def _leaves(plan) -> list:
    kids = plan.children()
    if kids.size() == 0:
        return [plan]
    return [leaf for i in range(kids.size()) for leaf in _leaves(kids.apply(i))]


def test_links_read_only_the_clusters_pin(spark):
    """Linking reads each cluster's surfaces from the clusters pin, which
    carries the member's mention, and probes the broadcast dictionary: the
    clusters pin is the links plan's only leaf, no mention (tagged) pin
    and no dictionary table."""
    from kgp.reuse import local_reuse
    from kgp.stages.pipeline import extract_triples

    fx = FixtureConfig(n_conversations=10, n_entities=24)
    transcripts = spark.createDataFrame(make_transcripts(fx, make_gazetteer(fx)), TRANSCRIPT_SCHEMA)
    pins = {}

    def record(df, name):
        pins[name] = local_reuse(df)
        return pins[name]

    out = extract_triples(spark, transcripts, fixture_model(spark, fx), DEFAULT_CONFIG, record)
    assert out["links"].count() > 0

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    leaves = _leaves(out["links"]._jdf.queryExecution().analyzed())
    assert {leaf.nodeName() for leaf in leaves} == {"LogicalRDD"}
    assert {leaf.rdd().id() for leaf in leaves} == {rdd_id(pins["clusters"])}


def test_triples_pin_job_budget(spark, results):
    """Materializing the ``triples`` pin over the pinned relations and
    clusters runs at most 11 Spark jobs."""
    from kgp.reuse import local_reuse
    from kgp.stages.linking import build_alias_artifacts, cluster_surfaces, link_clusters
    from kgp.stages.triples import assemble_triples

    _, out, gold = results
    alias_art = build_alias_artifacts(fixture_model(spark, FX).alias_dict, DEFAULT_CONFIG)
    sc = spark.sparkContext
    group = "triples-pin-jobs"
    sc.setJobGroup(group, "materialize the triples pin")
    try:
        links, _ = link_clusters(cluster_surfaces(out["clusters"]), alias_art, DEFAULT_CONFIG)
        triples = local_reuse(assemble_triples(out["relations"], out["clusters"], links), "triples")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11
    assert triples.count() == len(gold["triples"])


def _rowset(df, cols):
    return {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.select(cols).collect()}


def test_null_keys_and_duplicate_rows_leave_no_trace(spark):
    """Rows with a NULL ``conv_id`` or ``turn_idx`` belong to no turn, and
    an exact duplicate row repeats a turn: the pipeline over such input
    gives the same triples and the same distinct relations as over the
    input with the NULL-key rows removed, and no relation has a NULL key."""
    fx = FixtureConfig(n_conversations=20, n_entities=30)
    rows = make_transcripts(fx, make_gazetteer(fx))
    for i, r in enumerate(rows[:60]):
        r["conv_id" if i < 40 else "turn_idx"] = None
    rows += [dict(r) for r in rows[20:120]]
    keyed = [r for r in rows if r["conv_id"] is not None and r["turn_idx"] is not None]
    model = fixture_model(spark, fx)

    def outputs(rs):
        out = run_pipeline(spark, spark.createDataFrame(rs, schema=TRANSCRIPT_SCHEMA), model)
        return _rowset(out["triples"], out["triples"].columns), out["relations"]

    triples, relations = outputs(rows)
    want_triples, want_relations = outputs(keyed)
    assert triples and triples == want_triples
    cols = relations.columns
    assert _rowset(relations, cols) == _rowset(want_relations, cols)
    assert relations.where("conv_id IS NULL OR turn_idx IS NULL").count() == 0


def test_tagged_and_relations_ignore_input_partitioning(spark):
    """The tagger's turn rows and the relations formed inside them do not
    depend on how the transcripts are partitioned (1 vs 12 partitions)."""
    from kgp.stages.mentions import tag_turns
    from kgp.stages.pairs import re_pairs
    from kgp.stages.relations import classify_relations

    rows = make_transcripts(FX, make_gazetteer(FX))
    transcripts = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    surfaces = fixture_model(spark, FX).surfaces

    def snapshot(n):
        turns = transcripts.repartition(n)
        tagged = tag_turns(spark, turns, surfaces, DEFAULT_CONFIG).localCheckpoint()
        relations = classify_relations(re_pairs(tagged, DEFAULT_CONFIG), DEFAULT_CONFIG)
        return [sorted(map(repr, df.collect())) for df in (tagged, relations)]

    one, twelve = snapshot(1), snapshot(12)
    assert one[0] and one[1]
    assert one == twelve
