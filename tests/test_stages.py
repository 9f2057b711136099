"""Stage-level tests: batch Viterbi parity, union-find clusters match the
known components, lineage resume, skew handling (SURVEY.md §5.2-3/4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgp.functions.surrogate import LABELS, batch_viterbi, viterbi


@given(st.integers(0, 10**9))
@settings(max_examples=25, deadline=None)
def test_batch_viterbi_matches_single(seed):
    rng = np.random.default_rng(seed)
    ems = [rng.normal(size=(int(rng.integers(0, 9)), len(LABELS))) for _ in range(6)]
    assert batch_viterbi(ems) == [viterbi(e) for e in ems]


def test_batch_viterbi_empty():
    assert batch_viterbi([]) == []
    assert batch_viterbi([np.zeros((0, len(LABELS)))]) == [[]]


@pytest.fixture(scope="module")
def mention_graph(spark):
    """Synthetic mention/edge tables with known components."""
    mentions = spark.createDataFrame(
        [("c1", i) for i in range(1, 8)] + [("c2", 10), ("c2", 11)],
        "conv_id string, mention_id long",
    )
    edges = spark.createDataFrame(
        [("c1", 1, 2), ("c1", 2, 3), ("c1", 5, 6), ("c2", 10, 11)],
        "conv_id string, src long, dst long",
    )
    return mentions, edges


def test_unionfind_vs_hashmin(mention_graph):
    from kgp.stages.coref import cluster_unionfind

    mentions, edges = mention_graph
    a = {(r["mention_id"], r["cluster_id"]) for r in cluster_unionfind(mentions, edges).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7), (10, 10), (11, 10)}
    assert a == want


def test_unionfind_build_runs_no_job(spark, mention_graph):
    """Building the union-find plan launches no Spark job: the bucket
    count is a constant, not sized from the input."""
    from kgp.stages.coref import cluster_unionfind

    mentions, edges = mention_graph
    sc = spark.sparkContext
    group = "unionfind-build-no-job"
    sc.setJobGroup(group, "build cluster_unionfind")
    try:
        cluster_unionfind(mentions, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _fixture_tagged(spark):
    from kgp.config import DEFAULT_CONFIG, FixtureConfig
    from kgp.fixtures import transcripts_df
    from kgp.stages.mentions import tag_turns
    from kgp.stages.pipeline import fixture_model

    fx = FixtureConfig(n_conversations=10, n_entities=20)
    model = fixture_model(spark, fx)
    tagged = tag_turns(spark, transcripts_df(spark, fx), model.surfaces, DEFAULT_CONFIG)
    return model, tagged.localCheckpoint()


def _plan(df):
    return df._jdf.queryExecution().sparkPlan().toString()


def test_relation_scorer_runs_once_per_pair(spark):
    """A filter on a scorer's output must not re-run the scorer: one Python
    evaluation node in the physical plan of the relation classifier ("Other"
    filter); linking scores and filters inside its one ``MapInPandas``
    probe (``score > θ``), with no Python evaluation node."""
    from kgp.config import DEFAULT_CONFIG
    from kgp.stages.linking import build_alias_artifacts, link_clusters
    from kgp.stages.pairs import re_pairs
    from kgp.stages.relations import classify_relations

    model, tagged = _fixture_tagged(spark)
    rel = classify_relations(re_pairs(tagged, DEFAULT_CONFIG), DEFAULT_CONFIG)
    surfaces = spark.createDataFrame([(1, "acme corp")], "cluster_id long, surface string")
    links, _ = link_clusters(
        surfaces, build_alias_artifacts(model.alias_dict, DEFAULT_CONFIG), DEFAULT_CONFIG
    )
    assert _plan(rel).count("ArrowEvalPython") == 1
    assert (_plan(links).count("MapInPandas"), _plan(links).count("ArrowEvalPython")) == (1, 0)


def test_relations_pair_inside_the_turn_row(spark):
    """Over a pinned ``tagged``, the relations query forms its pairs and
    between-slices inside each turn row: no shuffle and no join, one
    explode and one scorer evaluation; materializing it runs one job."""
    from kgp.config import DEFAULT_CONFIG
    from kgp.reuse import local_reuse
    from kgp.stages.pairs import re_pairs
    from kgp.stages.relations import classify_relations
    from tools.explain_audit import node_counts

    _, tagged = _fixture_tagged(spark)
    rel = classify_relations(re_pairs(tagged, DEFAULT_CONFIG), DEFAULT_CONFIG)
    plan = spark._jvm.PythonSQLUtils.explainString(rel._jdf.queryExecution(), "formatted")
    c = node_counts(plan)
    assert (c["exchange"], c["smj"], c["bhj"]) == (0, 0, 0)
    assert (c["generate"], c["pyEval"]) == (1, 1)

    sc = spark.sparkContext
    group = "relations-pin-one-job"
    sc.setJobGroup(group, "materialize the relations pin")
    try:
        pinned = local_reuse(rel, "relations")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert pinned.count() > 0


def _fixture_coref_pairs(spark):
    from kgp.config import DEFAULT_CONFIG
    from kgp.stages.mentions import mentions_from_tagged
    from kgp.stages.pairs import coref_pairs

    model, tagged = _fixture_tagged(spark)
    return model, coref_pairs(mentions_from_tagged(tagged), DEFAULT_CONFIG)


def test_coref_scorer_one_pass_plan(spark):
    """The banded pair join runs once and the coref scorer reads its rows
    in the same stream: one ``Generate`` (the band explode) and one Python
    evaluation node in the plan of the positive coref edges."""
    from kgp.stages.coref import positive_edges, score_coref_pairs

    model, pairs = _fixture_coref_pairs(spark)
    edges = positive_edges(score_coref_pairs(spark, pairs, model.surface_groups))
    plan = _plan(edges)
    assert plan.count("Generate explode") == 1
    assert plan.count("ArrowEvalPython") == 1


def test_coref_scorer_keeps_type_consistent_pairs(spark):
    """Pairs whose labels differ never reach a cluster, so no such row
    leaves the scorer (the oracle skips them before scoring too)."""
    from pyspark.sql import functions as F

    from kgp.stages.coref import score_coref_pairs

    model, pairs = _fixture_coref_pairs(spark)
    mismatch = F.col("a_label") != F.col("b_label")
    assert pairs.where(mismatch).limit(1).count() == 1  # the fixture has some
    scored = score_coref_pairs(spark, pairs, model.surface_groups)
    assert scored.where(mismatch).count() == 0
    assert scored.count() == pairs.where(~mismatch).count()


@pytest.mark.parametrize("n", [2, 4])
def test_cross_encoder_uses_cfg_ngram_size(spark, n):
    """Linking scores candidates with char-n-grams of ``cfg.ngram_size``,
    as ``kgp.oracle.oracle_links`` does; at n != 3 a fixed n = 3 scorer
    disagrees with the oracle."""
    from kgp.config import PipelineConfig
    from kgp.functions.surrogate import jaccard
    from kgp.stages.linking import build_alias_artifacts, link_clusters

    pairs = [("initec grp", "initech group"), ("acme corp", "acme corporation")]
    alias_dict = spark.createDataFrame(
        [(a, a, "c", f"E-{i}") for i, (_, a) in enumerate(pairs)],
        "entity_name string, alias string, code string, entity_id string",
    )
    surfaces = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(pairs)], "cluster_id long, surface string"
    )
    cfg = PipelineConfig(ngram_size=n, link_threshold=0.0)
    _, cand = link_clusters(surfaces, build_alias_artifacts(alias_dict, cfg), cfg)
    got = {(r["surface"], r["alias"]): r["score"] for r in cand.collect()}
    assert set(pairs) <= set(got)
    assert got == {(s, a): jaccard(s, a, n) for s, a in got}


def test_lineage_resume(spark, tmp_path):
    from pyspark.sql import functions as F

    from kgp.lineage import LineageLog

    log = LineageLog(str(tmp_path), n_buckets=4)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(
            F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id"),
            F.col("id").alias("v"),
        )

    df1 = log.run_stage(spark, "stage_a", "fp1", build)
    assert calls["n"] == 1 and df1.count() == 100
    # same fingerprint -> skipped (resume path)
    df2 = log.run_stage(spark, "stage_a", "fp1", build)
    assert calls["n"] == 1 and df2.count() == 100
    # changed input -> rebuild
    log.run_stage(spark, "stage_a", "fp2", build)
    assert calls["n"] == 2
    # per-partition metrics recorded
    m = log.read_manifest("stage_a")
    assert m["rows_out"] == 100 and len(m["partitions"]) > 1
    assert log.skew_report("stage_a")["max"] >= 1


def test_assembly_skew_and_segmentation(spark):
    """One giant conversation among small ones: salted assembly produces
    segmented docs whose re-exploded turns equal the input exactly."""
    from kgp.config import PipelineConfig
    from kgp.stages.assemble import assemble_documents, explode_documents

    cfg = PipelineConfig(max_turns_per_doc=128)
    rows = [("big", i, "user", f"turn {i}", None) for i in range(1000)]
    rows += [(f"small-{j}", i, "user", f"s{j}-{i}", None) for j in range(50) for i in range(3)]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string")
    docs = assemble_documents(t, cfg)
    seg_counts = {r["conv_id"]: r["n"] for r in docs.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
    assert seg_counts["big"] == 1000 // 128 + 1  # segmented
    assert seg_counts["small-0"] == 1
    back = {(r["conv_id"], r["turn_idx"]): r["text"] for r in explode_documents(docs).collect()}
    assert len(back) == len(rows)
    for conv_id, turn_idx, _, text, _ in rows:
        assert back[(conv_id, turn_idx)] == text
    # turn order inside each doc is sorted
    for d in docs.where(docs.conv_id == "big").collect():
        idxs = [t["turn_idx"] for t in d["turns"]]
        assert idxs == sorted(idxs)


def test_coref_pairs_banding(spark):
    """Banded range-join produces exactly the gap<=W pair set."""
    from kgp.config import PipelineConfig
    from kgp.stages.pairs import coref_pairs

    cfg = PipelineConfig(coref_turn_window=3)
    rows = [("c", t, t, t + 1, f"m{t}", "PER", t * 100) for t in range(12)]
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, start int, end int, mention string, label string, mention_id long"
    )
    got = {(r["a_turn_idx"], r["b_turn_idx"]) for r in coref_pairs(m, cfg).collect()}
    want = {(a, b) for a in range(12) for b in range(12) if 0 < b - a <= 3}
    assert got == want


def test_idf_recall_ranking_on_skewed_dictionary(spark):
    """J1's IDF-weighted recall (BM25 stand-in): on a dictionary skewed
    with 1100 boilerplate '... ventures group' aliases, plain unweighted
    gram Jaccard ranks a boilerplate alias above the true entity for a
    surface sharing its RARE head grams; the IDF weighting flips that
    ranking (verified both by the pure-python formula and by the engine's
    surviving top-1 candidate)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from kgp.config import PipelineConfig
    from kgp.functions.surrogate import char_ngrams
    from kgp.stages.linking import build_alias_artifacts, link_clusters

    target = "kalzuqir holdings"
    surface = "kalzuqir ventures group"
    distractors = [f"q{i} ventures group" for i in range(1100)]
    aliases = [(target, "E-target")] + [(d, f"E-{i}") for i, d in enumerate(distractors)]

    # the unweighted ranking really is wrong on this dictionary
    sg = char_ngrams(surface)
    def unweighted(a):
        ag = char_ngrams(a)
        ov = len(sg & ag)
        return ov / (len(sg) + len(ag) - ov) if ov else 0.0
    assert unweighted(distractors[0]) > unweighted(target)

    alias_dict = spark.createDataFrame(
        [(a, a, "c", eid) for a, eid in aliases],
        "entity_name string, alias string, code string, entity_id string",
    )
    surfaces = spark.createDataFrame([(1, surface)], "cluster_id long, surface string")
    cfg = PipelineConfig(recall_top_k=1, link_threshold=0.2)
    links, _ = link_clusters(surfaces, build_alias_artifacts(alias_dict, cfg), cfg)
    got = links.collect()
    assert len(got) == 1 and got[0]["entity_id"] == "E-target"


def test_unionfind_passes_member_columns_through(mention_graph):
    """The union-find returns its input mention rows with ``cluster_id``
    added: a column beyond the two it needs rides through unchanged, and
    the input's schema is left as it was."""
    from pyspark.sql import functions as F

    from kgp.stages.coref import cluster_unionfind

    mentions, edges = mention_graph
    members = mentions.withColumn(
        "mention", F.when(F.col("mention_id") != 4, F.concat(F.lit("m"), F.col("mention_id")))
    )
    before = members.schema.simpleString()
    out = cluster_unionfind(members, edges)
    assert out.columns == ["conv_id", "mention_id", "mention", "cluster_id"]
    assert members.schema.simpleString() == before
    got = {(r["mention_id"], r["mention"], r["cluster_id"]) for r in out.collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7), (10, 10), (11, 10)}
    assert got == {(m, None if m == 4 else f"m{m}", c) for m, c in want}


def test_unionfind_hard_cap(mention_graph, monkeypatch):
    """Clusters do not depend on the bucket count; a bucket past the
    per-bucket cap fails LOUDLY instead of an opaque executor OOM."""
    from kgp.stages import coref

    mentions, edges = mention_graph
    want = {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7), (10, 10), (11, 10)}
    # two buckets: both conversations may share one, with 7 + 2 mentions
    monkeypatch.setattr(coref, "UF_BUCKETS", 2)
    monkeypatch.setattr(coref, "UF_MAX_BUCKET_ROWS", 9)
    got = {
        (r["mention_id"], r["cluster_id"])
        for r in coref.cluster_unionfind(mentions, edges).collect()
    }
    assert got == want

    # conversation c1's 7 mentions alone exceed the cap: loud failure
    monkeypatch.setattr(coref, "UF_MAX_BUCKET_ROWS", 6)
    with pytest.raises(Exception, match="UF_MAX_BUCKET_ROWS=6"):
        coref.cluster_unionfind(mentions, edges).collect()


def test_stop_gram_cap_in_recall_join(spark):
    """J1 stop-gram cap: grams at the IDF floor (w == 1, df >= 2^15
    aliases) are cut from candidate generation. On a dictionary where
    33k aliases share a boilerplate suffix, the cap (a) fires on_drop
    with the floor-gram count, (b) kills candidates whose ONLY overlap is
    boilerplate, (c) leaves the informative-gram ranking untouched."""
    from pyspark.sql import functions as F

    from kgp.config import PipelineConfig
    from kgp.stages.linking import build_alias_artifacts, link_clusters

    n_boiler = 33000  # > 2^15 distinct aliases containing the suffix grams
    aliases = [(f"q{i:05d} zzz", f"E-{i}") for i in range(n_boiler)]
    aliases.append(("kalzuqir holdings", "E-target"))
    alias_dict = spark.createDataFrame(
        [(a, a, "c", eid) for a, eid in aliases],
        "entity_name string, alias string, code string, entity_id string",
    )
    surfaces = spark.createDataFrame(
        [(1, "kalzuqir holding co"), (2, "wwww zzz")],
        "cluster_id long, surface string",
    )
    dropped = []
    cfg = PipelineConfig(recall_top_k=3, link_threshold=0.0)
    artifacts = build_alias_artifacts(alias_dict, cfg, on_drop=dropped.append)
    links, candidates = link_clusters(surfaces, artifacts, cfg)
    cand = candidates.collect()
    assert dropped and dropped[0] > 0
    # surface 2 shares ONLY the boilerplate ' zzz' grams -> never generated
    assert not [r for r in cand if r["surface"] == "wwww zzz"]
    # surface 1 shares rare grams -> still ranked to the true entity
    got = {r["cluster_id"]: r["entity_id"] for r in links.collect()}
    assert got == {1: "E-target"}  # cluster 2's only overlap was capped away
