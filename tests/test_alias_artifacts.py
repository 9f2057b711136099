"""Linking's dictionary tables are built on the driver: they must equal the
Spark build they replaced, and building them must run no Spark job."""

from collections import Counter

import pytest

HOSTILE_ALIASES = [
    ("  \tAcme Corp\n ", "E-pad"),  # trim strips only U+0020
    ("\nacme corp", "E-nl"),
    ("   spaced   ", "E-sp"),
    ("MERCURY RISING", "E-up"),
    ("ΟΔΥΣΣΕΥΣ", "E-sigma"),  # Greek final sigma when lowered
    ("𐐀𐐁 corp", "E-deseret"),  # non-BMP letters with lowercase forms
    ("𝔘𝔫𝔦 😀", "E-astral"),
    ("a", "E-short1"),
    ("", "E-empty"),
    ("mercury", "E-m1"),  # one alias under two entities
    ("mercury", "E-m2"),
    (None, "E-null"),
]


def _spark_build(alias_dict, n):
    """The former Spark build of (alias_norm, wtab, posting), kept as the
    reference for the driver build."""
    from pyspark.sql import functions as F

    from kgp.stages.linking import _ngram_explode

    alias_norm = alias_dict.select(F.lower(F.trim("alias")).alias("alias"), "entity_id")
    aliases_u = alias_norm.select("alias").distinct()
    agrams = _ngram_explode(aliases_u, "alias", n).select(
        "alias", F.explode("grams").alias("gram")
    )
    wtab = agrams.groupBy("gram").agg(
        F.greatest(F.lit(1), F.lit(16) - F.floor(F.log2(F.count("*")))).cast("long").alias("w")
    )
    aw = agrams.join(F.broadcast(wtab), "gram")
    tw_a = aw.groupBy("alias").agg(F.sum("w").alias("tw_a"))
    posting = (
        aw.where(F.col("w") > 1)
        .join(F.broadcast(alias_norm), "alias")
        .join(F.broadcast(tw_a), "alias")
    )
    return alias_norm, wtab, posting


def _bag(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("n", [2, 3, 4])
def test_driver_build_matches_spark_build(spark, n):
    from kgp.config import FixtureConfig, PipelineConfig
    from kgp.fixtures import ALIAS_SCHEMA, alias_dict_rows, make_gazetteer
    from kgp.stages.linking import build_alias_artifacts

    rows = [(r["entity_name"], r["alias"], r["code"], r["entity_id"])
            for r in alias_dict_rows(make_gazetteer(FixtureConfig()))]
    rows += [(f"name-{eid}", a, "c", eid) for a, eid in HOSTILE_ALIASES]
    alias_dict = spark.createDataFrame(rows, ALIAS_SCHEMA)
    art = build_alias_artifacts(alias_dict, PipelineConfig(ngram_size=n))
    ref_norm, ref_wtab, ref_posting = _spark_build(alias_dict, n)

    norm_cols = ["alias", "entity_id"]
    assert _bag(art.alias_norm, norm_cols) == _bag(ref_norm, norm_cols)
    got_w = _bag(art.wtab, ["gram", "w"])
    ref_w = _bag(ref_wtab, ["gram", "w"])
    # the Spark build emitted a (null, 16) row for the null alias; no
    # surface gram can ever join it
    assert ref_w.pop((None, 16)) == 1
    assert got_w == ref_w
    post_cols = ["gram", "alias", "w", "entity_id", "tw_a"]
    got_p, ref_p = _bag(art.posting, post_cols), _bag(ref_posting, post_cols)
    assert got_p == ref_p
    # the hostile rows really reached the tables
    assert ("\tacme corp\n", "E-pad") in _bag(art.alias_norm, norm_cols)
    assert {a for _, a, _, e, _ in got_p if e in ("E-m1", "E-m2")} == {"mercury"}


def test_alias_artifacts_and_graph_offsets_run_no_job(spark):
    """The fixture dictionary is a LocalRelation; building and collecting
    the three artifacts from it must not launch a Spark job, and the
    graph-id offset table must be a LocalRelation too."""
    from kgp.config import DEFAULT_CONFIG, FixtureConfig
    from kgp.stages.graph import _dense_id_dicts
    from kgp.stages.linking import build_alias_artifacts
    from kgp.stages.pipeline import fixture_model

    model = fixture_model(spark, FixtureConfig())
    sc = spark.sparkContext
    group = "alias-artifacts-no-job"
    sc.setJobGroup(group, "driver-side alias artifacts")
    try:
        art = build_alias_artifacts(model.alias_dict, DEFAULT_CONFIG)
        tables = [art.alias_norm, art.wtab, art.posting]
        sizes = [len(t.collect()) for t in tables]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert all(sizes)
    for t in tables:
        assert t._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"

    triples = spark.createDataFrame(
        [("e1", "p", "e2"), ("e2", "q", "e3")], "subj string, pred string, obj string"
    )
    pinned = {}
    _dense_id_dicts(triples, reuse=lambda df, name: pinned.setdefault(name, df))
    leaves = pinned["graph_ids"]._jdf.queryExecution().analyzed().collectLeaves()
    names = sorted(leaves.apply(i).nodeName() for i in range(leaves.size()))
    # the checkpointed key set and the offset table
    assert names == ["LocalRelation", "LogicalRDD"]
