"""Linking's dictionary tables and the graph id dictionaries are built on
the driver: they must equal the Spark builds they replaced, and building
the linking tables must run no Spark job."""

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
    the three artifacts from it must not launch a Spark job, and both
    graph id dictionaries must be LocalRelations too."""
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
    ents, rels, n_ent, n_rel = _dense_id_dicts(triples)
    assert (n_ent, n_rel) == (3, 2)
    for t in (ents, rels):
        assert t._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def _range_dense_id_dicts(triples):
    """The former distributed numbering (range partition on (kind, key),
    per-partition offsets, row_number within a partition), kept as the
    reference for the driver numbering."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kgp.session import local_table

    spark = triples.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = (
        triples.select(F.lit("e").alias("kind"), F.col("subj").alias("key"))
        .unionByName(triples.select(F.lit("e").alias("kind"), F.col("obj").alias("key")))
        .unionByName(triples.select(F.lit("r").alias("kind"), F.col("pred").alias("key")))
    )
    keyed = (
        keys.distinct()
        .repartitionByRange(num_parts, F.col("kind"), F.col("key"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        (r["kind"], int(r["_pid"])): int(r["c"])
        for r in keyed.groupBy("kind", "_pid").agg(F.count("*").alias("c")).collect()
    }
    rows, totals = [], {"e": 0, "r": 0}
    for kind, pid in sorted(counts):
        rows.append((kind, pid, totals[kind]))
        totals[kind] += counts[(kind, pid)]
    off = local_table(spark, rows, "kind string, _pid int, _off long")
    w = Window.partitionBy("kind", "_pid").orderBy("key")
    numbered = keyed.join(F.broadcast(off), ["kind", "_pid"]).withColumn(
        "idx", (F.col("_off") + F.row_number().over(w) - 1).cast("int")
    )
    return {(r["kind"], r["key"]): r["idx"] for r in numbered.collect()}


HOSTILE_KEYS = [None, "", "\t", "E1", "e1", "E10", "é", "e\u0301", "Σ", "ς", "\ufffd", "\U0001f600"]


@pytest.mark.parametrize("parts", [1, 3, 8])
def test_driver_graph_numbering_matches_range_numbering(spark, parts):
    from kgp.stages.graph import _dense_id_dicts

    triples = spark.createDataFrame(
        [(k, k, k) for k in HOSTILE_KEYS]
        + [("E1", "Cause-Effect(e1,e2)", "E2"), ("E3", "Other", "E1")],
        "subj string, pred string, obj string",
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        want = _range_dense_id_dicts(triples)
        ents, rels, n_ent, n_rel = _dense_id_dicts(triples)
        got = {("e", r["entity_id"]): r["ent_int"] for r in ents.collect()}
        got.update({("r", r["pred"]): r["rel_int"] for r in rels.collect()})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got == want
    assert (n_ent, n_rel) == (len(ents.collect()), len(rels.collect()))
    assert got[("e", None)] == 0 and got[("r", None)] == 0  # nulls first
    assert got[("e", "\ufffd")] < got[("e", "\U0001f600")]  # code point, not UTF-16
