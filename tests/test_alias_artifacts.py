"""Linking's dictionary and the graph id dictionaries are built on the
driver: they must equal the Spark builds they replaced, building the
linking dictionary must run no Spark job, and probing it must link every
surface as the Spark recall plan it replaced and as the oracle do."""

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
    ("ACME CORP", "E-dup"),  # one pair given twice
    ("acme corp", "E-dup"),
    (None, "E-null"),
]


def _ngram_explode(df, col, n):
    """Distinct padded char-ngrams of a string column (JVM-side, no UDF;
    substring with a column start position needs the SQL expr form)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "grams",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(length(concat('#', {col}, '#')) - {n}, 0)), "
                f"i -> substring(concat('#', {col}, '#'), i + 1, {n}))"
            )
        ),
    )


def _spark_build(alias_dict, n):
    """The former Spark build of (alias_norm, wtab, posting), kept as the
    reference for the driver build; ``alias_norm`` is the set of
    (normalized alias, entity_id) pairs."""
    from pyspark.sql import functions as F

    alias_norm = alias_dict.select(F.lower(F.trim("alias")).alias("alias"), "entity_id").distinct()
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


def _spark_link(surfaces, alias_dict, cfg):
    """The former Spark recall plan of ``link_clusters`` -> candidates,
    kept as the reference for the index probe: an exact broadcast join, a
    ``left_anti`` miss branch whose grams join the posting list, a top-k
    window, the cross-encoder as a pandas UDF, and a join back to the
    cluster rows."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kgp.functions.surrogate import jaccard

    n = cfg.ngram_size
    alias_norm, wtab, posting = _spark_build(alias_dict, n)

    @F.pandas_udf("double")
    def cross_encoder(surface: pd.Series, alias: pd.Series) -> pd.Series:
        return pd.Series([jaccard(a, b, n) for a, b in zip(surface, alias)])

    surf = surfaces.select("surface").distinct()
    on = surf["surface"] == alias_norm["alias"]
    exact = surf.join(F.broadcast(alias_norm), on).select(
        "surface", "alias", "entity_id", F.lit(1.0).alias("score")
    )
    misses = surf.join(F.broadcast(alias_norm), on, "left_anti")
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
    fuzzy = (
        topk.withColumn("score", cross_encoder.asNondeterministic()("surface", "alias"))
        .where(F.col("score") > cfg.link_threshold)
        .select("surface", "alias", "entity_id", "score")
    )
    return surfaces.join(exact.unionByName(fuzzy), "surface")


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
    idx = art.index
    ref_norm, ref_wtab, ref_posting = _spark_build(alias_dict, n)

    got_norm = Counter((a, e) for a, es in idx.exact.items() for e in es)
    ref_norm = _bag(ref_norm, ["alias", "entity_id"])
    # a null alias can never match a surface: the index drops it
    assert ref_norm.pop((None, "E-null")) == 1
    assert got_norm == ref_norm
    ref_w = _bag(ref_wtab, ["gram", "w"])
    # the Spark build emitted a (null, 16) row for the null alias
    assert ref_w.pop((None, 16)) == 1
    assert Counter(idx.weights.items()) == ref_w
    post_cols = ["gram", "alias", "w", "entity_id", "tw_a"]
    got_p, ref_p = _bag(art.posting, post_cols), _bag(ref_posting, post_cols)
    assert got_p == ref_p
    assert Counter(idx.posting_rows()) == got_p
    # the hostile rows really reached the index; a pair given twice is
    # one dictionary entry
    assert got_norm[("\tacme corp\n", "E-pad")] == 1
    assert got_norm[("acme corp", "E-dup")] == 1
    assert idx.exact["mercury"] == ["E-m1", "E-m2"]
    assert {a for _, a, _, e, _ in got_p if e in ("E-m1", "E-m2")} == {"mercury"}
    assert max(got_p.values()) == 1


def test_alias_artifacts_and_graph_offsets_run_no_job(spark):
    """The fixture dictionary is a LocalRelation; building the linking
    index from it and collecting its posting table must not launch a
    Spark job, and both graph id dictionaries must be LocalRelations too."""
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
        n_posting = len(art.posting.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert n_posting and art.index.exact and art.index.weights
    assert art.posting._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"

    triples = spark.createDataFrame(
        [("e1", "p", "e2"), ("e2", "q", "e3")], "subj string, pred string, obj string"
    )
    ents, rels, n_ent, n_rel = _dense_id_dicts(triples)
    assert (n_ent, n_rel) == (3, 2)
    for t in (ents, rels):
        assert t._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def _entity(i, eid, aliases):
    from kgp.fixtures import Entity

    return Entity(10_000 + i, "ORG", aliases[0], aliases, [], "c", eid)


# dictionary rows the oracle normalizes as the engine does: an alias under
# two entities, a pair given twice, non-BMP and short aliases
EXTRA_ENTITIES = [
    ("E-m1", ["mercury"]),
    ("E-m2", ["mercury", "mercury rising"]),
    ("E-acme", ["Acme Corp", "acme corp"]),
    ("E-acme4", ["acme corpse"]),
    ("E-deseret", ["𐐀𐐁 corp"]),
    ("E-astral", ["𝔘𝔫𝔦 😀"]),
    ("E-short1", ["a"]),
    ("E-empty", [""]),
]


def _link_three_ways(spark, entities, surface_rows, cfg):
    """Link ``surface_rows`` [(cluster_id, surface)] against the alias
    dictionary of ``entities`` with the index probe, the former Spark plan
    and the oracle; assert all three give one candidate bag and one link
    set, and return the probe's candidates."""
    import pandas as pd

    from kgp.fixtures import ALIAS_SCHEMA, alias_dict_rows
    from kgp.oracle import oracle_links
    from kgp.stages.linking import _best_per_cluster, build_alias_artifacts, link_clusters

    alias_dict = spark.createDataFrame(pd.DataFrame(alias_dict_rows(entities)), ALIAS_SCHEMA)
    surfaces = spark.createDataFrame(surface_rows, "cluster_id long, surface string")
    links, cand = link_clusters(surfaces, build_alias_artifacts(alias_dict, cfg), cfg)
    ref_cand = _spark_link(surfaces, alias_dict, cfg)
    c_cols = ["cluster_id", "surface", "alias", "entity_id", "score"]
    l_cols = ["cluster_id", "entity_id", "score"]
    got = _bag(cand, c_cols)
    assert got == _bag(ref_cand, c_cols)
    assert _bag(links, l_cols) == _bag(_best_per_cluster(ref_cand), l_cols)

    mentions = [{"mention_id": i, "mention": s} for i, (_, s) in enumerate(surface_rows)]
    clusters = [{"mention_id": i, "cluster_id": c} for i, (c, _) in enumerate(surface_rows)]
    o_links, o_cand = oracle_links(mentions, clusters, entities, cfg)
    assert Counter(tuple(r[c] for c in c_cols) for r in o_cand) == got
    assert _bag(links, l_cols) == Counter(tuple(r[c] for c in l_cols) for r in o_links)
    return got


@pytest.mark.parametrize("k", [1, 8])
@pytest.mark.parametrize("n", [2, 3, 4])
def test_index_probe_matches_spark_recall_plan_and_oracle(spark, n, k):
    """Every surface takes one path: gazetteer aliases and variants,
    cross-entity spans the CRF tagger can emit (the first name of one PER
    entity and the last name of another, e.g. "soli culu" in the seed-42
    gazetteer), surfaces shorter than n, the empty string and non-BMP
    text, an alias naming two entities, and a pair listed twice."""
    from kgp.config import FixtureConfig, PipelineConfig
    from kgp.fixtures import make_gazetteer

    gaz = make_gazetteer(FixtureConfig())
    entities = gaz + [_entity(i, eid, al) for i, (eid, al) in enumerate(EXTRA_ENTITIES)]
    known = {s for e in gaz for s in e.surfaces}
    pers = [e.canonical.split() for e in gaz if e.etype == "PER"]
    cross = [f"{a[0]} {b[1]}" for a in pers for b in pers if a != b]
    assert "soli culu" in cross and not known & set(cross)
    hostile = ["a", "x", "ab", "", "😀", "𐐨𐐩 corp", "𝔘𝔫𝔦 😀", "uni 😀", "mercury",
               "mercury risin", "acme corp", "acme corps"]
    surfaces = sorted(known) + cross + hostile
    # three surfaces per cluster; the first 40 are shared with a second cluster
    rows = [(i // 3, s) for i, s in enumerate(surfaces)]
    rows += [(100_000 + i, s) for i, s in enumerate(surfaces[:40])]

    cfg = PipelineConfig(ngram_size=n, recall_top_k=k)
    got = _link_three_ways(spark, entities, rows, cfg)
    exact = {(s, e) for _, s, a, e, sc in got if sc == 1.0 and s == a}
    assert {("mercury", "E-m1"), ("mercury", "E-m2"), ("acme corp", "E-acme")} <= exact
    if k == 1:
        # counted twice, the pair "acme corp" -> E-acme would outrank
        # "acme corpse" for this surface
        assert {(a, e) for _, s, a, e, _ in got if s == "acme corps"} == {("acme corpse", "E-acme4")}
    assert any(s in cross for _, s, *_ in got)


def test_stop_gram_only_surface_links_as_spark_plan_and_oracle(spark):
    """The stop-gram cap case of ``test_stop_gram_cap_in_recall_join``: a
    surface whose only shared grams sit in >= 2^15 aliases gets no
    candidate from any of the three linkers."""
    from kgp.config import PipelineConfig

    entities = [_entity(i, f"E-{i}", [f"q{i:05d} zzz"]) for i in range(33000)]
    entities.append(_entity(33000, "E-target", ["kalzuqir holdings"]))
    cfg = PipelineConfig(recall_top_k=3, link_threshold=0.0)
    got = _link_three_ways(spark, entities, [(1, "kalzuqir holding co"), (2, "wwww zzz")], cfg)
    assert {s for _, s, *_ in got} == {"kalzuqir holding co"}


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
