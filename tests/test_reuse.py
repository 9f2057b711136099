"""Cluster-profile reuse points (kgp.reuse): the pipeline's and
kgat_cf_embedding's multi-consumer pins route through LineageLog stage
tables instead of localCheckpoint, with identical results — the fix for
the sf16 driver-heap finding (SCALING.md) and the executor-loss story.
"""

import json
import os

from kgp.config import FixtureConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA, make_transcripts
from kgp.reuse import input_fingerprint, lineage_reuse, local_reuse
from kgp.stages.pipeline import PipelineModel, fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=20, n_entities=30)


def _snap(out, names=("mentions", "relations", "clusters", "triples", "edges")):
    return {n: sorted(tuple(r) for r in out[n].collect()) for n in names}


def test_pipeline_table_reuse_matches_local(spark, tmp_path):
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)

    base = _snap(run_pipeline(spark, t, model))
    fp = input_fingerprint(t, None)
    reuse = lineage_reuse(spark, str(tmp_path / "stages"), fp)
    out = run_pipeline(spark, t, model, reuse=reuse)

    # identical results, identical schemas (no bucket column leaks)
    assert _snap(out) == base
    assert out["triples"].columns == ["conv_id", "subj", "pred", "obj", "src_turns"]

    # every multi-consumer pin is a committed stage table with a manifest
    ldir = str(tmp_path / "stages" / "_lineage")
    stages = {f[:-5] for f in os.listdir(ldir) if f.endswith(".json") and "buckets" not in f}
    assert {"tagged", "relations", "clusters", "triples", "graph_fwd"} <= stages
    m = json.load(open(os.path.join(ldir, "tagged.json")))
    assert m["status"] == "ok" and m["input"] == fp and m["partitions"]

    # resume: a second run with the same fingerprint skips every stage
    # (run_stage short-circuits on the committed manifest) — byte-equal
    out2 = run_pipeline(spark, t, model, reuse=lineage_reuse(spark, str(tmp_path / "stages"), fp))
    assert _snap(out2) == base


def test_env_profile_selects_table_reuse(spark, tmp_path, monkeypatch):
    rows = make_transcripts(FixtureConfig(n_conversations=8, n_entities=20))
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FixtureConfig(n_conversations=8, n_entities=20))
    base = sorted(tuple(r) for r in run_pipeline(spark, t, model)["triples"].collect())

    # same transcripts, half the gazetteer: a different model
    half = PipelineModel(
        model.surfaces[: len(model.surfaces) // 2], model.surface_groups, model.alias_dict
    )
    half_base = sorted(
        tuple(r) for r in run_pipeline(spark, t, half, reuse=local_reuse)["triples"].collect()
    )
    assert half_base != base

    monkeypatch.setenv("KGP_REUSE", "table")
    monkeypatch.setenv("KGP_REUSE_DIR", str(tmp_path / "envstages"))
    out = run_pipeline(spark, t, model)
    assert sorted(tuple(r) for r in out["triples"].collect()) == base
    assert os.path.isdir(str(tmp_path / "envstages" / "_lineage"))
    # the pinned dir's stage tables are keyed on the model too: the second
    # model recomputes instead of resuming the first model's tables
    out = run_pipeline(spark, t, half)
    assert sorted(tuple(r) for r in out["triples"].collect()) == half_base


def _cf_inputs(spark, seed):
    import numpy as np

    from kgp.stages.graph import edge_softmax

    rng = np.random.default_rng(seed)
    n, d = 8, 4
    edges = spark.createDataFrame(
        [(int(i), int((i * 3 + 1) % n), float(rng.normal())) for i in range(2 * n)],
        "h long, t long, score double",
    )
    att = edge_softmax(edges).select("h", "t", "att")
    emb = rng.normal(size=(n, d)).tolist()
    layers = [(rng.normal(size=(d, 3)).tolist(), rng.normal(size=(d, 3)).tolist())]
    return att, emb, layers


def _cf_snap(df):
    return sorted((r["h"], r["k"], round(r["val"], 9)) for r in df.collect())


def test_cf_embedding_table_reuse_matches_local(spark, tmp_path):
    from kgp.stages.graph import kgat_cf_embedding

    att, emb, layers = _cf_inputs(spark, 11)

    base = _cf_snap(kgat_cf_embedding(spark, att, emb, layers, reuse=local_reuse))
    table = _cf_snap(
        kgat_cf_embedding(
            spark, att, emb, layers,
            reuse=lineage_reuse(spark, str(tmp_path / "cf"), "fp-cf", bucket_on=None),
        )
    )
    assert table == base
    assert os.path.exists(str(tmp_path / "cf" / "_lineage" / "cf_layer_1.json"))


def test_cf_embedding_default_ignores_reuse_env(spark, tmp_path, monkeypatch):
    """With the table profile env pinned to one directory, two calls on
    different embeddings must not read each other's layer tables: the
    library default is the eager local pin, whatever KGP_REUSE says."""
    import numpy as np

    from kgp.stages.graph import kgat_cf_embedding

    att, emb, layers = _cf_inputs(spark, 11)
    emb2 = (np.asarray(emb) * 2.0 + 0.5).tolist()
    want = [
        _cf_snap(kgat_cf_embedding(spark, att, e, layers, reuse=local_reuse))
        for e in (emb, emb2)
    ]
    assert want[0] != want[1]

    monkeypatch.setenv("KGP_REUSE", "table")
    monkeypatch.setenv("KGP_REUSE_DIR", str(tmp_path / "envcf"))
    got = [_cf_snap(kgat_cf_embedding(spark, att, e, layers)) for e in (emb, emb2)]
    assert got == want

