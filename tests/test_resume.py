"""Resume test (SURVEY.md §5.2-3): kill after stage k, re-run, byte-identical
output; lineage shows skipped stages. Runs the shipped pipeline
(``run_pipeline``) with its reuse points as LineageLog stage tables."""

import json
import os

import pytest

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import TRANSCRIPT_SCHEMA, make_transcripts
from kgp.reuse import input_fingerprint, lineage_reuse
from kgp.stages.pipeline import fixture_model, run_pipeline

FX = FixtureConfig(n_conversations=20, n_entities=30)


def _run(spark, t, model, outdir):
    reuse = lineage_reuse(spark, outdir, input_fingerprint(t, DEFAULT_CONFIG))
    return run_pipeline(spark, t, model, reuse=reuse), reuse


def _snap(out):
    return {
        name: sorted(tuple(r) for r in out[name].collect())
        for name in ["mentions", "relations", "clusters", "links", "triples", "edges"]
    }


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_resume_skips_and_reproduces(spark, tmp_path):
    rows = make_transcripts(FX)
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FX)
    outdir = str(tmp_path / "run")
    ldir = os.path.join(outdir, "_lineage")

    out1, _ = _run(spark, t, model, outdir)
    snap1 = _snap(out1)
    assert snap1["triples"], "pipeline produced no triples"

    # simulate a crash after 'relations': wipe manifests of later stages
    wiped = ["clusters", "triples", "graph_fwd"]
    for stage in wiped:
        os.remove(os.path.join(ldir, f"{stage}.json"))
    kept = {s: _read(os.path.join(ldir, f"{s}.json")) for s in ["tagged", "relations"]}

    out2, _ = _run(spark, t, model, outdir)
    assert _snap(out2) == snap1  # byte-identical output after resume

    # earlier stages were skipped: their manifests (commit times included)
    # are byte-identical to run 1's; the wiped ones were committed again
    for s, before in kept.items():
        assert _read(os.path.join(ldir, f"{s}.json")) == before, s
    for s in wiped:
        assert json.load(open(os.path.join(ldir, f"{s}.json")))["status"] == "ok"

    # per-partition metrics present and consistent: the tagged table is
    # one row per turn with at least one mention
    m1 = json.loads(kept["tagged"])
    assert m1["status"] == "ok"
    assert sum(p["rows_out"] for p in m1["partitions"]) == len(
        {(m[0], m[1]) for m in snap1["mentions"]}
    )

    # changed input -> everything rebuilds and output differs
    rows3 = make_transcripts(FixtureConfig(n_conversations=30, n_entities=30))
    t3 = spark.createDataFrame(rows3, schema=TRANSCRIPT_SCHEMA)
    out3, _ = _run(spark, t3, model, outdir)
    assert len(_snap(out3)["mentions"]) > len(snap1["mentions"])
    m3 = json.load(open(os.path.join(ldir, "tagged.json")))
    assert m3["input"] != m1["input"]  # fingerprint change recorded


def test_skew_report(spark, tmp_path):
    rows = make_transcripts(FixtureConfig(n_conversations=15, n_entities=30, skew_conv_turns=300))
    t = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    model = fixture_model(spark, FixtureConfig(n_conversations=15, n_entities=30))
    _, reuse = _run(spark, t, model, str(tmp_path / "skewrun"))
    rep = reuse.lineage.skew_report("tagged")
    assert rep["max"] >= rep["median"] > 0


def test_bucket_granular_resume(spark, tmp_path):
    """§4.3 overwritePartitions contract: a crash that loses some bucket
    directories (after their progress entries committed, before the stage
    manifest) resumes by rebuilding ONLY those buckets — clean bucket
    files are untouched on disk — and reproduces identical output."""
    import shutil

    from kgp.lineage import LineageLog

    log = LineageLog(str(tmp_path / "bg"), n_buckets=8)
    rows = [(f"conv-{i:03d}", i, f"text {i}") for i in range(200)]

    def build():
        return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    df1 = log.run_stage(spark, "s", "fp1", build)
    snap1 = sorted(tuple(r) for r in df1.drop("bucket").collect())
    out = log.data_path("s")

    def mtimes():
        t = {}
        for d in os.listdir(out):
            if d.startswith("bucket="):
                files = [
                    os.path.join(out, d, f)
                    for f in os.listdir(os.path.join(out, d))
                    if f.endswith(".parquet")
                ]
                t[int(d.split("=")[1])] = max(os.stat(f).st_mtime_ns for f in files)
        return t

    t1 = mtimes()
    assert len(t1) == 8

    # crash: two bucket dirs lost, stage manifest never landed
    victims = sorted(t1)[:2]
    for b in victims:
        shutil.rmtree(os.path.join(out, f"bucket={b}"))
    os.remove(os.path.join(str(tmp_path / "bg"), "_lineage", "s.json"))

    df2 = log.run_stage(spark, "s", "fp1", build)
    snap2 = sorted(tuple(r) for r in df2.drop("bucket").collect())
    assert snap2 == snap1
    t2 = mtimes()
    for b, m in t1.items():
        if b in victims:
            assert t2[b] > m  # rebuilt
        else:
            assert t2[b] == m  # byte-untouched: only dirty buckets rewritten

    # completed manifest short-circuits: build_fn must not run again
    def explode():
        raise AssertionError("stage should have been skipped")

    df3 = log.run_stage(spark, "s", "fp1", explode)
    assert sorted(tuple(r) for r in df3.drop("bucket").collect()) == snap1

    # fingerprint change hard-resets every bucket
    os.remove(os.path.join(str(tmp_path / "bg"), "_lineage", "s.json"))
    df4 = log.run_stage(spark, "s", "fp2", build)
    assert sorted(tuple(r) for r in df4.drop("bucket").collect()) == snap1
    assert all(e["input"] == "fp2" for e in log.read_bucket_progress("s").values())


def test_crash_between_write_and_progress_commit(spark, tmp_path):
    """Fault injection in the §4.3 commit protocol's worst window: the
    bucket parquet files land but the process dies BEFORE the progress map
    commits. The orphaned output has unknown provenance — resume must
    hard-reset it (never trust dirs without progress entries), and a
    resume under a CHANGED input must not let any stale bucket survive
    dynamic partition overwrite (a no-rows-under-new-input bucket would
    otherwise be silently kept and counted)."""
    from kgp.lineage import LineageLog

    root = str(tmp_path / "cr")
    log = LineageLog(root, n_buckets=8)

    def build_v1():
        return spark.createDataFrame(
            [(f"conv-{i:03d}", i, "v1") for i in range(200)],
            "conv_id string, turn_idx int, payload string",
        )

    def build_v2():
        # v2 input: only 40 conversations -> most buckets hold FEWER rows,
        # and rows are distinguishable from v1's
        return spark.createDataFrame(
            [(f"conv-{i:03d}", i, "v2") for i in range(40)],
            "conv_id string, turn_idx int, payload string",
        )

    # crash run: parquet write succeeds, progress commit never happens
    real_commit = log._write_bucket_progress
    log._write_bucket_progress = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before progress commit")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        log.run_stage(spark, "s", "fp-v1", build_v1)
    log._write_bucket_progress = real_commit
    out = log.data_path("s")
    assert os.path.isdir(out)  # orphaned parquet really is on disk
    assert log.read_bucket_progress("s") == {}  # ...with no provenance

    # resume under a CHANGED fingerprint: no stale v1 row may survive
    df = log.run_stage(spark, "s", "fp-v2", build_v2)
    got = sorted(tuple(r) for r in df.drop("bucket").collect())
    assert got == sorted((f"conv-{i:03d}", i, "v2") for i in range(40))
    m = json.load(open(os.path.join(root, "_lineage", "s.json")))
    assert m["rows_out"] == 40  # part_metrics counted no orphaned bucket

    # same crash, then resume under the SAME fingerprint: full rebuild,
    # output identical to an uncrashed run
    log2 = LineageLog(str(tmp_path / "cr2"), n_buckets=8)
    real2 = log2._write_bucket_progress
    log2._write_bucket_progress = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash before progress commit")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        log2.run_stage(spark, "s", "fp-v1", build_v1)
    log2._write_bucket_progress = real2
    df2 = log2.run_stage(spark, "s", "fp-v1", build_v1)
    want = sorted(tuple(r) for r in build_v1().collect())
    assert sorted(tuple(r) for r in df2.drop("bucket").select("conv_id", "turn_idx", "payload").collect()) == want
    assert len(log2.read_bucket_progress("s")) == 8
