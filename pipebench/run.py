"""End-to-end benchmark of ``kgp.stages.pipeline.run_pipeline``.

    python3 pipebench/run.py --workload mixed_skew --seed 1 --seconds 30 --trace 0

One client, closed loop: this process creates the input from ``--seed``,
computes the single-process oracle, starts a Spark session on
``local[<cores>]``, then runs the pipeline (``run_pipeline`` followed by
``count()`` of ``triples`` and ``edges``) back to back, starting another
run only while it is predicted to end within ``--seconds``. Every run is
checked against the oracle outside its timed window. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
from a separate traced protocol with ``--trace 1``; see README.md).

All files go to ``pipebench/.work/`` and are removed on exit, except the
oracle cache and the span dumps of traced runs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

DEADLINE_S = 150.0  # runs still going are cancelled: an invocation must end within 180 s
FULL_DEADLINE_S = 3600.0  # --full sizes are for checks by hand
E2E_UNITS = {"triples_per_s": "1/s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB", "ok_frac": "frac"}
# printed on the diagnostics line but left out of the result: at unchanged
# code its wall time moved 1.7x with the host's CPU steal (README.md)
UNGATED = ("triples_per_s",)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("mixed_skew", "tool_heavy", "table_reuse"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--full", action="store_true", help="historical input sizes (sf0.1; 3,000 tool convs)")
    return p.parse_args(argv)


class Watchdog:
    """Cancels every Spark job, once a second, after ``timeout_s``."""

    def __init__(self, sc, timeout_s: float):
        self.sc, self.timeout_s, self.fired = sc, timeout_s, False
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="run-watchdog", daemon=True)

    def _loop(self):
        if self._done.wait(self.timeout_s):
            return
        self.fired = True
        while not self._done.is_set():
            self.sc.cancelAllJobs()
            self._done.wait(1.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join()


def dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.pid = os.getpid()
        self.t_start = time.monotonic()
        self.deadline = self.t_start + (FULL_DEADLINE_S if args.full else DEADLINE_S)
        self.cores = len(os.sched_getaffinity(0))
        self.runs: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def prepare_input(self):
        from workloads import make_input, write_parquet

        a = self.args
        rows, self.gold = make_input(
            a.workload, a.seed, a.full, os.path.join(WORK_ROOT, "oracle"), min(4, self.cores)
        )
        self.n_turns = len(rows)
        self.input_path = os.path.join(self.work, "transcripts.parquet")
        write_parquet(rows, self.input_path)
        self.phases = {"input_s": time.monotonic() - self.t_start}

    def start_spark(self):
        from kgp.session import get_spark
        from kgp.stages.pipeline import fixture_model
        from workloads import fixture_config

        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # C1-only JIT: each invocation is one short, cold JVM, and C2
            # compilation alone burned about 45 CPU-s of a 95 CPU-s run on
            # 4 vCPUs, competing with the pipeline for the cores it measures
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:TieredStopAtLevel=1"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.event_dir})
        t0 = time.monotonic()
        self.spark = get_spark("pipebench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        self.model = fixture_model(self.spark, fixture_config(self.args.workload, self.args.full))
        t2 = time.monotonic()
        self.setup = {"session_s": t1 - t0, "model_s": t2 - t1, "setup_s": t2 - t0}

    def stop_spark(self):
        from pyspark import SparkContext

        from procfs import wait_for_children

        t0 = time.monotonic()
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=30)
        left = wait_for_children(self.pid, 20.0)
        self.phases["stop_s"] = time.monotonic() - t0
        if left:
            print(f"pipebench: processes still running: {left}", file=sys.stderr)

    def event_log(self) -> str:
        (name,) = os.listdir(self.event_dir)  # one application per invocation
        return os.path.join(self.event_dir, name)

    # -- one timed run --------------------------------------------------
    def run_once(self, tracer=None) -> dict:
        from kgp.config import DEFAULT_CONFIG
        from kgp.reuse import input_fingerprint, lineage_reuse
        from kgp.stages import pipeline
        from procfs import host_sample, steal_frac, tree_cpu_s

        spark, i = self.spark, len(self.runs)
        transcripts = spark.read.parquet(self.input_path)
        table_dir = os.path.join(self.work, f"tables-{i}")
        timeout = max(5.0, self.deadline - time.monotonic())
        rec = {"run": i, "traced": tracer is not None, "ok": False, "table_dir": table_dir}
        dog = Watchdog(spark.sparkContext, timeout)

        def span(name, layer):
            return tracer.span(name, layer) if tracer else contextlib.nullcontext()

        host0 = host_sample()
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.monotonic()
        try:
            with dog:
                reuse = None  # run_pipeline's own default (local profile)
                if self.args.workload == "table_reuse":
                    with span("fingerprint", "reuse"):
                        fp = input_fingerprint(transcripts, DEFAULT_CONFIG)
                    reuse = lineage_reuse(spark, table_dir, fp)
                if tracer:
                    reuse = tracer.reuse(reuse or pipeline._default_reuse(spark, transcripts, DEFAULT_CONFIG))
                with tracer.patch_layer_calls() if tracer else contextlib.nullcontext():
                    out = pipeline.run_pipeline(spark, transcripts, self.model, reuse=reuse)
                with span("count", "count"):
                    n_triples, n_edges = out["triples"].count(), out["edges"].count()
            t1 = time.monotonic()
            rec.update(wall_s=t1 - t0, cpu_s=tree_cpu_s(self.pid) - cpu0, t0=t0, t1=t1)
            rec.update(triples=n_triples, edges=n_edges)
            rec["ok"] = not dog.fired and self.matches_oracle(out, n_triples, n_edges)
            rec["out"] = out
            if tracer:
                rec["table_bytes"], rec["table_files"] = dir_size(table_dir)
        except Exception as e:  # a failed run is counted, not fatal
            rec["error"] = "timeout" if dog.fired else repr(e)[:300]
            traceback.print_exc(file=sys.stderr)
        finally:
            host1 = host_sample()
            rec.update(
                loadavg_before=host0["loadavg_1m"],
                loadavg_after=host1["loadavg_1m"],
                steal_frac=steal_frac(host0, host1),
            )
            if tracer is None:  # a traced run's outputs are read after its window
                shutil.rmtree(table_dir, ignore_errors=True)
        self.runs.append(rec)
        return rec

    def matches_oracle(self, out, n_triples: int, n_edges: int) -> bool:
        triples = {
            (t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"]))
            for t in out["triples"].collect()
        }
        edges = sorted((e["h"], e["r"], e["t"]) for e in out["edges"].collect())
        gold = self.gold
        return (
            triples == gold["triples"]
            and n_triples == len(gold["triples"])
            and edges == gold["edges"]
            and n_edges == len(gold["edges"])
        )

    # -- protocols --------------------------------------------------------
    def timed_window(self) -> dict:
        """Runs back to back while the next one is predicted to end within
        --seconds of the window start; always at least one."""
        w0 = time.monotonic()
        while True:
            rec = self.run_once()
            now = time.monotonic()
            last = rec.get("wall_s", now - w0)
            if now - w0 + last > self.args.seconds or now + last > self.deadline:
                break
        ok = [r for r in self.runs if r["ok"]]
        wall = statistics.median(r["wall_s"] for r in ok) if ok else 0.0
        return {
            "triples_per_s": len(self.gold["triples"]) / wall if wall else 0.0,
            "cpu_s": statistics.median(r["cpu_s"] for r in ok) if ok else 0.0,
            "setup_s": self.setup["setup_s"],
            "ok_frac": len(ok) / len(self.runs),
        }

    def traced_run(self) -> dict:
        """One traced run: spans, job descriptions and the event log give
        the per-layer numbers; row counts are read after its window."""
        from spans import Tracer

        tracer = Tracer(self.spark.sparkContext, "r1")
        rec = self.run_once(tracer)
        stats = self.layer_stats(rec, tracer) if rec["ok"] else {}
        shutil.rmtree(rec["table_dir"], ignore_errors=True)
        return {"tracer": tracer, "run": rec, "stats": stats}

    def layer_stats(self, rec: dict, tracer) -> dict:
        """Row counts and yields of a traced run, read from its pinned
        outputs after the timed window."""
        from kgp.config import DEFAULT_CONFIG
        from kgp.stages.pairs import re_pairs

        out = rec["out"]
        with tracer.span("stats", "stats"):
            n_mentions = out["mentions"].count()
            n_relations = out["relations"].count()
            n_links = out["links"].count()
            stats = {
                "rows": {
                    "mentions": n_mentions,
                    "relations": n_relations,
                    "coref": out["clusters"].count(),
                    "linking": tracer.results["build_alias_artifacts"].posting.count(),
                    "triples": rec["triples"],
                    "graph": rec["edges"],
                },
                "mentions.hit_ratio": out["mentions"].select("conv_id", "turn_idx").distinct().count()
                / self.n_turns,
                "relations.yield": n_relations / max(1, re_pairs(out["mentions"], DEFAULT_CONFIG).count()),
                "triples.link_yield": n_links / max(1, out["link_candidates"].count()),
            }
        return stats


def per_layer_metrics(bench: Bench, traced: dict) -> dict:
    from eventlog import layer_metrics, stage_metrics
    from spans import BRANCH_LAYERS, LAYERS, covered, layer_windows

    run, tracer = traced["run"], traced["tracer"]
    spans = [s for s in tracer.spans if s.layer != "stats"]
    win = layer_windows(spans)
    ev = layer_metrics(stage_metrics(bench.event_log()), "r1:", LAYERS)
    m: dict[str, float] = {}
    for layer in LAYERS:
        lo, hi = win.get(layer, (run["t0"], run["t0"]))
        before = [s.end for s in spans if s.layer != layer and s.end <= lo]
        m[f"{layer}.wall_s"] = hi - lo
        m[f"{layer}.gap_before_s"] = lo - max([run["t0"], *before])
        for k, v in ev[layer].items():
            m[f"{layer}.{k}"] = v
        m[f"{layer}.rows_out"] = traced["stats"]["rows"][layer]
    for k in ("mentions.hit_ratio", "relations.yield", "triples.link_yield"):
        m[k] = traced["stats"][k]
    m["pipeline.driver_gap_s"] = run["wall_s"] - covered([(s.start, s.end) for s in spans])
    branch = [win[b] for b in BRANCH_LAYERS if b in win]
    m["pipeline.branch_window_s"] = max(h for _, h in branch) - min(lo for lo, _ in branch)
    m["reuse.pins"] = tracer.pins
    m["reuse.bytes_written_mb"] = run["table_bytes"] / 1e6
    m["reuse.files_written"] = run["table_files"]
    m["setup.session_s"] = bench.setup["session_s"]
    m["setup.model_s"] = bench.setup["model_s"]
    m["trace.overhead_frac"] = tracer.cost_s / run["wall_s"]
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kgp")):
        print(f"pipebench: no kgp package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # the program's environment knobs would change what is measured
    for k in [k for k in os.environ if k.startswith("KGP_")]:
        del os.environ[k]
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")  # overrides spark.local.dir
    # Python workers import kgp whatever directory the benchmark starts from
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    from procfs import RssSampler

    bench = Bench(args, work)
    try:
        bench.prepare_input()
        with RssSampler(bench.pid) as rss:
            bench.start_spark()
            try:
                if args.trace:
                    traced = bench.traced_run()
                else:
                    metrics = bench.timed_window()
            finally:
                bench.stop_spark()
        if args.trace:
            metrics = per_layer_metrics(bench, traced) if traced["run"]["ok"] else {}
            dump_dir = os.path.join(WORK_ROOT, "traces")
            os.makedirs(dump_dir, exist_ok=True)
            with open(os.path.join(dump_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": traced["tracer"].dump(traced["run"]["t0"]), "metrics": metrics}, f, indent=1)
        else:
            metrics["peak_rss_mb"] = rss.peak_mb
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ungated = {k: {"value": metrics.pop(k), "unit": E2E_UNITS[k]} for k in UNGATED if k in metrics}

    runs = [{k: v for k, v in r.items() if k not in ("out", "t0", "t1", "table_dir")} for r in bench.runs]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": bench.cores,
                      "setup": bench.setup, "phases": bench.phases, "total_s": time.monotonic() - bench.t_start,
                      "ungated_metrics": ungated, "runs": runs}))
    failed = sum(1 for r in bench.runs if not r["ok"])
    result = {
        "correct": any(r["ok"] for r in bench.runs) and all("error" in r or r["ok"] for r in bench.runs),
        "attempted": len(bench.runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS.get(k) or unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("skew", "hit_ratio", "yield", "link_yield", "overhead_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
