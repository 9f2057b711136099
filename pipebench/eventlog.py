"""Spark event-log reader: task metrics grouped by job description.

Reads a plain JSON-lines log, a zstd-compressed one, or a Spark 4 rolling
log directory (``eventlog_v2_<app>/events_<n>_<app>[.zstd]``). Every
stage is attributed to the ``spark.job.description`` its submission
carried, which the tracer sets to ``<run>:<layer>/<span>``.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re
import statistics
from collections import defaultdict


def _files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]

    def part(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(glob.glob(os.path.join(path, "events_*")), key=part)


def _lines(path: str):
    for p in _files(path):
        if p.endswith(".zstd"):
            import pyarrow as pa

            with pa.input_stream(p, compression="zstd") as raw:
                yield from io.TextIOWrapper(io.BufferedReader(raw), encoding="utf-8")
        else:
            with open(p, encoding="utf-8") as f:
                yield from f


def stage_metrics(path: str) -> dict[int, dict]:
    """stage id -> {"desc", "task_run_ms": [...], "cpu_ns", "failed",
    "shuffle_read", "shuffle_write", "spill"} (bytes)."""
    stages: dict[int, dict] = defaultdict(
        lambda: {"desc": None, "task_run_ms": [], "cpu_ns": 0, "failed": 0,
                 "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
    )
    for line in _lines(path):
        # skip the bulky events (SQL plans, block updates) without decoding them
        if '"SparkListenerStageSubmitted"' not in line[:64] and '"SparkListenerTaskEnd"' not in line[:64]:
            continue
        e = json.loads(line)
        if e["Event"] == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stages[e["Stage Info"]["Stage ID"]]["desc"] = props.get("spark.job.description")
            continue
        s = stages[e["Stage ID"]]
        info = e.get("Task Info") or {}
        if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
            s["failed"] += 1
        m = e.get("Task Metrics") or {}
        s["task_run_ms"].append(m.get("Executor Run Time", 0))
        s["cpu_ns"] += m.get("Executor CPU Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(stages)


def layer_metrics(stages: dict[int, dict], run_prefix: str, layers) -> dict[str, dict]:
    """Per-layer sums over the stages whose description starts with
    ``<run_prefix><layer>/``. ``skew`` is max/median task run time in the
    layer's largest stage by total task time."""
    out = {}
    for layer in layers:
        mine = [s for s in stages.values() if (s["desc"] or "").startswith(f"{run_prefix}{layer}/")]
        runs = [ms for s in mine for ms in s["task_run_ms"]]
        big = max(mine, key=lambda s: sum(s["task_run_ms"]), default=None)
        skew = 0.0
        if big and big["task_run_ms"]:
            med = statistics.median(big["task_run_ms"])
            skew = max(big["task_run_ms"]) / med if med else 1.0
        out[layer] = {
            "task_s": sum(runs) / 1e3,
            "jvm_cpu_s": sum(s["cpu_ns"] for s in mine) / 1e9,
            "tasks": len(runs),
            "failed_tasks": sum(s["failed"] for s in mine),
            "shuffle_read_mb": sum(s["shuffle_read"] for s in mine) / 1e6,
            "shuffle_write_mb": sum(s["shuffle_write"] for s in mine) / 1e6,
            "spill_mb": sum(s["spill"] for s in mine) / 1e6,
            "skew": skew,
        }
    return out
