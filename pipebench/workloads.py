"""Seeded workload inputs and their single-process oracle results.

Every input is a function of (workload, seed, full) only. The program
under test receives the transcripts parquet written here and
``fixture_model(spark, fixture_config(...))``; nothing is read from or
written to the repository's ``fixtures/``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgp.config import DEFAULT_CONFIG, FixtureConfig
from kgp.fixtures import FILLER, fixture_config_for_sf, make_gazetteer, make_transcripts
from kgp.functions.surrogate import tokenize

# table_reuse runs the mixed_skew input under the lineage-table reuse profile
_INPUT_OF = {"mixed_skew": "mixed", "tool_heavy": "tool", "table_reuse": "mixed"}

# agent-style tool output appended to every tool-role turn, in words
TOOL_OUTPUT_WORDS = (112, 450)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


# Default inputs are cut to the shortest prefix of their conversations that
# yields this many triples. At these sizes a run's wall time barely depends
# on the triple count (per-job overhead dominates), so a count that varies
# with the seed would make triples_per_s measure the seed, not the program.
TRIPLE_TARGET = {"mixed": 2400, "tool": 2200}


def fixture_config(workload: str, full: bool) -> FixtureConfig:
    """The model's fixture config: its gazetteer is fixed at seed 42, as a
    deployed model is, and only the transcripts vary with the seed.

    ``full`` selects the historical sizes, uncut: sf0.1 with its 10^4-turn
    skew conversation, and 3,000 tool-heavy conversations. The default
    conversation pools are cut to TRIPLE_TARGET, which keeps about 600 of
    them: a tenth (mixed) and a fifth (tool) of those sizes."""
    if _INPUT_OF[workload] == "mixed":
        if full:
            return fixture_config_for_sf(0.1, skew=True)
        return FixtureConfig(n_conversations=800, skew_conv_turns=1000)
    return FixtureConfig(n_conversations=3000 if full else 800)


def make_rows(workload: str, fx: FixtureConfig, seed: int) -> list[dict]:
    rows = make_transcripts(dataclasses.replace(fx, seed=seed), make_gazetteer(fx))
    if _INPUT_OF[workload] == "tool":
        # FILLER is disjoint from gazetteer and trigger words, so the padding
        # adds tagger work without adding mentions or relations
        rng = np.random.default_rng([seed, 1])
        filler = np.array(FILLER, dtype=object)
        lo, hi = TOOL_OUTPUT_WORDS
        for r in rows:
            if r["role"] == "tool":
                words = filler[rng.integers(len(FILLER), size=int(rng.integers(lo, hi + 1)))]
                r["text"] = r["text"] + " " + " ".join(words)
                if len(tokenize(r["text"])) >= DEFAULT_CONFIG.max_seq_len:
                    raise ValueError("padded turn reaches max_seq_len; oracle would diverge")
    return rows


def write_parquet(rows: list[dict], path: str) -> None:
    pq.write_table(
        pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA), path, row_group_size=50_000
    )


def _conv_share(rows: list[dict], k: int, n: int) -> list[dict]:
    """Rows of every n-th conversation, starting at the k-th."""
    index: dict[str, int] = {}
    return [r for r in rows if index.setdefault(r["conv_id"], len(index)) % n == k]


def make_input(workload: str, seed: int, full: bool, cache_dir: str, procs: int):
    """-> (transcript rows, {"triples": set, "edges": sorted list}) from
    ``kgp.oracle`` for the input of (workload, seed, full)."""
    from kgp.oracle import oracle_edges

    rows = make_rows(workload, fixture_config(workload, full), seed)
    triples = _oracle_triples(workload, seed, full, rows, cache_dir, procs)
    if not full:
        target = TRIPLE_TARGET[_INPUT_OF[workload]]
        per_conv = Counter(t["conv_id"] for t in triples)
        keep, n = set(), 0
        for conv_id in dict.fromkeys(r["conv_id"] for r in rows):
            if n >= target:
                break
            keep.add(conv_id)
            n += per_conv[conv_id]
        if n < target:
            raise ValueError(f"seed {seed}: {n} triples in the whole pool, below the target")
        rows = [r for r in rows if r["conv_id"] in keep]
        triples = [t for t in triples if t["conv_id"] in keep]
    return rows, {
        "triples": {(t["conv_id"], t["subj"], t["pred"], t["obj"], tuple(t["src_turns"])) for t in triples},
        "edges": sorted(oracle_edges(triples)),
    }


def _oracle_triples(
    workload: str, seed: int, full: bool, rows: list[dict], cache_dir: str, procs: int
) -> list[dict]:
    """``oracle_pipeline`` triples of the uncut ``rows``, cached per input
    and seed.

    Every oracle stage before the edge ids works within one conversation
    (clusters, links and triples are keyed by conversation), so ``procs``
    processes each take every procs-th conversation, and any set of whole
    conversations has as its oracle the matching subset of these triples."""
    fx = fixture_config(workload, full)
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(
        cache_dir, f"{_INPUT_OF[workload]}-{fx.n_conversations}-{fx.skew_conv_turns}-{seed}.json"
    )
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), workload, str(int(full))]
        workers = [subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE) for _ in range(procs)]
        for k, w in enumerate(workers):
            share = [[r["conv_id"], r["turn_idx"], r["text"]] for r in _conv_share(rows, k, procs)]
            w.stdin.write(json.dumps(share).encode())
            w.stdin.close()
        outs = [w.stdout.read() for w in workers]
        if any(w.wait() for w in workers):
            raise RuntimeError("oracle worker failed")
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(t for out in outs for t in json.loads(out)), f)
        os.replace(tmp, path)
    with open(path) as f:
        return [dict(zip(("conv_id", "subj", "pred", "obj", "src_turns"), t)) for t in json.load(f)]


if __name__ == "__main__":
    # oracle worker: <workload> <full>, rows [conv_id, turn_idx, text] on stdin,
    # JSON triples on stdout
    from kgp.oracle import oracle_pipeline

    share = [dict(zip(("conv_id", "turn_idx", "text"), r)) for r in json.load(sys.stdin)]
    cfg = fixture_config(sys.argv[1], bool(int(sys.argv[2])))
    out = oracle_pipeline(share, make_gazetteer(cfg))["triples"]
    json.dump([[t["conv_id"], t["subj"], t["pred"], t["obj"], t["src_turns"]] for t in out], sys.stdout)
