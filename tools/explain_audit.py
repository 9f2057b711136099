"""Plan-quality audit: dump formatted physical plans for the headline
queries and grep for the properties that matter at 100 TB:

- parquet scans show PushedFilters + pruned ReadSchema (no full-width scan
  for narrow projections)
- dimension joins are BroadcastHashJoin (alias dict, entity/relation ids,
  ANN query set) — the fact side never shuffles for them; ``exchange=``
  counts the shuffles a query still pays
- non-UDF stages sit inside WholeStageCodegen spans
- no CartesianProduct anywhere except the intended ANN brute-force
  crossJoin against a broadcast query set (BroadcastNestedLoopJoin)
- each subtree and each Python scorer appears once: the ``generate=``
  (explode) and ``pyEval=`` (``ArrowEvalPython``) node counts expose a
  duplicated pair join or a scorer evaluated twice

The pipeline outputs (``kg_clusters``, ``kg_edges``) are read back from
their pins, so for those the audited plan is the query that builds the
pin (``clusters``, ``graph_fwd``), recorded by the run's reuse hook.

Writes BENCH/plans/<query>.txt and prints a one-line verdict per query.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SELF_SF_DIR", "/root/testdata/sf0.01")
AUDIT = [
    "kg_doc_assembly",
    "kg_re_pairs",
    "kg_coref_pairs",
    "kg_kgat_edges",
    "kg_links",
    "kg_clusters",
    "kg_edges",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "ann_cosine_topk",
    "ann_cosine_lsh",
    "ann_ivf",
    "el_threshold_sweep",
    "text_quality",
    "events_sessionize",
    "tpch_q1",
    "top_revenue",
    "kgat_aggregate",
    "kgat_aggregate_gcn",
    "kgat_aggregate_graphsage",
    "kgat_cf_loss",
    "kgat_cf_embedding",
    "kgat_cf_score",
    "kgat_transr_scores",
    "kgat_cf_eval",
]
# queries() entries that read a pipeline pin back -> the pin they read
PIN_OF = {"kg_clusters": "clusters", "kg_edges": "graph_fwd"}


# verdict key -> node name, counted once per node of the formatted plan
NODES = {
    "exchange": "Exchange",  # shuffle only: BroadcastExchange is another node name
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "cartesian": "CartesianProduct",
    "localScan": "LocalTableScan",
    "window": "Window",
    "generate": "Generate",
    "pyEval": "ArrowEvalPython",
}
# a formatted plan lists each node twice, in the tree and as the header of
# its details block ("(12) SortMergeJoin"); only the headers are counted
_HEADER = re.compile(r"^\(\d+\) (\w+)(.*)$", re.M)


def node_counts(plan: str) -> dict:
    """Per-key node counts of one formatted plan: ``NODES``, plus
    ``rangePart`` (Exchange nodes with a range partitioning) and
    ``codegen`` (nodes inside a whole-stage codegen span). A second
    Generate or Python evaluation node is a duplicated subtree or a scorer
    run twice."""
    heads = list(_HEADER.finditer(plan))
    names = [h.group(1) for h in heads]
    counts = {key: names.count(node) for key, node in NODES.items()}
    ends = [h.start() for h in heads[1:]] + [len(plan)]
    counts["rangePart"] = sum(
        h.group(1) == "Exchange" and "Arguments: rangepartitioning" in plan[h.end() : end]
        for h, end in zip(heads, ends)
    )
    # formatted mode tags codegen membership on the header: "[codegen id : N]"
    counts["codegen"] = sum("[codegen id : " in h.group(2) for h in heads)
    return counts


def audit_line(plan: str) -> str:
    """The one-line verdict printed per query."""
    c = node_counts(plan)
    pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
    # pre-execution AQE plans omit codegen annotations; only report when present
    cg = f"codegen={c['codegen']} " if c["codegen"] else ""
    return (
        f"{cg}exchange={c['exchange']} bhj={c['bhj']} smj={c['smj']} cartesian={c['cartesian']} "
        f"localScan={c['localScan']} window={c['window']} rangePart={c['rangePart']} "
        f"generate={c['generate']} pyEval={c['pyEval']} "
        f"pushedFilters={'yes' if pushed else 'none'}"
    )


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _pin_plans(spark, entry) -> dict:
    """Plan of each pin's building query, from one pipeline run."""
    from kgp.entry_support import fixture_model_for, load_transcripts
    from kgp.reuse import local_reuse
    from kgp.stages.pipeline import run_pipeline

    plans = {}

    def record(df, name):
        plans[name] = _plan(df)
        return local_reuse(df)

    model = fixture_model_for(spark, SF_DIR)
    run_pipeline(spark, load_transcripts(spark, SF_DIR), model, entry.CFG, reuse=record)
    return plans


def main():
    import __spark_entry__ as entry
    from kgp.session import get_spark

    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "plans")
    os.makedirs(outdir, exist_ok=True)
    qs = entry.queries()
    pins = _pin_plans(spark, entry)
    for name in AUDIT:
        plan = pins[PIN_OF[name]] if name in PIN_OF else _plan(qs[name](spark, SF_DIR))
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {audit_line(plan)}")
    spark.stop()


if __name__ == "__main__":
    main()
