"""Relation classification (SURVEY.md F4, E-shape of
Relation_Extraction_and_Coreference_Resolution/model/modeling_bert.py:54-186).

Each pair row carries its turn's tokens (:func:`kgp.stages.pairs.re_pairs`),
so the tokens strictly between head and tail spans are an array ``slice``
on the pair row itself — JVM-side, no Python, no join — then a single
batched pandas UDF scores every pair into the 19-class SemEval
label space (surrogate: trigger featurizer + linear softmax — same argmax
contract as the reference's ``preds = logits.argmax``, trainer.py:210).
Pairs classified "Other" are dropped from the relations table, mirroring
the reference's treatment of Other as the null class.

Filter-before-UDF: the cheap structural filters (pair generation) run
before the scorer so the expensive UDF sees only real candidates
(SURVEY.md §4.4 cost placement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.functions.surrogate import ID2REL, OTHER_ID, TRIGGER2REL, scan_relation


def _relation_scorer():
    # the surrogate head has exactly |triggers|+1 distinct outcomes (first
    # trigger hit decides the argmax; no trigger -> Other), so the softmax
    # is precomputed per outcome FROM scan_relation — the UDF's per-row
    # work is just the first-trigger scan, with semantics still defined by
    # the one shared function the oracle uses
    outcome = {t: scan_relation([t]) for t in TRIGGER2REL}
    no_hit = scan_relation([])
    table = {t: (pid, float(np.max(sv))) for t, (pid, sv) in outcome.items()}
    default = (no_hit[0], float(np.max(no_hit[1])))

    @F.pandas_udf("struct<pred_id:int, score:double>")
    def scorer(between: pd.Series) -> pd.DataFrame:
        preds, scores = [], []
        for toks in between:
            res = default
            if toks is not None:
                for tok in toks:
                    hit = table.get(tok)
                    if hit is not None:
                        res = hit
                        break
            preds.append(res[0])
            scores.append(res[1])
        return pd.DataFrame({"pred_id": preds, "score": scores})

    return scorer


def classify_relations(re_pairs: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """re_pairs -> relations(conv_id, turn_idx, head/tail ids, rel_id, rel, score)."""
    between = F.slice(
        F.col("tokens"),
        F.col("a_end") + 1,  # slice() is 1-based; a_end is 0-based exclusive
        F.greatest(F.col("b_start") - F.col("a_end"), F.lit(0)),
    )
    # asNondeterministic: otherwise the "Other" filter below is pushed under
    # this projection with the UDF call inlined, and Spark evaluates the
    # scorer twice per pair (one Arrow round trip and Python worker each)
    scored = re_pairs.withColumn("res", _relation_scorer().asNondeterministic()(between))
    id2rel_items = sorted(ID2REL.items())
    rel_map = F.map_from_arrays(
        F.array(*[F.lit(i) for i, _ in id2rel_items]),
        F.array(*[F.lit(r) for _, r in id2rel_items]),
    )
    return (
        scored.where(F.col("res.pred_id") != OTHER_ID)
        .select(
            F.col("a_conv_id").alias("conv_id"),
            F.col("a_turn_idx").alias("turn_idx"),
            F.col("a_mention_id").alias("head_mention_id"),
            F.col("b_mention_id").alias("tail_mention_id"),
            F.col("res.pred_id").alias("rel_id"),
            rel_map[F.col("res.pred_id")].alias("rel"),
            F.col("res.score").alias("score"),
        )
    )
