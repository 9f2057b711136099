"""Mention detection (SURVEY.md F1/F2, P6/P7/P15): turns -> mentions.

One ``mapInPandas`` pass per Arrow batch of turns:
tokenize every turn (F1) -> gazetteer emission model (surrogate for the
BERT token tagger, CRF/modeling_bert.py:248-350; one table lookup over
the batch's tokens) -> length-sorted batch Viterbi over the turns with a
gazetteer hit (the CRF ``decode()`` path, CRF/main.py:311-318) -> BIO
decode to spans over the non-O positions (ner_format_utils.py:23-73
semantics) -> one row per turn with a mention, holding its spans. The
tagger parameters (token membership indexes) are built once driver-side
and shipped via broadcast, not captured per-task.

``mention_id`` (:func:`mention_id`) is a content hash (xxhash64 over
conv_id|turn_idx|start|end) computed with the Spark builtin AFTER the UDF,
on flat rows — cross-run stable, partition independent (SURVEY.md §4.3(2)).

A turn row with two or more spans also holds the turn's F1 tokens, cut at
its last mention's start: the relation stage pairs and slices inside it.
"""

from __future__ import annotations

from itertools import chain
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp.config import DEFAULT_CONFIG, PipelineConfig
from kgp.functions.surrogate import bio_decode, tokenize_batch
from kgp.ids import spark_stable_id_expr

TAGGED_SCHEMA = (
    "conv_id string, turn_idx int,"
    " spans array<struct<start:int, end:int, mention:string, label:string>>,"
    " tokens array<string>"
)


def tag_turns(
    spark: SparkSession,
    turns: DataFrame,
    surfaces: list,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    tagger: str = "crf",
) -> DataFrame:
    """ONE narrow pass over the turns: one row per turn with a mention, holding

    - ``spans``: the turn's mentions (start, end, mention, label) — the
      F2 output, unnested by :func:`mentions_from_tagged`;
    - ``tokens``: the turn's F1 tokens up to, not including, the start of
      its last mention — set ONLY for turns with >= 2 mentions, i.e.
      exactly the turns the relation stage can form a pair in. The
      relation head reads the tokens strictly between a head and a later
      tail, which all lie before the last mention's start.

    This is the fused fast path the e2e pipeline runs: the tagger already
    tokenizes every turn, so RE pairs and slices inside each turn row, with
    no re-tokenizing pass and no join on (conv_id, turn_idx).

    Input is the transcript/turn table (conv_id, turn_idx, text): the
    tagger is a NARROW map over turns, with no shuffle and no
    nested-struct Arrow conversion upstream.

    ``surfaces``: [(surface_string, entity_type)] — the tagger's gazetteer.
    ``tagger``: "crf" (emissions + Viterbi + BIO decode, the reference's
    best path) or "biaffine" (span scorer + greedy flat-NER decode, F3) —
    both behind this one interface, as in SURVEY.md §7 slice 3.
    """
    from kgp.functions.surrogate import build_tagger_params

    params_bc = spark.sparkContext.broadcast(build_tagger_params(surfaces))
    max_len = cfg.max_seq_len
    scheme = cfg.label_scheme
    if tagger not in ("crf", "biaffine"):
        raise ValueError(f"unknown tagger {tagger}")

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kgp.functions.surrogate import (
            ENTITY_TYPES,
            bio_spans_flat,
            emission_rows,
            emission_table,
            seq_starts,
            viterbi_flat,
        )

        b_index, i_index = params_bc.value
        vocab, table = emission_table(b_index, i_index)  # once per task
        for pdf in batches:
            conv_ids, turn_idxs, token_lists = [], [], []
            # vectorized F1 over the whole Arrow batch (same output as the
            # scalar tokenize(), property-tested)
            for conv_id, turn_idx, toks in zip(
                pdf["conv_id"], pdf["turn_idx"], tokenize_batch(pdf["text"])
            ):
                if toks:
                    conv_ids.append(conv_id)
                    turn_idxs.append(turn_idx)
                    token_lists.append(toks[:max_len])  # truncation, P5 analogue
            if not token_lists:
                continue
            if tagger == "crf":
                # decode only sequences with >=1 gazetteer hit: a no-hit
                # sequence has all-O emissions, whose Viterbi path is all-O
                # and decodes to zero spans
                lens = np.fromiter(map(len, token_lists), dtype=np.int64, count=len(token_lists))
                rows = emission_rows(list(chain.from_iterable(token_lists)), vocab)
                hit = np.maximum.reduceat(rows, seq_starts(lens)) > 0
                hit_lens = lens[hit]
                path = viterbi_flat(table[rows[np.repeat(hit, lens)]], hit_lens)
                seq, starts, ends, types = bio_spans_flat(path, seq_starts(hit_lens))
                span_lists = [[] for _ in token_lists]
                for q, s, e, t in zip(
                    np.flatnonzero(hit)[seq].tolist(), starts.tolist(), ends.tolist(), types.tolist()
                ):
                    span_lists[q].append((s, e, ENTITY_TYPES[t]))
            else:
                from kgp.functions.encoding import detect_spans_biaffine

                span_lists = [
                    detect_spans_biaffine(toks, b_index, i_index) for toks in token_lists
                ]
            if scheme != "v1":
                # P7 on the live path: word BIO -> sub-token labels under
                # scheme v2/v3 (WordPiece-style surrogate pieces) -> first-
                # piece collapse -> word spans. The round trip must be the
                # identity (ner_data_utils.py:376-410 encode /
                # ner_format_utils.py decode contract) — the driver query
                # checks the v2 run against the word-level gold, so any
                # piece-alignment bug breaks the hash.
                from kgp.functions.encoding import (
                    collapse_subtoken_labels,
                    subtoken_labels,
                    subtokenize,
                )
                from kgp.functions.surrogate import bio_encode

                redecoded = []
                for toks, spans in zip(token_lists, span_lists):
                    word_labels = bio_encode(len(toks), spans)
                    pieces, n_pieces = subtokenize(toks)
                    # alignment check INDEPENDENT of n_pieces: word starts
                    # are the non-"##" pieces, so the piece strings alone
                    # determine the word->piece alignment. The encode/
                    # decode round trip below is the identity for ANY
                    # n_pieces (first-piece labels survive collapse), so
                    # without this check a subtokenize misalignment could
                    # never break the driver query's hash.
                    n_check = []
                    for p in pieces:
                        if p.startswith("##") and n_check:
                            n_check[-1] += 1
                        else:
                            n_check.append(1)
                    if n_check != n_pieces:
                        raise ValueError(
                            f"subtokenize misalignment: pieces imply {n_check}, "
                            f"n_pieces says {n_pieces} for tokens {toks!r}"
                        )
                    sub = subtoken_labels(word_labels, n_pieces, scheme)
                    if len(sub) != len(pieces):
                        raise ValueError(
                            f"subtoken label/piece length mismatch: "
                            f"{len(sub)} labels vs {len(pieces)} pieces"
                        )
                    back = collapse_subtoken_labels(sub, n_pieces, scheme)
                    redecoded.append(bio_decode(back))
                span_lists = redecoded
            out = {"conv_id": [], "turn_idx": [], "spans": [], "tokens": []}
            for cid, tix, toks, spans in zip(conv_ids, turn_idxs, token_lists, span_lists):
                if not spans:
                    continue
                out["conv_id"].append(cid)
                out["turn_idx"].append(tix)
                out["spans"].append([
                    {"start": s, "end": e, "mention": " ".join(toks[s:e]), "label": label}
                    for s, e, label in spans
                ])
                # tokens only where RE pairs can exist, and none at or past
                # the last mention's start: RE reads tokens strictly between
                # a head and a later tail
                out["tokens"].append(toks[: max(s for s, _, _ in spans)] if len(spans) > 1 else None)
            # an empty frame would type its columns float64, which Arrow
            # cannot convert to the array<string> tokens column
            if out["conv_id"]:
                yield pd.DataFrame(out)

    # no per-span id here: an F.transform over the spans is an interpreted
    # lambda on the serial path (+0.8 s on a fresh JVM's tagger pass, 4 vCPUs)
    return turns.select("conv_id", "turn_idx", "text").mapInPandas(tag, schema=TAGGED_SCHEMA)


def mention_id(prefix: str = "") -> Column:
    """A mention's id from its key: conv_id, turn_idx, <prefix>start, <prefix>end."""
    return spark_stable_id_expr("conv_id", "turn_idx", f"{prefix}start", f"{prefix}end")


def mentions_from_tagged(tagged: DataFrame) -> DataFrame:
    """Turn rows -> mention rows (conv_id, turn_idx, start, end, mention,
    label, mention_id)."""
    mentions = tagged.select("conv_id", "turn_idx", F.inline("spans"))
    return mentions.withColumn("mention_id", mention_id())


def detect_mentions(
    spark: SparkSession,
    turns: DataFrame,
    surfaces: list,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    tagger: str = "crf",
) -> DataFrame:
    """turns -> mentions (the F2 contract; see :func:`tag_turns` for the
    fused single-pass variant the pipeline composes from)."""
    return mentions_from_tagged(tag_turns(spark, turns, surfaces, cfg, tagger))
