"""Deterministic surrogate-model internals, shared by Spark UDFs and oracle.

The reference pipeline's neural scorers are absent (trained weights were
stripped — /root/reference/.MISSING_LARGE_BLOBS), so every scorer is a
deterministic surrogate with the SAME operator shape as the reference
(SURVEY.md §2.10):

- F1 tokenizer        -> :func:`tokenize` (whitespace + punctuation split,
                         lowercase; parity with BasicTokenizer behaviour the
                         EL text-equality invariant needs, P10/P13/P15)
- F2 token tagger     -> :func:`build_emissions` (gazetteer-membership
                         emission model standing in for BERT logits,
                         CRF/modeling_bert.py:248-350) + :func:`viterbi`
                         (the CRF ``decode()`` path, CRF/main.py:311-318)
                         + :func:`bio_decode` (BIO -> spans,
                         src/data_utils/ner_format_utils.py:23-73 semantics)
- F4 relation scorer  -> :func:`scan_relation` (trigger-phrase featurizer +
                         argmax over the 19-class SemEval label space,
                         model/modeling_bert.py:54-186 shape)
- F6 EL cross-encoder -> :func:`jaccard` over :func:`char_ngrams`
                         (monotone score in [0,1] so the reference's
                         threshold sweep stays meaningful, eval_el.py:259-291)

Everything here is pure (no Spark imports) so the single-process oracle and
the distributed pipeline share one source of truth for model semantics; the
differential tests then exercise the *dataflow* (joins, grouping, salting,
ids, dedup) — see SURVEY.md §5.2.
"""

from __future__ import annotations

import re

import numpy as np

NEG = -1e4  # "disallowed" log-score

# BIO label space over the gazetteer's four entity types (FIXTURES.md §A4)
ENTITY_TYPES = ("PER", "ORG", "LOC", "MISC")
LABELS = ("O",) + tuple(f"{p}-{t}" for t in ENTITY_TYPES for p in ("B", "I"))
LABEL2ID = {lb: i for i, lb in enumerate(LABELS)}

_PUNCT_RE = re.compile(r"([.,!?;:()\[\]\"'])")
_WS_RE = re.compile(r"\s+")
_CONTROL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def normalize_text(s: str) -> str:
    """Control-char strip + whitespace collapse + lowercase.

    Parity with the reference's BasicTokenizer._clean_text + strip + lower
    chain (prepare_el_index.py:21, CRF/main.py:482-484); the per-turn
    text-equality invariant depends on this being the ONLY normalization.
    """
    s = _CONTROL_RE.sub("", s)
    return _WS_RE.sub(" ", s).strip().lower()


def tokenize(text: str) -> list[str]:
    """Whitespace split with punctuation as standalone tokens (P15 + Basic
    tokenizer punctuation-splitting behaviour)."""
    return [t for t in _WS_RE.split(_PUNCT_RE.sub(r" \1 ", normalize_text(text))) if t]


def tokenize_batch(texts) -> list[list[str]]:
    """Vectorized twin of :func:`tokenize` over a pandas Series.

    Same regexes, same output per row (property-tested against the scalar
    form), but applied through pandas' C-level str loops — the scalar
    chain's intermediate whitespace collapse + strip are provably
    redundant under the final whitespace split, so the vectorized chain
    is control-strip -> lower -> punct-spacing -> whitespace split (which
    drops empty fields). This is the tagger hot path: per-row Python
    function call + join overhead dominates at millions of turns.
    """
    s = texts.fillna("")
    s = s.str.replace(_CONTROL_RE, "", regex=True)
    s = s.str.lower()
    s = s.str.replace(_PUNCT_RE, r" \1 ", regex=True)
    return s.str.split().tolist()


# ---------------------------------------------------------------------------
# F2: emission model + Viterbi + BIO decode
# ---------------------------------------------------------------------------


def build_tagger_params(surfaces: list[tuple[str, str]]):
    """Compile gazetteer surfaces [(surface, type)] into emission features.

    Returns (b_index, i_index): token -> set of entity types for which the
    token begins / continues some known surface form. This is the broadcast
    "model" of the surrogate tagger.
    """
    b_index: dict[str, set] = {}
    i_index: dict[str, set] = {}
    for surface, etype in surfaces:
        toks = tokenize(surface)
        if not toks:
            continue
        b_index.setdefault(toks[0], set()).add(etype)
        for t in toks[1:]:
            i_index.setdefault(t, set()).add(etype)
    return b_index, i_index


def build_emissions(tokens: list[str], b_index, i_index) -> np.ndarray:
    """Per-token label scores, shape (n, |LABELS|) — the surrogate for BERT
    emission logits feeding CRF decode."""
    n = len(tokens)
    em = np.full((n, len(LABELS)), NEG, dtype=np.float64)
    em[:, LABEL2ID["O"]] = 1.0
    for i, tok in enumerate(tokens):
        for t in b_index.get(tok, ()):
            em[i, LABEL2ID[f"B-{t}"]] = 2.0
        for t in i_index.get(tok, ()):
            em[i, LABEL2ID[f"I-{t}"]] = 2.0
    return em


def emission_table(b_index, i_index) -> tuple:
    """Compile the gazetteer indexes into a lookup table: ``(vocab, table)``
    where ``vocab`` is a ``pd.Index`` of every token that hits either index
    and ``table`` holds the O-row at row 0 and, at row ``k + 1``, the
    :func:`build_emissions` row of ``vocab[k]``. Built once per task; see
    :func:`emission_rows`."""
    import pandas as pd

    vocab = pd.Index(sorted(set(b_index) | set(i_index)), dtype=object)
    o_row = build_emissions([""], {}, {})
    return vocab, np.vstack([o_row, build_emissions(list(vocab), b_index, i_index)])


def emission_rows(tokens, vocab) -> np.ndarray:
    """Table row id of each token in one vectorized hash lookup: 0 (the
    O-row) for a token that hits no index. ``table[emission_rows(toks,
    vocab)]`` equals ``build_emissions(toks, b_index, i_index)`` row for
    row."""
    return vocab.get_indexer(np.asarray(tokens, dtype=object)) + 1


def transition_matrix() -> np.ndarray:
    """CRF transition scores: I-T reachable only from B-T / I-T (flat BIO)."""
    L = len(LABELS)
    tr = np.zeros((L, L), dtype=np.float64)
    for j, lj in enumerate(LABELS):
        if lj.startswith("I-"):
            t = lj[2:]
            for i, li in enumerate(LABELS):
                if li not in (f"B-{t}", f"I-{t}"):
                    tr[i, j] = NEG
    return tr


_TRANS = transition_matrix()
_START = np.array([NEG if lb.startswith("I-") else 0.0 for lb in LABELS])
# labels reachable from every label at no cost, and the transposed
# (to, from) rows of the others, for viterbi_flat
_FREE = np.flatnonzero(~_TRANS.any(axis=0))
_BOUND = np.flatnonzero(_TRANS.any(axis=0))
_TRANS_BOUND = np.ascontiguousarray(_TRANS.T[_BOUND])


def viterbi(emissions: np.ndarray, trans: np.ndarray | None = None) -> list[int]:
    """Vectorized max-sum decode (the CRF ``decode()`` semantics).

    Ties broken toward the lowest label id (np.argmax convention) — the
    deterministic tie-break rule both engine and oracle share.
    """
    if emissions.shape[0] == 0:
        return []
    tr = _TRANS if trans is None else trans
    n, L = emissions.shape
    score = _START + emissions[0]
    back = np.zeros((n, L), dtype=np.int64)
    for t in range(1, n):
        cand = score[:, None] + tr  # (from, to)
        back[t] = np.argmax(cand, axis=0)
        score = cand[back[t], np.arange(L)] + emissions[t]
    path = [int(np.argmax(score))]
    for t in range(n - 1, 0, -1):
        path.append(int(back[t, path[-1]]))
    return path[::-1]


def seq_starts(lens) -> np.ndarray:
    """Flat start position of each of back-to-back sequences of ``lens``."""
    lens = np.asarray(lens, dtype=np.int64)
    return np.cumsum(lens) - lens


def viterbi_flat(emissions: np.ndarray, lens) -> np.ndarray:
    """Viterbi over a batch of sequences stored back to back in one flat
    (tokens x labels) array; returns the flat label-id path (int8), in the
    same order. Equal to :func:`viterbi` per sequence.

    The sequences are sorted by length (longest first) and packed time-
    major, so step t works on one contiguous block holding the sequences
    still active at t and no step touches padding. Backpointers are int8
    and the backtrack steps every active sequence at once.
    """
    lens = np.asarray(lens, dtype=np.int64)
    n = int(lens.sum())
    if n == 0:
        return np.zeros(0, dtype=np.int8)
    L = len(LABELS)
    order = np.argsort(-lens, kind="stable")  # rank -> sequence
    slens = lens[order]
    T = int(slens[0])
    # width[t] = sequences active at step t; step t's block starts at at[t]
    width = np.searchsorted(-slens, -np.arange(T), side="left")
    at = seq_starts(width)
    starts = seq_starts(lens)
    # packed position of every flat token: at[t] + rank of its sequence
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    seq = np.repeat(np.arange(len(lens)), lens)
    t_of = np.arange(n) - starts[seq]
    pos = at[t_of] + rank[seq]
    em = np.empty((n, L), dtype=np.float64)
    em[pos] = emissions

    back = np.zeros((n, L), dtype=np.int8)
    last = np.zeros(len(lens), dtype=np.int64)  # by rank
    score = _START[None, :] + em[: width[0]]
    for t in range(1, T):
        k = int(width[t])
        if k < score.shape[0]:  # ranks k.. ended at t - 1
            last[k : score.shape[0]] = np.argmax(score[k:], axis=1)
            score = score[:k]
        # a label whose transition column is all 0 takes the plain argmax
        # of the scores (x + 0.0 == x); only the constrained labels need
        # the (k, to, from) candidate block
        best, new = np.empty((k, L), dtype=np.int8), np.empty((k, L))
        m = np.argmax(score, axis=1)
        best[:, _FREE] = m[:, None]
        new[:, _FREE] = score[np.arange(k), m][:, None]
        cand = score[:, None, :] + _TRANS_BOUND[None, :, :]
        bm = np.argmax(cand, axis=2)
        best[:, _BOUND] = bm
        new[:, _BOUND] = np.take_along_axis(cand, bm[:, :, None], axis=2)[:, :, 0]
        back[at[t] : at[t] + k] = best
        score = new + em[at[t] : at[t] + k]
    last[: score.shape[0]] = np.argmax(score, axis=1)

    packed = np.empty(n, dtype=np.int8)
    cur = last
    for t in range(T - 1, 0, -1):
        k = int(width[t])
        packed[at[t] : at[t] + k] = cur[:k]
        cur[:k] = back[at[t] + np.arange(k), cur[:k]]
    packed[: width[0]] = cur[: width[0]]
    return packed[pos]


def batch_viterbi(emissions_list: list[np.ndarray]) -> list[list[int]]:
    """Viterbi over a whole batch of sequences at once (:func:`viterbi_flat`
    over the concatenated emissions). Produces exactly the same paths as
    :func:`viterbi` per sequence."""
    if not emissions_list:
        return []
    lens = [e.shape[0] for e in emissions_list]
    flat = np.concatenate([e.reshape(-1, len(LABELS)) for e in emissions_list])
    path = viterbi_flat(flat, lens)
    return [p.tolist() for p in np.split(path.astype(np.int64), np.cumsum(lens)[:-1])]


def bio_spans_flat(path: np.ndarray, starts: np.ndarray):
    """:func:`bio_decode` over a flat label-id path of back-to-back
    sequences (``starts`` = each sequence's first flat position), visiting
    only the non-O positions. Returns ``(seq, start, end, type_id)`` arrays
    of every span, sequence by sequence in order; ``start``/``end`` are
    positions within the sequence and ``ENTITY_TYPES[type_id]`` is the
    label. Relies on the label layout O, B-T, I-T, B-T', I-T', ..."""
    path, starts = np.asarray(path), np.asarray(starts, dtype=np.int64)
    nz = np.flatnonzero(path)
    if len(nz) == 0:
        return (np.zeros(0, dtype=np.int64),) * 4
    lab = path[nz].astype(np.int64) - 1
    typ, inside = lab // 2, (lab % 2) == 1
    seq_start = np.zeros(len(path) + 1, dtype=bool)
    seq_start[starts] = True
    # an I-T continues the span of the position just before it when that
    # position holds T and is in the same sequence; anything else opens one
    cont = np.zeros(len(nz), dtype=bool)
    cont[1:] = (nz[1:] == nz[:-1] + 1) & (typ[1:] == typ[:-1])
    cont &= inside & ~seq_start[nz]
    first = np.flatnonzero(~cont)
    span_start = nz[first]
    span_end = nz[np.append(first[1:], len(nz)) - 1] + 1
    seq = np.searchsorted(starts, span_start, side="right") - 1
    return seq, span_start - starts[seq], span_end - starts[seq], typ[first]


def bio_encode(n: int, spans: list[tuple[int, int, str]]) -> list[str]:
    """Span list -> word-level BIO sequence (P6, ner_data_utils.py:361-368
    semantics; later spans overwrite earlier on conflict, as the reference's
    in-place assignment does)."""
    seq = ["O"] * n
    for s, e, label in spans:
        for i in range(s, min(e, n)):
            seq[i] = ("B-" if i == s else "I-") + label
    return seq


def bio_decode(labels: list[str]) -> list[tuple[int, int, str]]:
    """BIO sequence -> [(start, end_exclusive, type)] spans.

    Same tolerance as the reference decoder (ner_format_utils.py:23-73):
    an I-T with no open T entity starts a new entity (treated as B).
    """
    spans = []
    start, cur = -1, None
    for i, lb in enumerate(labels):
        if lb.startswith("B-") or (lb.startswith("I-") and lb[2:] != cur):
            if cur is not None:
                spans.append((start, i, cur))
            start, cur = i, lb[2:]
        elif lb == "O":
            if cur is not None:
                spans.append((start, i, cur))
            start, cur = -1, None
    if cur is not None:
        spans.append((start, len(labels), cur))
    return spans


def detect_spans(tokens: list[str], b_index, i_index) -> list[tuple[int, int, str]]:
    """Full F2 chain: emissions -> Viterbi -> BIO decode."""
    em = build_emissions(tokens, b_index, i_index)
    path = viterbi(em)
    return bio_decode([LABELS[i] for i in path])


# ---------------------------------------------------------------------------
# F4: relation classifier surrogate (19-class SemEval space)
# ---------------------------------------------------------------------------

# SemEval-2010 Task 8 label map — data parity with
# Relation_Extraction_and_Coreference_Resolution/data/semeval10/semeval_rel2id.json
REL2ID = {
    "Component-Whole(e2,e1)": 0,
    "Other": 1,
    "Instrument-Agency(e2,e1)": 2,
    "Member-Collection(e1,e2)": 3,
    "Cause-Effect(e2,e1)": 4,
    "Entity-Destination(e1,e2)": 5,
    "Content-Container(e1,e2)": 6,
    "Message-Topic(e1,e2)": 7,
    "Product-Producer(e2,e1)": 8,
    "Member-Collection(e2,e1)": 9,
    "Entity-Origin(e1,e2)": 10,
    "Cause-Effect(e1,e2)": 11,
    "Component-Whole(e1,e2)": 12,
    "Message-Topic(e2,e1)": 13,
    "Product-Producer(e1,e2)": 14,
    "Entity-Origin(e2,e1)": 15,
    "Content-Container(e2,e1)": 16,
    "Instrument-Agency(e1,e2)": 17,
    "Entity-Destination(e2,e1)": 18,
}
ID2REL = {v: k for k, v in REL2ID.items()}
N_RELATIONS = len(REL2ID)
OTHER_ID = REL2ID["Other"]

# one trigger token per non-Other class: the deterministic signal the
# fixture generator plants between entity pairs
TRIGGER2REL = {
    "comprises": "Component-Whole(e2,e1)",
    "wields": "Instrument-Agency(e2,e1)",
    "joins": "Member-Collection(e1,e2)",
    "stems": "Cause-Effect(e2,e1)",
    "enters": "Entity-Destination(e1,e2)",
    "holds": "Content-Container(e1,e2)",
    "discusses": "Message-Topic(e1,e2)",
    "manufactures": "Product-Producer(e2,e1)",
    "gathers": "Member-Collection(e2,e1)",
    "originates": "Entity-Origin(e1,e2)",
    "causes": "Cause-Effect(e1,e2)",
    "forms": "Component-Whole(e1,e2)",
    "covers": "Message-Topic(e2,e1)",
    "produces": "Product-Producer(e1,e2)",
    "spawns": "Entity-Origin(e2,e1)",
    "stores": "Content-Container(e2,e1)",
    "operates": "Instrument-Agency(e1,e2)",
    "ships": "Entity-Destination(e2,e1)",
}


def scan_relation(between_tokens: list[str]) -> tuple[int, np.ndarray]:
    """Classify the tokens strictly between a mention pair.

    Surrogate for the pair-encoded BERT head (CLS ⊕ head ⊕ tail features,
    model/modeling_bert.py:150-162): bag-of-triggers featurizer + linear
    softmax whose argmax equals the first trigger hit; no trigger -> Other.
    Returns (pred_id, score_vector).
    """
    logits = np.zeros(N_RELATIONS, dtype=np.float64)
    logits[OTHER_ID] = 1.0
    for tok in between_tokens:
        rel = TRIGGER2REL.get(tok)
        if rel is not None:
            logits[REL2ID[rel]] = 4.0
            break  # first trigger wins (deterministic)
    ex = np.exp(logits - logits.max())
    return int(np.argmax(logits)), ex / ex.sum()


# ---------------------------------------------------------------------------
# F6: EL cross-encoder surrogate
# ---------------------------------------------------------------------------


def char_ngrams(s: str, n: int = 3) -> set:
    """Padded character n-gram shingles of the normalized string."""
    s = "#" + normalize_text(s) + "#"
    if len(s) < n:
        return {s}
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Char-ngram Jaccard in [0,1] — the calibrated stand-in for
    softmax(logits)[:,1] of the EL cross-encoder (eval_el.py:259-283)."""
    ga, gb = char_ngrams(a, n), char_ngrams(b, n)
    inter = len(ga & gb)
    if inter == 0:
        return 0.0
    return inter / (len(ga) + len(gb) - inter)
