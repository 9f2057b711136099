"""Parity of the tagger kernel with the scalar F2 chain the oracle runs:
flat Viterbi, emission table lookup, sparse BIO decode, and the Spark
tagger pass over empty partitions; plus the one-split scan of a small
one-row-group file."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kgp.functions.surrogate import (
    ENTITY_TYPES,
    LABELS,
    NEG,
    batch_viterbi,
    bio_decode,
    bio_spans_flat,
    build_emissions,
    build_tagger_params,
    emission_rows,
    emission_table,
    seq_starts,
    tokenize,
    viterbi,
)


def _emissions(rng, n, tied):
    # tied: the tagger's own value set, so argmax ties are common
    if tied:
        return rng.choice([NEG, 1.0, 2.0], size=(n, len(LABELS)))
    return rng.normal(size=(n, len(LABELS)))


@given(
    st.lists(st.integers(0, 600), max_size=6),
    st.integers(0, 10**9),
    st.booleans(),
)
@settings(max_examples=25, deadline=None)
def test_batch_viterbi_matches_viterbi(lens, seed, tied):
    rng = np.random.default_rng(seed)
    ems = [_emissions(rng, n, tied) for n in lens]
    assert batch_viterbi(ems) == [viterbi(e) for e in ems]


@given(
    st.integers(300, 600),
    st.lists(st.integers(0, 5), min_size=10, max_size=40),
    st.integers(0, 10**9),
    st.booleans(),
)
@settings(max_examples=10, deadline=None)
def test_batch_viterbi_one_long_among_short(long_len, short_lens, seed, tied):
    rng = np.random.default_rng(seed)
    lens = list(short_lens)
    lens.insert(int(rng.integers(0, len(lens) + 1)), long_len)
    ems = [_emissions(rng, n, tied) for n in lens]
    assert batch_viterbi(ems) == [viterbi(e) for e in ems]


def _gazetteer():
    from kgp.config import FixtureConfig
    from kgp.fixtures import make_gazetteer, tagger_surfaces

    return build_tagger_params(tagger_surfaces(make_gazetteer(FixtureConfig(n_entities=40))))


@given(st.integers(0, 10**9))
@settings(max_examples=20, deadline=None)
def test_emission_lookup_matches_build_emissions(seed):
    b_index, i_index = _gazetteer()
    vocab, table = emission_table(b_index, i_index)
    words = sorted(set(b_index) | set(i_index)) + ["the", "stems", "zzz", ".", ""]
    rng = np.random.default_rng(seed)
    toks = [words[i] for i in rng.integers(len(words), size=int(rng.integers(0, 50)))]
    got = table[emission_rows(toks, vocab)]
    assert got.shape == (len(toks), len(LABELS))
    assert np.array_equal(got, build_emissions(toks, b_index, i_index))


def test_emission_lookup_empty_gazetteer():
    vocab, table = emission_table({}, {})
    toks = ["a", "b"]
    assert np.array_equal(table[emission_rows(toks, vocab)], build_emissions(toks, {}, {}))
    assert emission_rows([], vocab).shape == (0,)


# about half the positions O, as in real paths
_LABEL_ID = st.one_of(st.just(0), st.integers(0, len(LABELS) - 1))


@given(st.lists(st.lists(_LABEL_ID, max_size=12), max_size=8))
@settings(max_examples=100, deadline=None)
def test_sparse_span_decode_matches_bio_decode(paths):
    flat = np.array([x for p in paths for x in p], dtype=np.int8)
    seq, starts, ends, types = bio_spans_flat(flat, seq_starts([len(p) for p in paths]))
    got = [[] for _ in paths]
    for q, s, e, t in zip(seq, starts, ends, types):
        got[q].append((int(s), int(e), ENTITY_TYPES[t]))
    assert got == [bio_decode([LABELS[i] for i in p]) for p in paths]


def test_tag_turns_with_empty_partitions_matches_oracle(spark):
    """The tagger pass over a frame with empty partitions yields one row
    per turn with a mention: the oracle's mentions as its spans, and for a
    multi-mention turn the turn's tokens up to its last mention's start."""
    from collections import defaultdict

    from kgp.config import DEFAULT_CONFIG, FixtureConfig
    from kgp.fixtures import make_gazetteer, make_transcripts, tagger_surfaces, transcripts_df
    from kgp.oracle import oracle_mentions
    from kgp.stages.mentions import mentions_from_tagged, tag_turns

    fx = FixtureConfig(n_conversations=5, n_entities=20)
    turns = transcripts_df(spark, fx).repartition(12, "conv_id")
    assert 0 in turns.rdd.glom().map(len).collect()
    gaz = make_gazetteer(fx)
    tagged = tag_turns(spark, turns, tagger_surfaces(gaz), DEFAULT_CONFIG).localCheckpoint()

    rows = make_transcripts(fx)
    want = oracle_mentions(rows, gaz)
    cols = ["conv_id", "turn_idx", "start", "end", "mention", "label", "mention_id"]
    got = sorted(tuple(r) for r in mentions_from_tagged(tagged).select(cols).collect())
    assert want and got == sorted(tuple(m[c] for c in cols) for m in want)

    spans = defaultdict(list)
    for m in want:
        spans[(m["conv_id"], m["turn_idx"])].append(tuple(m[c] for c in cols[2:6]))
    text = {(r["conv_id"], r["turn_idx"]): r["text"] for r in rows}
    turns = {(r["conv_id"], r["turn_idx"]): r for r in tagged.collect()}
    assert turns.keys() == spans.keys()
    for k, r in turns.items():
        assert sorted(tuple(s) for s in r["spans"]) == sorted(spans[k])
        starts = [s[0] for s in spans[k]]
        cut = tokenize(text[k])[: max(starts)] if len(starts) >= 2 else None
        assert r["tokens"] == cut, k
    assert any(r["tokens"] for r in turns.values())


def test_small_one_row_group_file_is_one_split(spark, tmp_path):
    """A one-row-group Parquet file under the 4 MB open cost scans as one
    input partition (a Parquet split never divides a row group, so any
    other split is an empty task)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    text = [rng.bytes(48).hex() for _ in range(20_000)]
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(pa.table({"text": text}), path, row_group_size=len(text))
    assert pq.ParquetFile(path).num_row_groups == 1
    assert 1 << 20 < os.path.getsize(path) < 4 << 20
    assert spark.read.parquet(path).rdd.getNumPartitions() == 1
