"""Single-process Python oracle (SURVEY.md §5.2-2).

Implements the SAME pipeline semantics as the distributed engine with no
Spark: plain dict/list dataflow over the transcript rows. The surrogate
model internals (tokenize/viterbi/BIO/trigger-scan/jaccard) are shared
with the engine via ``kgp.functions.surrogate`` — the differential test
therefore exercises everything the distributed engine adds on top:
document assembly, the banded self-joins, salted grouping, clustering,
the two-stage linking join, id assignment, dedup and union semantics.
"""

from __future__ import annotations

from collections import defaultdict

from kgp.config import DEFAULT_CONFIG, FixtureConfig, PipelineConfig
from kgp.fixtures import Entity, alias_dict_rows, make_gazetteer, tagger_surfaces
from kgp.functions.surrogate import (
    build_tagger_params,
    char_ngrams,
    detect_spans,
    jaccard,
    scan_relation,
    tokenize,
    ID2REL,
    OTHER_ID,
)
from kgp.ids import stable_id


def oracle_mentions(rows: list[dict], entities: list[Entity], detector: str = "crf") -> list[dict]:
    b_index, i_index = build_tagger_params(tagger_surfaces(entities))
    if detector == "biaffine":
        from kgp.functions.encoding import detect_spans_biaffine as detect
    else:
        detect = lambda t, b, i: detect_spans(t, b, i)  # noqa: E731
    out = []
    for r in rows:
        toks = tokenize(r["text"])
        for s, e, label in detect(toks, b_index, i_index):
            out.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "start": s,
                    "end": e,
                    "mention": " ".join(toks[s:e]),
                    "label": label,
                    "mention_id": stable_id(r["conv_id"], r["turn_idx"], s, e),
                }
            )
    return out


def oracle_relations(rows: list[dict], mentions: list[dict]) -> list[dict]:
    toks_by_turn = {(r["conv_id"], r["turn_idx"]): tokenize(r["text"]) for r in rows}
    by_turn = defaultdict(list)
    for m in mentions:
        by_turn[(m["conv_id"], m["turn_idx"])].append(m)
    out = []
    for key, ms in by_turn.items():
        ms = sorted(ms, key=lambda m: m["start"])
        toks = toks_by_turn[key]
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                if a["start"] < b["start"]:
                    pid, scores = scan_relation(toks[a["end"] : b["start"]])
                    if pid != OTHER_ID:
                        out.append(
                            {
                                "conv_id": key[0],
                                "turn_idx": key[1],
                                "head_mention_id": a["mention_id"],
                                "tail_mention_id": b["mention_id"],
                                "rel_id": pid,
                                "rel": ID2REL[pid],
                                "score": float(scores.max()),
                            }
                        )
    return out


def oracle_clusters(
    mentions: list[dict], surface_groups: dict, cfg: PipelineConfig
) -> list[dict]:
    by_conv = defaultdict(list)
    for m in mentions:
        by_conv[m["conv_id"]].append(m)
    out = []
    for conv_id, ms in by_conv.items():
        ms = sorted(ms, key=lambda m: (m["turn_idx"], m["start"]))
        parent = {m["mention_id"]: m["mention_id"] for m in ms}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                gap = b["turn_idx"] - a["turn_idx"]
                if gap > cfg.coref_turn_window:
                    break
                if a["label"] != b["label"]:
                    continue
                ga, gb = surface_groups.get(a["mention"]), surface_groups.get(b["mention"])
                if (ga is not None and ga == gb) or a["mention"] == b["mention"]:
                    score = 1.0
                else:
                    score = jaccard(a["mention"], b["mention"])
                if score > cfg.coref_threshold:
                    ra, rb = find(a["mention_id"]), find(b["mention_id"])
                    if ra != rb:
                        if ra < rb:
                            parent[rb] = ra
                        else:
                            parent[ra] = rb
        for m in ms:
            out.append(
                {
                    "conv_id": conv_id,
                    "mention_id": m["mention_id"],
                    "cluster_id": find(m["mention_id"]),
                }
            )
    return out


def oracle_links(
    mentions: list[dict], clusters: list[dict], entities: list[Entity], cfg: PipelineConfig
) -> tuple[list[dict], list[dict]]:
    """-> (links, candidates) with the SAME IDF-weighted recall ranking as
    kgp.stages.linking.link_clusters: w(g) = max(1, 16 - floor(log2 df))
    over distinct-alias gram document frequencies (integer weights ->
    exact rational scores, no float-order drift between engines)."""
    cluster_of = {c["mention_id"]: c["cluster_id"] for c in clusters}
    surfaces_by_cluster = defaultdict(set)
    for m in mentions:
        surfaces_by_cluster[cluster_of[m["mention_id"]]].add(m["mention"])
    # the dictionary is the SET of (normalized alias, entity_id) pairs
    aliases = list(
        dict.fromkeys((r["alias"].strip().lower(), r["entity_id"]) for r in alias_dict_rows(entities))
    )
    alias_exact = defaultdict(list)  # an alias may name several entities
    for a, eid in aliases:
        alias_exact[a].append(eid)
    alias_grams = [(a, eid, char_ngrams(a, cfg.ngram_size)) for a, eid in aliases]
    dfreq: dict = defaultdict(int)
    for a in sorted({a for a, _ in aliases}):
        for g in char_ngrams(a, cfg.ngram_size):
            dfreq[g] += 1

    def w(g):
        d = dfreq.get(g)
        return 16 if d is None else max(1, 16 - (d.bit_length() - 1))

    tw_a = {a: sum(w(g) for g in char_ngrams(a, cfg.ngram_size)) for a, _ in aliases}
    links, all_candidates = [], []
    for cluster_id in sorted(surfaces_by_cluster):
        candidates = []
        for surface in sorted(surfaces_by_cluster[cluster_id]):
            if surface in alias_exact:
                candidates += [(1.0, eid, surface, surface) for eid in alias_exact[surface]]
                continue
            sg = char_ngrams(surface, cfg.ngram_size)
            tw_s = sum(w(g) for g in sg)
            scored = []
            for alias, eid, ag in alias_grams:
                # stop-gram cap parity (linking.py): w==1 grams are
                # excluded from candidate overlap, kept in denominators
                ov_w = sum(w(g) for g in sg & ag if w(g) > 1)
                if ov_w:
                    scored.append((ov_w / (tw_s + tw_a[alias] - ov_w), eid, alias))
            scored.sort(key=lambda x: (-x[0], x[1], x[2]))
            for rs, eid, alias in scored[: cfg.recall_top_k]:
                score = jaccard(surface, alias, cfg.ngram_size)
                if score > cfg.link_threshold:
                    candidates.append((score, eid, surface, alias))
        for score, eid, surface, alias in candidates:
            all_candidates.append(
                {
                    "cluster_id": cluster_id,
                    "surface": surface,
                    "alias": alias,
                    "entity_id": eid,
                    "score": score,
                }
            )
        if candidates:
            candidates.sort(key=lambda x: (-x[0], x[1], x[2], x[3]))
            score, eid, _, _ = candidates[0]
            links.append({"cluster_id": cluster_id, "entity_id": eid, "score": score})
    return links, all_candidates


def oracle_triples(relations: list[dict], clusters: list[dict], links: list[dict]) -> list[dict]:
    cluster_of = {c["mention_id"]: c["cluster_id"] for c in clusters}
    entity_of = {l["cluster_id"]: l["entity_id"] for l in links}
    grouped = defaultdict(set)
    for r in relations:
        subj = entity_of.get(cluster_of.get(r["head_mention_id"]))
        obj = entity_of.get(cluster_of.get(r["tail_mention_id"]))
        if subj is None or obj is None:
            continue
        grouped[(r["conv_id"], subj, r["rel"], obj)].add(r["turn_idx"])
    return [
        {"conv_id": c, "subj": s, "pred": p, "obj": o, "src_turns": sorted(turns)}
        for (c, s, p, o), turns in sorted(grouped.items())
    ]


def oracle_edges(triples: list[dict]) -> list[tuple]:
    ents = sorted({t["subj"] for t in triples} | {t["obj"] for t in triples})
    rels = sorted({t["pred"] for t in triples})
    eid = {e: i for i, e in enumerate(ents)}
    rid = {r: i for i, r in enumerate(rels)}
    fwd = sorted({(eid[t["subj"]], rid[t["pred"]], eid[t["obj"]]) for t in triples})
    rev = [(t, r + len(rels), h) for h, r, t in fwd]
    return fwd + rev


def oracle_pipeline(
    rows: list[dict],
    entities: list[Entity] | None = None,
    fixture_cfg: FixtureConfig | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> dict:
    entities = entities or make_gazetteer(fixture_cfg or FixtureConfig())
    surface_groups = {s: e.idx for e in entities for s in e.surfaces}
    mentions = oracle_mentions(rows, entities)
    relations = oracle_relations(rows, mentions)
    clusters = oracle_clusters(mentions, surface_groups, cfg)
    links, candidates = oracle_links(mentions, clusters, entities, cfg)
    triples = oracle_triples(relations, clusters, links)
    edges = oracle_edges(triples)
    return {
        "mentions": mentions,
        "relations": relations,
        "clusters": clusters,
        "links": links,
        "candidates": candidates,
        "triples": triples,
        "edges": edges,
    }
