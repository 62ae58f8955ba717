"""Expected outputs and precision/recall scoring.

Generator-corpus workloads are checked against the pure-Python reference
replica (``kernels/refpipeline``): extraction per chunk and image linking per
page are the replica's own functions; its greedy dedup runs over the
*distinct* entity records instead of every mention, which keeps its output
(canonical names, labels, triples) and turns an hours-long quadratic scan
into seconds. ``test_oracle.py`` pins the two equal on a small corpus.

The vocabulary corpus is checked against its planted truth (``corpus.py``).
"""

from __future__ import annotations

import time
from itertools import combinations

from mmkg_rag_spark.kernels.canonicalize import deduplicate_sync
from mmkg_rag_spark.kernels.chunker import split_text_to_chunks
from mmkg_rag_spark.kernels.refpipeline import extract_chunk, mmodal_index
from mmkg_rag_spark.sources.pages import image_manifest, page_record

PR_BOUND = 0.95
SCORES = tuple(f"{kind}_{m}" for kind in ("node", "triple", "image_edge") for m in ("precision", "recall"))


def _extract(docs, chunk_size: int, overlap: int):
    """Replica extraction per page: (distinct entity records, relations)."""
    per_doc = []
    for _url, text in docs:
        entities, relations = [], []
        for chunk in split_text_to_chunks(text, chunk_size, overlap):
            es, rs = extract_chunk(chunk)
            entities.extend(es)
            relations.extend(rs)
        per_doc.append((entities, relations))
    return per_doc


def _dedup(per_doc):
    entities, relations, seen = [], [], set()
    for es, rs in per_doc:
        for e in es:
            key = (e.name, e.label, e.description, tuple(e.aliases or ()))
            if key not in seen:
                seen.add(key)
                entities.append(e)
        relations.extend(rs)
    return deduplicate_sync(entities, relations)


def replica_graph(n_docs: int, seed: int, chunk_size: int = 8000, overlap: int = 400) -> dict:
    """Expected node, triple and image-edge sets of the generator corpus."""
    t0 = time.perf_counter()
    docs = [(r["url"], r["text"]) for r in (page_record(d, seed) for d in range(n_docs))]
    entities, relations = _dedup(_extract(docs, chunk_size, overlap))
    valid = set(image_manifest())
    image_edges = set()
    for _url, text in docs:
        irs, _ = mmodal_index(text, entities, valid)
        image_edges.update((r.source, r.label, r.target) for r in irs)
    return {
        "nodes": {(e.name, e.label) for e in entities},
        "triples": {(r.source, r.label, r.target) for r in relations},
        "image_edges": image_edges,
        "pages_per_s": n_docs / (time.perf_counter() - t0),
    }


def replica_prefixes(docs, bounds: list[int], chunk_size: int = 8000, overlap: int = 400) -> tuple[list[dict], float]:
    """Expected nodes and triples of ``docs[:end]`` for each ``end`` in
    ``bounds[1:]`` — the stored graph after each micro-batch fold — and the
    replica's pages/s.
    The fold links no images, so the expected image-edge set is empty."""
    t0 = time.perf_counter()
    per_doc = _extract(docs, chunk_size, overlap)
    out = []
    for end in bounds[1:]:
        entities, relations = _dedup(per_doc[:end])
        out.append({
            "nodes": {(e.name, e.label) for e in entities},
            "triples": {(r.source, r.label, r.target) for r in relations},
            "image_edges": set(),
        })
    return out, len(docs) / (time.perf_counter() - t0)


def pr(got: set, want: set) -> tuple[float, float]:
    """(precision, recall); an empty output against an empty truth scores 1."""
    hit = len(got & want)
    return (hit / len(got) if got else float(not want),
            hit / len(want) if want else float(not got))


def graph_scores(got: dict, want: dict) -> dict[str, float]:
    """P/R of nodes, triples and image edges of a generator-corpus build."""
    out = {}
    for key, kind in (("nodes", "node"), ("triples", "triple"), ("image_edges", "image_edge")):
        out[f"{kind}_precision"], out[f"{kind}_recall"] = pr(got[key], want[key])
    return out


def form_pairs(clusters) -> set[frozenset]:
    return {frozenset(p) for c in clusters for p in combinations(sorted(c), 2)}


def vocab_scores(nodes: list[tuple[str, list[str]]], triples: set, truth, index: dict) -> dict[str, float]:
    """P/R of a vocabulary-corpus graph against planted truth.

    Nodes are scored over pairs of surface forms placed in one node; triples
    after mapping each endpoint to its planted entity (an endpoint that is no
    planted surface form maps to itself and can only count as wrong).
    """
    out = {}
    out["node_precision"], out["node_recall"] = pr(
        form_pairs([name, *aliases] for name, aliases in nodes),
        form_pairs(truth.forms.values()),
    )
    mapped = {(index.get(s, s), lbl, index.get(t, t)) for s, lbl, t in triples}
    out["triple_precision"], out["triple_recall"] = pr(mapped, truth.triples)
    # the fold path links no images and the oracle expects none
    out["image_edge_precision"], out["image_edge_recall"] = pr(set(), set())
    return out


def passes(scores: dict[str, float]) -> bool:
    """Node and triple P/R at or above the bound; image edges are reported only."""
    return all(scores[k] >= PR_BOUND for k in (
        "node_precision", "node_recall", "triple_precision", "triple_recall"))
