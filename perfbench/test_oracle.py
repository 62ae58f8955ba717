"""Oracle and generator checks (pure Python, no Spark).

    python3 -m pytest perfbench -q
"""

import pytest

from mmkg_rag_spark.kernels.refpipeline import build_graph
from mmkg_rag_spark.kernels.similarity import ratio
from mmkg_rag_spark.sources.pages import image_manifest, page_record
from perfbench import corpus, oracle


@pytest.mark.parametrize("seed", [1, 7])
def test_distinct_record_replica_equals_full_replica(seed):
    docs = [(r["url"], r["text"]) for r in (page_record(d, seed) for d in range(250))]
    ents, rels, _, irs = build_graph(docs, set(image_manifest()))
    want = oracle.replica_graph(250, seed)
    assert want["nodes"] == {(e.name, e.label) for e in ents}
    assert want["triples"] == {(r.source, r.label, r.target) for r in rels}
    assert want["image_edges"] == {(r.source, r.label, r.target) for r in irs}


def test_prefixes_equal_replica_of_each_prefix():
    docs = [(r["url"], r["text"]) for r in (page_record(d, 3) for d in range(120))]
    prefixes, _ = oracle.replica_prefixes(docs, [0, 20, 120])
    for end, want in zip((20, 120), prefixes):
        ents, rels, _, _ = build_graph(docs[:end])
        assert want["nodes"] == {(e.name, e.label) for e in ents}
        assert want["triples"] == {(r.source, r.label, r.target) for r in rels}


def _norm(s):
    return " ".join(sorted(s.upper().split()))


def test_vocabulary_variants_join_and_entities_stay_apart():
    vocab = corpus.vocabulary(300, seed=5)
    for ent in vocab:
        assert len(ent.name) >= 22
        assert _norm(ent.reversed_name) == _norm(ent.name)
        assert ratio(_norm(ent.name), _norm(ent.misspelled)) >= 95
    by_token = {}
    for e, ent in enumerate(vocab):
        for tok in ent.name.split():
            by_token.setdefault(tok, []).append(e)
    # only entities sharing a token can come close; none may reach the bound
    for members in by_token.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                for fa in (vocab[a].name, vocab[a].misspelled, *vocab[a].aliases):
                    for fb in (vocab[b].name, vocab[b].misspelled, *vocab[b].aliases):
                        assert ratio(_norm(fa), _norm(fb)) < 95


def test_vocab_scores_on_planted_truth():
    vocab = corpus.vocabulary(50, seed=2)
    truth = corpus.Truth()
    corpus.vocab_pages(vocab, 2, 0, 40, truth)
    index = corpus.surface_index(vocab)
    # one node per entity holding every form seen, triples on canonical names
    nodes = [(sorted(forms)[0], sorted(forms)[1:]) for forms in truth.forms.values()]
    triples = {(vocab[s].name, lbl, vocab[t].name) for s, lbl, t in truth.triples}
    scores = oracle.vocab_scores(nodes, triples, truth, index)
    assert all(v == 1.0 for v in scores.values())
    # splitting every node loses all pairs; merging two entities adds wrong ones
    split = [(f, []) for forms in truth.forms.values() for f in forms]
    assert oracle.vocab_scores(split, triples, truth, index)["node_recall"] == 0.0
    (a, fa), (b, fb) = list(truth.forms.items())[:2]
    merged = [(sorted(fa)[0], sorted(fa)[1:] + sorted(fb))] + nodes[2:]
    assert oracle.vocab_scores(merged, triples, truth, index)["node_precision"] < 1.0


def test_pr():
    assert oracle.pr({1, 2}, {2, 3}) == (0.5, 0.5)
    assert oracle.pr(set(), set()) == (1.0, 1.0)
    assert oracle.pr(set(), {1}) == (0.0, 0.0)
