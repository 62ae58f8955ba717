"""Both physical strategies of the D-phase must agree.

The adaptive thresholds (operators/dedup.py, functions/components.py) pick
driver-side union-find / pairwise similarity below a size cutoff and the
distributed MinHash-LSH + iterative min-label loop above it. Forcing each
path on the same input must yield identical canonical entities and mapping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark.functions.components import (
    connected_components,
    connected_components_star,
    union_find_local,
)
from mmkg_rag_spark.operators.dedup import canonicalize_entities


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-ded")


MENTIONS = [
    # (url, chunk_id, name, label, description, aliases, references)
    ("u1", 1, "Ada Lovelace", "PERSON", "pioneer", ["Ada"], ["r1"]),
    ("u2", 1, "Lovelace Ada", "PERSON", "computing pioneer", [], ["r2"]),
    ("u3", 1, "ADA LOVELACE", "PERSON", "pioneer", [], []),
    ("u4", 1, "Grace Hopper", "PERSON", "compilers", ["Grace"], []),
    ("u5", 1, "Acme Systems", "ORG", "vendor", [], []),
]
SCHEMA = (
    "url string, chunk_id int, name string, label string, description string, "
    "aliases array<string>, references array<string>"
)


@pytest.fixture(scope="module")
def mentions(spark):
    return spark.createDataFrame(MENTIONS, SCHEMA)


def _result_sets(nodes, mapping):
    n = {(r.name, r.label, tuple(sorted(r.aliases or []))) for r in nodes.collect()}
    m = {(r.member, r.canonical) for r in mapping.collect()}
    return n, m


def test_small_and_distributed_paths_agree(mentions):
    fast = canonicalize_entities(mentions)
    slow = canonicalize_entities(
        mentions, pairwise_threshold=0, cc_collect_threshold=0
    )
    assert _result_sets(*fast) == _result_sets(*slow)
    names = {r.name for r in fast[0].collect()}
    # token-sorted fuzzy match merges 'Ada Lovelace'/'Lovelace Ada'/'ADA LOVELACE'
    assert len(names) == 3 and "Grace Hopper" in names and "Acme Systems" in names


FUSED_MENTIONS = [
    # one exact-norm group of three uids (token order and case differ)
    ("u1", 1, "Marie Curie", "PERSON", "physicist", [], ["r1"]),
    ("u2", 1, "CURIE MARIE", "PERSON", "chemist", [], []),
    ("u3", 2, "marie curie", "ORG", "institute", ["Curie Institute"], []),
    # fuzzy pairs: one edit apart, ratio ≥ 95 but unequal norms
    ("u4", 1, "International Business Machines Corporation", "ORG", "it", [], []),
    ("u5", 1, "International Business Machine Corporation", "ORG", "ibm", [], []),
    ("u6", 3, "Royal Netherlands Meteorological Institute", "ORG", "knmi", [], []),
    ("u7", 3, "Royal Netherland Meteorological Institute", "ORG", "weather", [], []),
    # an alias bridging two norm groups: u10's name joins u8's norm, its
    # alias joins u9's, so all three close into one component
    ("u8", 1, "Charles Babbage", "PERSON", "mathematician", [], []),
    ("u9", 1, "Father of the Computer", "PERSON", "title", [], []),
    ("u10", 2, "Babbage Charles", "PERSON", "engine designer", ["father of the computer"], []),
    ("u11", 1, "Grace Hopper", "PERSON", "compilers", ["Amazing Grace"], []),
]


def _full_sets(nodes, mapping):
    n = {
        (r.name, r.label, r.description, tuple(r.aliases), tuple(r.references), tuple(r.chunks))
        for r in nodes.collect()
    }
    return n, {(r.member, r.canonical) for r in mapping.collect()}


def test_fused_driver_path_equals_distributed_path(spark, monkeypatch):
    """The small-vocabulary D-phase runs from its single (norm, uid) probe:
    no edge table, no components probe — and its nodes and mapping equal
    the forced LSH + iterative-CC path's, including on empty input."""
    from mmkg_rag_spark.operators import dedup

    def _unreached(*a, **k):
        raise AssertionError("fused path built the distributed edges")

    results = []
    for rows in (FUSED_MENTIONS, []):
        mentions = spark.createDataFrame(rows, SCHEMA)
        slow = _full_sets(*canonicalize_entities(
            mentions, pairwise_threshold=0, cc_collect_threshold=0
        ))
        with monkeypatch.context() as m:
            m.setattr(dedup, "similarity_edges", _unreached)
            m.setattr(dedup, "connected_components", _unreached)
            fast = _full_sets(*canonicalize_entities(mentions))
        assert fast == slow
        results.append(fast)

    (nodes, mapping), empty = results
    assert empty == (set(), set())
    canon = dict(mapping)
    # the bridge closed u8, u9, u10 into one node; both fuzzy pairs merged
    bridged = {canon.get(n, n) for n in ("Charles Babbage", "Father of the Computer", "Babbage Charles")}
    assert len(bridged) == 1
    assert len(nodes) == 5


def test_connected_components_both_paths(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    for thr in (0, 10**6):
        comp = {
            (r.id, r.component)
            for r in connected_components(edges, collect_threshold=thr).collect()
        }
        assert {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")} == comp


def test_star_contraction_matches_contract(spark):
    """connected_components_star honours the exact connected_components
    contract (self-loop vertices present, component = min member id)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    comp = {
        (r.id, r.component)
        for r in connected_components_star(edges).collect()
    }
    assert {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")} == comp


def test_star_contraction_long_chain(spark):
    """The case star contraction exists for: a 300-vertex path (diameter
    299) closes in O(log n) rounds where min-label propagation would need
    ~300; a tight max_rounds proves the logarithmic convergence."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    comp = connected_components_star(edges, max_rounds=15).collect()
    assert len(comp) == n
    assert all(r.component == 0 for r in comp)


def test_star_contraction_random_parity(spark):
    """Random multigraphs: star contraction ≡ driver union-find."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        pairs = [
            (rng.randrange(80), rng.randrange(80)) for _ in range(60)
        ]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        got = {
            (r.id, r.component)
            for r in connected_components_star(edges).collect()
        }
        want = set(union_find_local(pairs).items())
        assert got == want, f"trial {trial}"


def test_union_find_local_transitive():
    comp = union_find_local([(3, 1), (1, 2), (9, 8), (5, 5)])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[8] == comp[9] == 8
    assert comp[5] == 5


def test_distributed_lsh_path_at_scale(spark):
    """The distributed MinHash-LSH + ratio-verify + CC path on 6k mentions.

    1,500 planted clusters × 4 surface variants (exact, token-scrambled,
    uppercase, alias-carrying). Cluster names differ by whole words, so
    inter-cluster token-sort similarity sits below the 0.95 threshold —
    except the occasional legitimately-similar combo pair, hence the ±2
    tolerance (the reference's greedy grouping merges those too).
    Norm count (≈3k) exceeds the pairwise threshold → this exercises the
    REAL scale path: LSH banding, candidate verify UDF, star+fuzzy edges.
    """
    import pandas as pd

    W1 = ["Alpha", "Borealis", "Cascade", "Delphinium", "Everest", "Fjord",
          "Granite", "Horizon", "Iridium", "Juniper", "Krypton", "Lattice",
          "Meridian", "Nebula", "Obsidian", "Pinnacle"]
    W2 = ["Systems", "Dynamics", "Research", "Industries", "Networks",
          "Analytics", "Laboratories", "Holdings", "Partners", "Collective"]
    W3 = ["North", "Pacific", "Eastern", "Global", "Mountain", "Riverside",
          "Coastal", "Urban", "Arctic", "Equatorial"]
    n_clusters = 1500

    def base_name(c):
        return f"{W1[c % 16]} {W2[(c // 16) % 10]} {W3[(c // 160) % 10]}"

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                c, v = i % n_clusters, i // n_clusters
                base = base_name(c)
                if v == 0:
                    name, aliases = base, []
                elif v == 1:
                    name, aliases = " ".join(base.split()[::-1]), []
                elif v == 2:
                    name, aliases = base.upper(), []
                else:
                    name, aliases = base, ["".join(w[0] for w in base.split()) + str(c)]
                rows.append(("u", 1, name, "ORG", f"org cluster {c}", aliases, []))
            yield pd.DataFrame(
                rows,
                columns=["url", "chunk_id", "name", "label", "description",
                         "aliases", "references"],
            )

    mentions = spark.range(4 * n_clusters).mapInPandas(gen, SCHEMA)
    nodes, mapping = canonicalize_entities(mentions)
    n = nodes.count()
    assert n_clusters - 2 <= n <= n_clusters
    # every cluster contributed its scrambled + uppercase surfaces to mapping
    assert mapping.count() >= 2 * (n_clusters - 2)
