"""M4 physical strategies: salted token-blocked join vs broadcast cross.

The blocked path prunes (image × entity) candidates to token-sharing pairs
with a salt on the skewed side (north-star skew handling). It is an
*approximation*: char-level indel similarity lets token-disjoint pairs reach
~0.3-0.45 relevance, and those are pruned. The invariants that must hold
(cap disabled so top-8 slot effects don't confound):
  1. blocked scored-pairs ⊆ broadcast scored-pairs (same scores where kept)
  2. every high-confidence pair (≥ 0.5, i.e. real caption↔entity matches)
     survives blocking — the links that matter are never lost.
"""

from __future__ import annotations

import pytest

from mmkg_rag_spark.operators.dedup import canonicalize_entities
from mmkg_rag_spark.operators.extract import chunk_pages, extract_mentions, split_mentions
from mmkg_rag_spark.operators.mmodal import (
    describe_images,
    extract_image_instances,
    filter_valid_images,
    link_images,
    score_image_entities,
)
from mmkg_rag_spark.sources.pages import gen_pages_df, image_manifest


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-mst")


def test_blocked_equals_broadcast_on_accepted_links(spark):
    pages = gen_pages_df(spark, 60).select("url", "text").cache()
    manifest = spark.createDataFrame([(p,) for p in image_manifest()], "path string")
    em, _ = split_mentions(extract_mentions(chunk_pages(pages)).cache())
    nodes, _ = canonicalize_entities(em)
    nodes = nodes.cache()
    described = describe_images(
        filter_valid_images(extract_image_instances(pages), manifest)
    ).cache()

    pairs = {}
    for strategy in ("broadcast", "blocked"):
        top = score_image_entities(
            described, nodes, strategy=strategy, salt_buckets=4,
            candidate_cap=10**6,
        )
        pairs[strategy] = {
            (r.url, r.path, r.entity, r.score) for r in top.collect()
        }
    assert pairs["blocked"] <= pairs["broadcast"]
    high_conf = {p for p in pairs["broadcast"] if p[3] >= 0.5}
    assert high_conf and high_conf <= pairs["blocked"]
    # and the capped blocked path still produces links
    capped = link_images(
        score_image_entities(described, nodes, strategy="blocked", salt_buckets=4)
    )
    assert capped.count() > 0


def test_relevance_scored_once_per_candidate_pair(spark):
    """The relevance UDF appears once in the physical plan: the pair
    accumulator equals the candidate-pair count (|images| x |entities| on
    the broadcast path), not twice it."""
    from mmkg_rag_spark import metrics

    images = spark.createDataFrame(
        [
            ("u1", "a.png", "c", "Ada Lovelace at work", ["Ada"], "d"),
            ("u1", "b.png", "c", "Grace Hopper", [], "d"),
            ("u2", "c.png", "c", "", ["Analytical Engine"], "d"),
        ],
        "url string, path string, context string, caption string, "
        "texts array<string>, description string",
    )
    entities = spark.createDataFrame(
        [("Ada Lovelace", ["Ada"]), ("Grace Hopper", []),
         ("Analytical Engine", []), ("Acme", [])],
        "name string, aliases array<string>",
    )
    metrics._PAIR_SITES.clear()
    top = score_image_entities(images, entities, strategy="broadcast").collect()
    assert top
    assert metrics.similarity_throughput()["mmodal_relevance"]["pairs"] == 3 * 4
