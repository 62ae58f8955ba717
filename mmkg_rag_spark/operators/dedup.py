"""Corpus-global canonicalization (the shuffle-heavy D-phase).

Replaces the reference's in-memory greedy loop (deduplicate.py:19-65) with
the scale path mandated by the north star: exact collapse → MinHash-LSH
blocking → exact similarity re-check → iterative connected components →
grouped deterministic merge → alias-dictionary broadcast remap join.

Stage map (SURVEY.md §2):
  1. exact collapse   — groupBy (name,label,description): 10^12 mentions
                        shrink to ~|distinct entities| with map-side partial
                        aggregation; carries mention multiplicity as weight.
  2. strings table    — explode name+aliases; norm = token-sorted UPPER
                        (so plain indel ratio(norm_a, norm_b) ≡ the
                        reference's token_sort_ratio(upper) — D1 predicate,
                        deduplicate.py:149-160); distinct (norm, uid).
                        ONE bounded collect of it (≤ cc_collect_threshold+1
                        rows) picks the plan for stages 3-5.
  3-5, small vocabulary (≤ pairwise_threshold distinct norms, rows fit):
                        the driver builds exact-norm stars (D2), ratio ≥ 95
                        checks every norm pair (D1) and closes the graph
                        with union-find — all from the probe rows.
  3-5, otherwise:
  3. exact edges      — star edges within equal-norm groups (D2).
  4. fuzzy edges      — LSH candidate pairs over DISTINCT norms + pandas-UDF
                        ratio ≥ 95 re-check (D1), mapped back to unit ids.
  5. connected comps  — functions/components.py (order-independent closure
                        of the greedy grouping; SURVEY.md §7.3).
  6. merged entities  — groupBy(component).applyInPandas with the same
                        deterministic merge policy as the replica oracle
                        (kernels/canonicalize.py, weighted label vote).
  7. endpoint remap   — name→canonical mapping joined onto relation
                        source/target (AQE picks broadcast when the
                        dictionary is small; D4).
  8. relation merge   — groupBy(source,label,target) native agg ≡ the
                        deterministic relation merge (D6/D7).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.components import connected_components, union_find_local
from ..functions.minhash import char_shingles, lsh_candidate_pairs
from ..kernels.canonicalize import DEDUP_SIMILARITY, merge_entity_group
from ..kernels.records import Entity

MERGED_ENTITY_SCHEMA = (
    "component string, name string, label string, description string, "
    "aliases array<string>, references array<string>, chunks array<int>"
)

_SEP = "\x1f"


def _norm_expr(col):
    """Token-sorted uppercase normalization: ratio(norm, norm) ≡ token_sort_ratio."""
    toks = F.filter(F.split(F.upper(F.trim(col)), r"\s+"), lambda t: t != "")
    return F.array_join(F.array_sort(toks), " ")


def collapse_exact(entity_mentions: DataFrame) -> DataFrame:
    """Stage 1: mentions → units keyed by (name,label,description)."""
    return (
        entity_mentions.groupBy("name", "label", "description")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("references")))).alias("references"),
            F.array_sort(F.collect_set("chunk_id")).alias("chunks"),
            F.count(F.lit(1)).alias("weight"),
        )
        .withColumn(
            "uid", F.md5(F.concat_ws(_SEP, "name", "label", "description"))
        )
    )


def _norm_uids(units: DataFrame) -> DataFrame:
    """Stage 2: distinct (norm, uid) over every unit's name and aliases."""
    return (
        units.select(
            "uid",
            F.explode(
                F.array_distinct(F.array_union(F.array("name"), F.coalesce("aliases", F.array())))
            ).alias("s"),
        )
        .select(_norm_expr(F.col("s")).alias("norm"), "uid")
        .filter(F.col("norm") != "")
        .distinct()
    )


def _local_components(
    norm_uid_rows: list, similarity: float = DEDUP_SIMILARITY
) -> dict:
    """Stages 3-5 on the driver: uid → component over collected (norm, uid).

    Exact-norm groups are stars around their min uid (D2); every pair of
    distinct norms is ratio-checked (D1) and joins the two groups' stars;
    ``union_find_local`` closes the graph with the same min-uid labels the
    distributed loop converges to. Uids without a non-empty norm are absent
    (each is its own component).
    """
    import time

    from ..kernels.similarity import ratio
    from ..metrics import record_pairs

    groups: dict[str, list[str]] = {}
    for norm, uid in norm_uid_rows:
        groups.setdefault(norm, []).append(uid)
    hub = {norm: min(uids) for norm, uids in groups.items()}
    links = [(hub[norm], uid) for norm, uids in groups.items() for uid in uids]
    vals = sorted(groups)
    t0 = time.perf_counter_ns()
    links += [
        (hub[a], hub[b])
        for i, a in enumerate(vals)
        for b in vals[i + 1 :]
        if ratio(a, b) >= similarity * 100.0
    ]
    record_pairs(
        "dedup_verify", len(vals) * (len(vals) - 1) // 2, time.perf_counter_ns() - t0
    )
    return union_find_local(links)


def similarity_edges(units: DataFrame, similarity: float = DEDUP_SIMILARITY) -> DataFrame:
    """Stages 3-4, distributed: uid pairs whose any-name/alias similarity ≥ threshold."""
    norm_uid = _norm_uids(units)

    # exact: all uids sharing a norm form a star around the min uid (D2)
    exact = (
        norm_uid.groupBy("norm")
        .agg(F.collect_set("uid").alias("uids"))
        .filter(F.size("uids") > 1)
        .select(
            F.array_min("uids").alias("src"),
            F.explode("uids").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )

    # fuzzy: MinHash-LSH candidate pairs over DISTINCT norms + exact
    # indel-ratio re-check (D1), mapped back to unit ids.
    # b=16, r=8: S-curve center (1/16)^(1/8) ≈ 0.71. The 0.95 threshold is on
    # the indel ratio, not on 3-shingle Jaccard: a one-edit pair of ~26-char
    # names has Jaccard ≈ 0.78 and collides with probability ≈ 0.9
    # (1-(1-0.78⁸)^16), so recall is below 1 for short near-duplicates.
    # Sub-0.5-similar junk pairs collide ~50× less than the 32×4 banding
    # would allow, keeping the python ratio-verify volume ∝ true near-matches.
    norms = norm_uid.select("norm").distinct()
    cand = lsh_candidate_pairs(
        norms, "norm", char_shingles(F.col("norm"), 3), num_hashes=128, bands=16
    )

    from ..metrics import pair_accumulators

    _pairs_acc, _ns_acc = pair_accumulators(units.sparkSession, "dedup_verify")

    @F.pandas_udf("double")
    def _ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        import time as _time

        from ..kernels.similarity import ratio

        t0 = _time.perf_counter_ns()
        out = pd.Series([ratio(x, y) for x, y in zip(a, b)], dtype="float64")
        _pairs_acc.add(len(a))
        _ns_acc.add(_time.perf_counter_ns() - t0)
        return out

    # nondeterministic: keeps the optimizer from inlining the UDF into the
    # pushed-down filter and evaluating it a second time for the projection
    verified = (
        cand.withColumn("score", _ratio.asNondeterministic()(F.col("id_a"), F.col("id_b")))
        .filter(F.col("score") >= similarity * 100.0)
        .select("id_a", "id_b")
    )
    fuzzy = (
        verified.join(norm_uid.withColumnRenamed("norm", "id_a").withColumnRenamed("uid", "src"), "id_a")
        .join(norm_uid.withColumnRenamed("norm", "id_b").withColumnRenamed("uid", "dst"), "id_b")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return exact.unionByName(fuzzy).dropDuplicates(["src", "dst"])


def canonicalize_entities(
    entity_mentions: DataFrame,
    similarity: float = DEDUP_SIMILARITY,
    pairwise_threshold: int = 300,
    cc_collect_threshold: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Full D-phase for entities → (merged_entities, name→canonical mapping).

    The two thresholds select the physical strategy for the similarity pass
    and the component computation (driver-side below, distributed above);
    set them to 0 to force the distributed path (the scale tests do).
    """
    return canonicalize_units(
        collapse_exact(entity_mentions), similarity, pairwise_threshold,
        cc_collect_threshold,
    )


def nodes_as_units(nodes: DataFrame) -> DataFrame:
    """Stored canonical nodes → unit shape, for incremental re-canonicalize.

    D8 semantics (pipe.py:85-87): previously persisted entities re-enter the
    dedup pass alongside the new batch. weight=1 — a stored node is one unit
    regardless of how many mentions produced it (matches the reference,
    where stored entities are plain list elements).
    """
    return nodes.select(
        "name", "label", "description",
        F.coalesce("aliases", F.array()).alias("aliases"),
        F.coalesce("references", F.array()).alias("references"),
        F.coalesce("chunks", F.array().cast("array<int>")).alias("chunks"),
        F.lit(1).alias("weight"),
    ).withColumn("uid", F.md5(F.concat_ws(_SEP, "name", "label", "description")))


def merge_unit_tables(*unit_tables: DataFrame) -> DataFrame:
    """Union unit tables, re-collapsing units that share (name,label,desc)."""
    out = unit_tables[0]
    for t in unit_tables[1:]:
        out = out.unionByName(t)
    return (
        out.groupBy("uid", "name", "label", "description")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("references")))).alias("references"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunks")))).alias("chunks"),
            F.sum("weight").alias("weight"),
        )
    )


def canonicalize_units(
    units: DataFrame,
    similarity: float = DEDUP_SIMILARITY,
    pairwise_threshold: int = 300,
    cc_collect_threshold: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """D-phase from pre-collapsed units (shared by batch + incremental paths).

    One bounded collect of the (norm, uid) table picks the physical plan:
    when it holds ≤ ``cc_collect_threshold`` rows over ≤ ``pairwise_threshold``
    distinct norms (≤ ~45k ratio calls), the driver computes the components
    from those rows (``_local_components``) — no edge table, no second probe.
    Above either bound the distributed path runs: LSH edges
    (``similarity_edges``) and ``connected_components``.
    """
    # units feeds three consumers (similarity edges, merge, mapping) and the
    # strategy probe forces an action — cache to avoid re-aggregating mentions.
    units = units.cache()
    spark = units.sparkSession
    # one bounded collect sizes the table and, when it is small, IS the data
    probe = _norm_uids(units).limit(cc_collect_threshold + 1).collect()
    driver_path = (
        len(probe) <= cc_collect_threshold
        and len({r.norm for r in probe}) <= pairwise_threshold
    )
    if driver_path:
        comp_r = spark.createDataFrame(
            list(_local_components(probe, similarity).items()),
            "uid string, component string",
        )
    else:
        cc_info: dict = {}
        comp_r = connected_components(
            similarity_edges(units, similarity), src="src", dst="dst",
            collect_threshold=cc_collect_threshold, out_info=cc_info,
        ).withColumnRenamed("id", "uid")
        driver_path = cc_info["driver_path"]
    # driver-path component tables are ≤ cc_collect_threshold rows by
    # construction — broadcast them so the units join is map-side (AQE could
    # only discover this after materializing both shuffle sides)
    if driver_path:
        comp_r = F.broadcast(comp_r)
    units_c = units.join(comp_r, "uid", "left").withColumn(
        "component", F.coalesce("component", "uid")
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        ents = [
            Entity(
                name=n, label=l, description=d,
                aliases=list(a), references=list(r), chunks=[int(c) for c in ch],
            )
            for n, l, d, a, r, ch in zip(
                pdf["name"], pdf["label"], pdf["description"],
                pdf["aliases"], pdf["references"], pdf["chunks"],
            )
        ]
        m = merge_entity_group(ents, weights=[int(w) for w in pdf["weight"]])
        return pd.DataFrame(
            [
                (
                    pdf["component"].iloc[0], m.name, m.label, m.description,
                    m.aliases or [], m.references or [], m.chunks or [],
                )
            ],
            columns=[
                "component", "name", "label", "description",
                "aliases", "references", "chunks",
            ],
        )

    merged = (
        units_c.select(
            "component", "name", "label", "description",
            "aliases", "references", "chunks", "weight",
        )
        .groupBy("component")
        .applyInPandas(_merge, schema=MERGED_ENTITY_SCHEMA)
    )
    merged = merged.cache()
    canon = merged.select(F.col("component"), F.col("name").alias("canonical"))
    if driver_path:
        # |merged with component| ≤ |CC vertices| ≤ cc_collect_threshold:
        # broadcast the 2-col canonical dictionary, skipping two exchanges
        canon = F.broadcast(canon)
    mapping = (
        units_c.select("component", F.col("name").alias("member"))
        .join(canon, "component")
        .filter(F.col("member") != F.col("canonical"))
        .select("member", "canonical")
        .distinct()
    )
    return merged.drop("component"), mapping


def edges_from_mentions(relation_mentions: DataFrame) -> DataFrame:
    """Mention-shaped relations (scalar chunk_id) → edge shape (chunks array)."""
    return relation_mentions.select(
        "source", "label", "target", "description",
        F.coalesce("references", F.array()).alias("references"),
        F.array("chunk_id").cast("array<int>").alias("chunks"),
    )


def remap_and_merge_edges(
    edges: DataFrame, mapping: DataFrame, broadcast_mapping: bool = True
) -> DataFrame:
    """Stages 7-8 on edge-shaped rows: canonical endpoints, merged triples.

    The mapping join is the north star's alias-dictionary broadcast join —
    broadcast EXPLICITLY (default): the dictionary is the merged-away
    entity vocabulary, bounded and small relative to the mention stream at
    every scale, and relying on AQE instead costs the full exchange pair
    per join before the runtime conversion can happen. Pass
    ``broadcast_mapping=False`` for a pathological dictionary that cannot
    fit an executor — the joins then shuffle on the name key.
    """
    if broadcast_mapping:
        mapping = F.broadcast(mapping)
    src_map = mapping.select(
        F.col("member").alias("source"), F.col("canonical").alias("_src_c")
    )
    dst_map = mapping.select(
        F.col("member").alias("target"), F.col("canonical").alias("_dst_c")
    )
    remapped = (
        edges.join(src_map, "source", "left")
        .join(dst_map, "target", "left")
        .select(
            F.coalesce("_src_c", "source").alias("source"),
            "label",
            F.coalesce("_dst_c", "target").alias("target"),
            "description",
            "references",
            "chunks",
        )
    )
    return (
        remapped.groupBy("source", "label", "target")
        .agg(
            F.min("description").alias("description"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("references")))
            ).alias("references"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("chunks")))
            ).alias("chunks"),
        )
    )


def remap_and_merge_relations(
    relation_mentions: DataFrame, mapping: DataFrame
) -> DataFrame:
    """Back-compat wrapper: mention-shaped input → remap_and_merge_edges."""
    return remap_and_merge_edges(edges_from_mentions(relation_mentions), mapping)
