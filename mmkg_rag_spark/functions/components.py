"""Iterative connected components over an edge DataFrame.

The order-independent closure of the reference's greedy entity grouping
(deduplicate.py:141-175) — see SURVEY.md §2 D1/§7.3. Implemented as
min-label propagation: each vertex repeatedly adopts the smallest component
id among itself and its neighbors until fixpoint. Per iteration: one shuffle
(groupBy vertex) + one join; lineage is cut with ``localCheckpoint`` so the
plan does not grow exponentially (the classic pitfall of iterative
DataFrame algorithms). Converges in O(diameter) iterations — entity-alias
graphs are near-star-shaped, so 2-4 in practice.

At 10^12-row scale the same loop holds: both sides are pre-partitioned on
the vertex id, so every iteration reuses one hash-partitioning; a
large-star/small-star variant is unnecessary until components have extreme
diameter, which name-similarity clusters do not. For graphs that CAN have
extreme diameter (lineage chains, citation paths, link graphs), this module
also ships that variant — ``connected_components_star`` — the alternating
star-contraction algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) that converges in O(log n) rounds
independent of diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_find_local(pairs: list[tuple]) -> dict:
    """Driver-side union-find: id → min-id component label (path-halving)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    collect_threshold: int = 1_000_000,
    out_info: dict | None = None,
) -> DataFrame:
    """Return DataFrame(id, component) for every vertex appearing in edges.

    ``component`` is the minimum vertex id (by the column's natural ordering)
    in the connected component. Isolated vertices don't appear — union the
    vertex universe back in with ``coalesce(component, id)`` at the call site.

    Physical strategy is adaptive, like Spark's broadcast-join selection:
    the edge list is the *similarity graph* — orders of magnitude smaller
    than the corpus — so when it fits comfortably on the driver
    (≤ ``collect_threshold`` edges) a local union-find replaces the
    O(diameter)-iteration distributed loop, eliminating ~10 serial shuffle
    jobs whose latency would otherwise be a fixed (Amdahl) cost at every
    scale. Above the threshold the iterative min-label loop runs — that is
    the 10^12-row path.

    The entity D-phase calls this only on its distributed path (vocabulary
    above ``operators.dedup``'s pairwise threshold): for a small vocabulary
    ``dedup.canonicalize_units`` runs ``union_find_local`` on the rows of
    its own (norm, uid) probe, so neither the edge table nor this probe is
    built.

    ``out_info`` (optional dict) reports {"driver_path": bool,
    "n_vertices": int|None} so callers can plan downstream joins — a
    driver-path component table is broadcast-sized by construction, letting
    the caller skip an exchange pair that AQE could only remove *after*
    materializing both sides (VERDICT r2 #1: serial small-job floor).
    """
    edges = edges.persist()
    # ONE bounded job decides the strategy: limit(threshold+1) short-circuits,
    # so the decision never materializes a huge graph just to count it
    # (count() would), and when the graph is small the same rows ARE the data.
    probe = edges.select(src, dst).limit(collect_threshold + 1).collect()
    if len(probe) <= collect_threshold:
        pairs = [(r[0], r[1]) for r in probe]
        spark = edges.sparkSession
        schema_t = dict(edges.dtypes)[src]
        edges.unpersist()
        comp = union_find_local(pairs)
        if out_info is not None:
            out_info.update({"driver_path": True, "n_vertices": len(comp)})
        if not comp:
            return spark.createDataFrame([], f"id {schema_t}, component {schema_t}")
        return spark.createDataFrame(
            list(comp.items()), f"id {schema_t}, component {schema_t}"
        )
    if out_info is not None:
        out_info.update({"driver_path": False, "n_vertices": None})
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    # comp: current component label per vertex
    comp = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("component"))
        .select(F.col("a").alias("id"), "component")
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # candidate labels flowing along edges: neighbor's current component
        prop = (
            sym.join(comp.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "component")
            .union(comp)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=True)
        changed = (
            prop.join(comp.withColumnRenamed("component", "old"), "id")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        comp = prop
        if changed == 0:
            converged = True
            break
    if not converged:
        # Min-label propagation needs O(diameter) rounds; name-similarity
        # graphs are near-star (2-4 rounds). Hitting the cap means a
        # pathological chain — wrong components would silently corrupt the
        # merge, so fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (graph diameter exceeds the cap), or use "
            "connected_components_star (diameter-independent)"
        )
    return comp


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One star-contraction round over parent-pointer edges (u > v means
    v is a candidate parent; self-loops are implicit).

    large-star: for every u, hook all STRICTLY LARGER neighbors onto
    m = min(N(u) ∪ {u}).  small-star: orient each edge child→parent
    (larger→smaller), and per u hook its ≤u neighborhood ∪ {u} onto m.
    Both are one groupBy(u) + one join back — two shuffles on the same
    vertex-id partitioning.
    """
    if large:
        nbrs = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        nbrs = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    m = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    if large:
        hooked = (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
    else:
        hooked = (
            nbrs.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
        )
    return hooked.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Diameter-independent connected components: alternating
    large-star/small-star contraction (Kiveris et al., SoCC'14).

    Same contract as ``connected_components`` — DataFrame(id, component)
    with component = min member id, isolated vertices absent — but
    converges in O(log n) ROUNDS REGARDLESS OF DIAMETER: each round hooks
    whole subtrees onto smaller ids, so a 10^6-long chain closes in ~20
    rounds where min-label propagation needs 10^6. This is the variant for
    graphs whose diameter is not bounded by construction (web link graphs,
    lineage chains); for near-star similarity graphs the label-propagation
    loop wins (fewer rounds, same per-round cost).

    Convergence is detected with a fingerprint job per round (count +
    xor-fold of edge hashes) — O(1) rows to the driver, never the edge
    set. At fixpoint the edge set IS the star
    forest (child → root); roots re-enter as their own component.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # same vertex universe as connected_components: every id seen in edges
    # (self-loops included) gets a row, as its own component if unlinked
    verts = (
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    for _ in range(max_rounds):
        e = _star_round(e, large=True).localCheckpoint(eager=True)
        e = _star_round(e, large=False).localCheckpoint(eager=True)
        fp = e.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold: order-independent and overflow-free under ANSI mode
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        if (fp.n, fp.h) == prev_fp:
            break
        prev_fp = (fp.n, fp.h)
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds"
        )
    # e is now the star forest child→root; roots (and unlinked vertices)
    # label themselves via the left join over the vertex universe
    stars = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return verts.join(stars, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
