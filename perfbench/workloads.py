"""The benchmark workloads: one closed-loop caller driving a public entry point.

Each workload has:

- ``stage(work, seed)``: write its inputs (pure Python, no Spark);
- ``expect(seed)``: the oracle's expected outputs, never computed by the code
  under test;
- ``setup(ctx)``: bind the staged inputs to the Spark session;
- ``warm(ctx)``: small untimed operations in the fresh JVM (their cost is
  mostly class loading, code generation and worker start, not data);
- ``op(ctx)``: the operation the timed loop repeats, checked against the oracle;
- ``traced(ctx)``: the same operation with spans wrapped around the layer
  functions the entry point calls. The wrappers materialize each layer's
  output at the entry point's own cache points, so each layer's jobs run
  inside its span.

``stage`` and ``expect`` run in a helper thread while the JVM starts.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import time
from dataclasses import dataclass, field

from . import corpus, oracle

CHUNK, OVERLAP = 8000, 400

NODE_COLS = ("name", "label", "description", "aliases", "references", "chunks")
EDGE_COLS = ("source", "label", "target", "description", "references", "chunks")
IMAGE_EDGE_COLS = ("source", "label", "target", "description", "references")


@dataclass
class Op:
    wall: float
    pages: int
    scores: dict
    digest: str


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    expected: object  # Future of the workload's ``expect``
    tracer: object = None  # trace.Tracer while a traced operation runs
    info: dict = field(default_factory=dict)


def _digest(*tables) -> str:
    h = hashlib.sha256()
    for rows in tables:
        for r in sorted(repr(tuple(x)) for x in rows):
            h.update(r.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _graph(nodes, edges, image_edges=()) -> dict:
    return {
        "nodes": {(r.name, r.label) for r in nodes},
        "triples": {(r.source, r.label, r.target) for r in edges},
        "image_edges": {(r.source, r.label, r.target) for r in image_edges},
    }


@contextlib.contextmanager
def _patched(targets: list[tuple[object, str, object]]):
    """Temporarily replace ``getattr(obj, name)`` with ``make(original)``."""
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for (obj, name, make), (_, _, orig) in zip(targets, saved):
            setattr(obj, name, make(orig))
        yield
    finally:
        for obj, name, orig in saved:
            setattr(obj, name, orig)


def _span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext()


def _materialize(df):
    df = df.cache()
    df.count()
    return df


def _layer(ctx: Ctx, span: str, materialize=lambda out: out):
    """Wrapper factory: run a layer function inside ``span`` and
    materialize its output there."""

    def make(fn):
        def wrapped(*args, **kwargs):
            with ctx.tracer.span(span):
                return materialize(fn(*args, **kwargs))

        return wrapped

    return make


def _write_parquet(rows: list[dict], directory: str, files: int = 4) -> None:
    """Stage input rows as ``files`` parquet files (one input partition each)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory)
    for part in range(files):
        pq.write_table(pa.Table.from_pylist(rows[part::files]), os.path.join(directory, f"part-{part}.parquet"))


class BulkBuild:
    """``pipeline.build_kg`` + ``degree_summary`` over the standard generator."""

    name = "bulk_build"
    n_pages = 600
    # Untimed warm builds of n_warm pages. A build's cost here is job
    # overhead that the JIT keeps shrinking for several builds (one run:
    # 9.6, 7.7, 7.3, 6.4, 6.2 s), whatever the input size, so small builds
    # warm the JVM as well as full ones do. The slow first build after the
    # cold one is spent here rather than timed; two timed builds then fit
    # the run budget (BENCHMARK.json).
    n_warm, warm_builds = 24, 2
    min_ops, max_ops = 2, 100

    def stage(self, work: str, seed: int) -> None:
        from mmkg_rag_spark.sources.pages import gen_pages_local

        rows = gen_pages_local(self.n_pages, seed)
        self.paths = {k: os.path.join(work, k) for k in ("pages", "warm-pages")}
        _write_parquet(rows, self.paths["pages"])
        _write_parquet(rows[:self.n_warm], self.paths["warm-pages"])

    def expect(self, seed: int) -> dict:
        return oracle.replica_graph(self.n_pages, seed)

    def setup(self, ctx: Ctx) -> None:
        from mmkg_rag_spark.sources.pages import PAGES_SCHEMA, image_manifest

        self.pages = ctx.spark.read.schema(PAGES_SCHEMA).parquet(self.paths["pages"])
        self.warm_pages = ctx.spark.read.schema(PAGES_SCHEMA).parquet(self.paths["warm-pages"])
        self.manifest = ctx.spark.createDataFrame([(p,) for p in image_manifest()], "path string")

    def _build(self, ctx: Ctx, pages):
        from mmkg_rag_spark.pipeline import build_kg, degree_summary

        t0 = time.perf_counter()
        with _span(ctx, "op"):
            res = build_kg(ctx.spark, pages, self.manifest)
            with _span(ctx, "degree"):
                degree = degree_summary(res).collect()
        return time.perf_counter() - t0, res, degree

    def warm(self, ctx: Ctx) -> None:
        for _ in range(self.warm_builds):
            self._build(ctx, self.warm_pages)
            ctx.spark.catalog.clearCache()

    def op(self, ctx: Ctx) -> Op:
        wall, res, degree = self._build(ctx, self.pages)
        nodes = res.nodes.select(*NODE_COLS).collect()
        edges = res.edges.select(*EDGE_COLS).collect()
        img = res.image_edges.select(*IMAGE_EDGE_COLS).collect()
        ctx.spark.catalog.clearCache()
        return Op(wall, self.n_pages, oracle.graph_scores(_graph(nodes, edges, img), ctx.expected.result()),
                  _digest(nodes, edges, img, degree))

    def traced(self, ctx: Ctx) -> Op:
        import mmkg_rag_spark.operators.extract as extract
        import mmkg_rag_spark.pipeline as pipeline

        def nodes_materialized(out):
            nodes, mapping = out
            return _materialize(nodes), mapping

        targets = [
            (extract, "extract_page_artifacts", _layer(ctx, "extract", _materialize)),
            (pipeline, "canonicalize_entities", _layer(ctx, "dedup", nodes_materialized)),
            (pipeline, "remap_and_merge_relations", _layer(ctx, "remap", _materialize)),
            (pipeline, "describe_images", _layer(ctx, "mmodal.describe", _materialize)),
            (pipeline, "score_image_entities", _layer(ctx, "mmodal.score")),
            (pipeline, "link_images", _layer(ctx, "mmodal.score", _materialize)),
        ]
        with _patched(targets):
            return self.op(ctx)


class StreamFold:
    """``streaming.process_pages_batch`` folding consecutive fixed-size
    micro-batches of the standard generator corpus into a fresh warehouse."""

    name = "stream_fold"
    batch_pages = 300
    # untimed warm folds, as in bulk_build: a fold's cost is job overhead
    # the JIT keeps shrinking for several folds, whatever the batch size
    warm_pages = (25, 25)
    min_ops, max_ops = 2, 8

    def _docs(self, seed: int) -> list[tuple[str, str]]:
        from mmkg_rag_spark.sources.pages import page_record

        return [(r["url"], r["text"]) for r in (page_record(d, seed) for d in range(self.bounds[-1]))]

    def stage(self, work: str, seed: int) -> None:
        # batch b holds pages bounds[b] .. bounds[b+1]-1
        self.bounds = [0]
        for n in (*self.warm_pages, *[self.batch_pages] * self.max_ops):
            self.bounds.append(self.bounds[-1] + n)
        self.docs = self._docs(seed)
        self.batches = []
        for b in range(len(self.bounds) - 1):
            d = os.path.join(work, "batches", str(b))
            rows = self.docs[self.bounds[b]:self.bounds[b + 1]]
            _write_parquet([{"url": u, "text": t} for u, t in rows], d)
            self.batches.append(d)

    def expect(self, seed: int) -> dict:
        prefixes, pages_per_s = oracle.replica_prefixes(self.docs, self.bounds)
        return {"prefixes": prefixes, "pages_per_s": pages_per_s}

    def _score(self, ctx: Ctx, nodes, edges, b: int) -> dict:
        return oracle.graph_scores(_graph(nodes, edges), ctx.expected.result()["prefixes"][b])

    def setup(self, ctx: Ctx) -> None:
        self.catalog = self._catalog(ctx, "warehouse")
        self.next_batch = 0

    def _catalog(self, ctx: Ctx, name: str):
        from mmkg_rag_spark.sources.catalog import ParquetCatalog

        return ParquetCatalog(ctx.spark, os.path.join(ctx.work, name))

    def _fold(self, ctx: Ctx, catalog, b: int) -> float:
        from mmkg_rag_spark.streaming import process_pages_batch

        batch = ctx.spark.read.schema("url string, text string").parquet(self.batches[b])
        t0 = time.perf_counter()
        with _span(ctx, "op"):
            process_pages_batch(ctx.spark, catalog, batch, b, CHUNK, OVERLAP)
        wall = time.perf_counter() - t0
        ctx.spark.catalog.clearCache()
        return wall

    def _checked_fold(self, ctx: Ctx, catalog, b: int) -> Op:
        wall = self._fold(ctx, catalog, b)
        nodes = catalog.read("nodes").select(*NODE_COLS).collect()
        edges = catalog.read("edges").select(*EDGE_COLS).collect()
        return Op(wall, self.bounds[b + 1] - self.bounds[b], self._score(ctx, nodes, edges, b),
                  _digest(nodes, edges))

    def _next(self) -> int:
        if self.next_batch >= len(self.batches):
            raise RuntimeError(f"{self.name} ran out of staged batches")
        self.next_batch += 1
        return self.next_batch - 1

    def warm(self, ctx: Ctx) -> None:
        for _ in self.warm_pages:
            self._fold(ctx, self.catalog, self._next())

    def op(self, ctx: Ctx) -> Op:
        return self._checked_fold(ctx, self.catalog, self._next())

    def traced(self, ctx: Ctx) -> Op:
        """Replay the folds before the last one untraced into a fresh
        warehouse, then fold the last batch again, traced."""
        import mmkg_rag_spark.metrics as metrics
        import mmkg_rag_spark.streaming as streaming

        catalog = self._catalog(ctx, "warehouse-traced")
        last = self.next_batch - 1
        tracer, ctx.tracer = ctx.tracer, None
        for b in range(last):
            self._fold(ctx, catalog, b)
        ctx.tracer = tracer

        def incremental_materialized(out):
            nodes, mapping, edges = out
            return _materialize(nodes), mapping, _materialize(edges)

        catalog.write_all = _layer(ctx, "catalog.write")(catalog.write_all)
        targets = [
            (streaming, "extract_mentions", _layer(ctx, "stream.extract", _materialize)),
            (streaming, "incremental_canonicalize", _layer(ctx, "incremental", incremental_materialized)),
            (metrics, "record_stage", _layer(ctx, "metrics.record")),
        ]
        with _patched(targets):
            return self._checked_fold(ctx, catalog, last)


class VocabFold(StreamFold):
    """``stream_fold`` over the vocabulary-heavy corpus (``corpus.py``): the
    stored graph holds thousands of surface forms, so each fold's
    re-canonicalization takes the LSH banding, ratio-verify and grouped-merge
    path. Run by hand: too slow for the benchmark's run budget (README)."""

    name = "vocab_fold"
    n_entities = 600
    batch_pages = 300

    def _docs(self, seed: int) -> list[tuple[str, str]]:
        vocab = corpus.vocabulary(self.n_entities, seed)
        self.index = corpus.surface_index(vocab)
        self.truths, truth, docs = [], corpus.Truth(), []
        for b in range(len(self.bounds) - 1):
            start = self.bounds[b]
            docs += corpus.vocab_pages(vocab, seed, start, self.bounds[b + 1] - start, truth)
            self.truths.append(corpus.Truth({e: set(f) for e, f in truth.forms.items()}, set(truth.triples)))
        return docs

    def expect(self, seed: int) -> dict:
        return {"truths": self.truths, "pages_per_s": 0.0}

    def _score(self, ctx: Ctx, nodes, edges, b: int) -> dict:
        return oracle.vocab_scores(
            [(r.name, list(r.aliases or [])) for r in nodes],
            {(r.source, r.label, r.target) for r in edges},
            ctx.expected.result()["truths"][b], self.index,
        )


RUN_STAGES = ("pages", "mentions", "nodes", "edges", "image_edges")


class StagedSubmit:
    """``run.main`` cold into a fresh warehouse, then again with the same
    arguments (the resume path: every stage snapshot already exists).
    Run by hand: too slow for the benchmark's run budget (README)."""

    name = "staged_submit"
    n_pages = 1000
    n_warm = 50  # pages of the warm submit
    min_ops, max_ops = 1, 100

    def stage(self, work: str, seed: int) -> None:
        self.runs = 0

    def expect(self, seed: int) -> dict:
        return oracle.replica_graph(self.n_pages, seed)

    def setup(self, ctx: Ctx) -> None:
        pass

    def _main(self, ctx: Ctx, n_pages: int, warehouse: str) -> float:
        from mmkg_rag_spark import run

        args = ["--n-docs", str(n_pages), "--seed", str(ctx.seed), "--warehouse", warehouse]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            code = run.main(args)
        if code != 0:
            raise RuntimeError(f"run.main exited with {code}")
        return time.perf_counter() - t0

    def _warehouse(self, ctx: Ctx) -> str:
        self.runs += 1
        return os.path.join(ctx.work, f"warehouse-{self.runs}")

    def warm(self, ctx: Ctx) -> None:
        self._main(ctx, self.n_warm, self._warehouse(ctx))

    def op(self, ctx: Ctx) -> Op:
        from mmkg_rag_spark.sources.catalog import ParquetCatalog
        from pyspark.sql import functions as F

        warehouse = self._warehouse(ctx)
        with _span(ctx, "op"):
            wall = self._main(ctx, self.n_pages, warehouse)
        with _span(ctx, "run.resume"):
            ctx.info.setdefault("resume_s", []).append(self._main(ctx, self.n_pages, warehouse))
        ctx.info["warehouse"] = warehouse
        ctx.spark.catalog.clearCache()
        cat = ParquetCatalog(ctx.spark, warehouse)
        nodes = cat.read("nodes").filter(F.col("kind") == "node").select(*NODE_COLS).collect()
        edges = cat.read("edges").select(*EDGE_COLS).collect()
        img = cat.read("image_edges").select(*IMAGE_EDGE_COLS).collect()
        return Op(wall, self.n_pages, oracle.graph_scores(_graph(nodes, edges, img), ctx.expected.result()),
                  _digest(nodes, edges, img))

    traced = op

    def stage_walls(self, ctx: Ctx) -> dict[str, float]:
        """Per-stage wall seconds of the last submit, from the program's own
        ``_metrics`` rows."""
        from mmkg_rag_spark.metrics import read_metrics

        rows = read_metrics(ctx.spark, ctx.info["warehouse"]).select(
            "stage", "snapshot", "wall_ms").distinct().collect()
        return {s: sum(r.wall_ms for r in rows if r.stage == s) / 1000 for s in RUN_STAGES}


WORKLOADS = {w.name: w for w in (BulkBuild, StreamFold, StagedSubmit, VocabFold)}
