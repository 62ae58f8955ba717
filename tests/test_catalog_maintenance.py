"""Catalog maintenance actions: compaction (rewrite_data_files analog)
and snapshot expiry (expire_snapshots analog) — the table-hygiene ops a
long-running 100 TB pipeline needs between builds.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(
        master="local[4]", shuffle_partitions=8, app_name="pytest-maint"
    )


def _cat(spark, tmp):
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    return ParquetCatalog(spark, str(tmp))


def test_compact_reduces_files_data_identical(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    # fragmented write: 40 tiny files
    cat.write(df.repartition(40), "t", "snapA")
    before = cat._data_files(cat.snapshot_dir("t", "snapA"))
    assert len(before) == 40

    stats = cat.compact("t", target_file_bytes=1 << 30)  # everything → 1 file
    assert stats["compacted"] is True
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40

    # data identical (multiset) in the new snapshot
    new = cat.read("t")  # latest = the compacted snapshot
    assert new.count() == 10_000
    assert new.agg(F.sum("id"), F.sum("k")).collect() == df.agg(
        F.sum("id"), F.sum("k")
    ).collect()
    # time travel: the source snapshot is still readable and identical
    old = cat.read("t", "snapA")
    assert old.count() == 10_000
    assert cat.has_snapshot("t", "snapA")
    # the compacted snapshot is the latest committed
    latest = max(
        cat.snapshots("t"), key=lambda s: (s.get("seq", 0), s["ts"])
    )
    assert latest["id"] == stats["snapshot"]
    assert latest["compacted_from"] == "snapA"


def test_compact_noop_when_already_compact(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(100).coalesce(1), "t", "one")
    stats = cat.compact("t", target_file_bytes=1 << 30)
    assert stats["compacted"] is False
    assert stats["files_before"] == stats["files_after"] == 1
    # no new snapshot was committed
    assert [s["id"] for s in cat.snapshots("t")] == ["one"]


def test_expire_snapshots_keeps_newest(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for i in range(3):
        cat.write(spark.range(10 * (i + 1)), "t", f"s{i}")
    dropped = cat.expire_snapshots("t", keep_last=1)
    assert dropped == ["s0", "s1"]
    assert [s["id"] for s in cat.snapshots("t")] == ["s2"]
    assert cat.read("t").count() == 30
    # expired data dirs are gone
    assert not os.path.exists(cat.snapshot_dir("t", "s0"))
    assert not os.path.exists(cat.snapshot_dir("t", "s1"))
    assert os.path.exists(cat.snapshot_dir("t", "s2"))


def test_compact_plan_is_narrow_no_shuffle(spark, tmp_path):
    """Compaction must plan as a coalesce (narrow), never a shuffle."""
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(5_000).repartition(20), "t", "frag")
    entry = cat.snapshots("t")[0]
    df = spark.read.parquet(entry["path"]).coalesce(1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Coalesce" in plan


def test_stored_schema_roundtrip_and_legacy_manifest(spark, tmp_path):
    """Snapshots store their schema, so ``read`` runs no schema-inference
    job and yields exactly the inferred schema and rows; a manifest entry
    written without the key still reads by inference."""
    cat = _cat(spark, tmp_path)
    nodes = spark.createDataFrame(
        [("Ada", "PERSON", "d", ["A"], ["r"], [1, 2]), ("Bob", "ORG", "e", [], [], [])],
        "name string, label string, description string, "
        "aliases array<string>, references array<string>, chunks array<int>",
    )
    edges = spark.createDataFrame(
        [("Ada", "knows", "Bob", "d", ["r"], [3])],
        "source string, label string, target string, description string, "
        "references array<string>, chunks array<int>",
    )
    cat.write_all([(nodes, "nodes"), (edges, "edges")], "s1")
    sc = spark.sparkContext

    def read_jobs(table, group):
        sc.setJobGroup(group, "catalog read")
        try:
            df = cat.read(table)
        finally:
            sc.setJobGroup("default", "")
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    inferred = {}
    for table, df in (("nodes", nodes), ("edges", edges)):
        entry = cat.snapshots(table)[0]
        assert "schema" in entry
        inferred[table] = spark.read.parquet(entry["path"]).schema
        got, jobs = read_jobs(table, f"read-{table}")
        assert jobs == 0
        assert got.schema == inferred[table]
        assert sorted(got.collect()) == sorted(df.collect())

    manifest = cat._load_manifest("nodes")
    for e in manifest:
        del e["schema"]
    cat._save_manifest("nodes", manifest)
    legacy, jobs = read_jobs("nodes", "read-legacy")
    assert jobs > 0  # schema inferred from the files
    assert legacy.schema == inferred["nodes"]
    assert sorted(legacy.collect()) == sorted(nodes.collect())
