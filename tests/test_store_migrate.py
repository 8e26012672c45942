"""Store layout migration (flat key-sorted ↔ key-partitioned tree).

A store is born in the layout its build-time size justifies, but a
flat store that grows by appends loses its row-group pruning (keys
interleave across files); migrating to the partitioned tree restores
probe-time partition pruning. Serve/append paths auto-detect layout
per call, so migration must be purely physical: identical results
before and after, sidecars (including pending ``_tombstones``)
carried verbatim. Every test runs under both store backends."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators import similarity as SIM
from tiki_data_pipeline_spark.sources import store_backend as MB
from tiki_data_pipeline_spark.sources.files import (
    delete_from_store,
    is_manifest_store,
    migrate_store_layout,
    store_layout,
    store_put,
    store_sub_exists,
)


@pytest.fixture(params=["posix", "manifest"])
def backend(request, monkeypatch):
    """Run every migration under both store backends (posix
    hardlink/rename vs object-store-safe manifest): stores built in a
    test are born in the selected backend."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_BACKEND", request.param)
    return request.param


def _top_names(path):
    """Top-level names of a store: directory entries on posix, the
    first segment of each logical path on manifest."""
    if is_manifest_store(path):
        return {MB._lp(f).split("/", 1)[0] for f in MB.manifest_files(path)}
    return set(os.listdir(path))


def _sidecar_identity(path):
    """What 'sidecars kept unchanged' means per backend: the inode of
    every sidecar file on posix (hardlink carry), the file references
    on manifest (reference carry)."""
    if is_manifest_store(path):
        return {
            f
            for f in MB.read_manifest(path, MB.current_gen(path))["files"]
            if MB._lp(f).startswith("_")
        }
    return {
        os.path.relpath(os.path.join(dp, f), path): os.stat(os.path.join(dp, f)).st_ino
        for dp, _dns, fs in os.walk(path)
        for f in fs
        if os.path.relpath(dp, path).startswith("_") or f == "_meta.json"
    }

VECS = [
    (
        i,
        [
            1.0
            if j == i % 4
            else (0.02 * (i // 4) if j == (i % 4 + 4) else 0.0)
            for j in range(8)
        ],
    )
    for i in range(24)
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>")


def _topk(spark, path):
    q = _emb(spark).filter(F.col("vec_id") < 2)
    return {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.lsh_index_topk(spark, path, q, k=5, emit_radius=2).collect()
    }


@pytest.mark.usefixtures("backend")
class TestMigrateLayout:
    def test_flat_to_partitioned_and_back_serve_parity(self, spark, tmp_path):
        path = str(tmp_path / "lsh")
        SIM.write_lsh_index(_emb(spark), path)  # small corpus → flat
        assert store_layout(path) == ("bkt", False)
        baseline = _topk(spark, path)

        assert migrate_store_layout(spark, path, partitioned=True)
        assert store_layout(path) == ("bkt", True)
        assert any(e.startswith("bkt=") for e in _top_names(path))
        assert _topk(spark, path) == baseline
        # idempotent: already in the requested layout
        assert not migrate_store_layout(spark, path, partitioned=True)

        # appends auto-detect the new layout and keep serving
        extra = spark.createDataFrame(
            [(100, [0.5] * 8)], "vec_id long, embedding array<double>"
        )
        SIM.append_lsh_index(extra, path)
        served = {n for _, n, _ in _topk(spark, path)}
        assert served  # still serving after a partitioned append

        assert migrate_store_layout(spark, path, partitioned=False)
        assert store_layout(path) == ("bkt", False)
        after = {n for _, n, _ in _topk(spark, path)}
        assert after == served

    def test_migration_carries_pending_tombstones(self, spark, tmp_path):
        path = str(tmp_path / "lsh2")
        SIM.write_lsh_index(_emb(spark), path)
        baseline = {n for _, n, _ in _topk(spark, path)}
        victim = sorted(baseline)[0]
        delete_from_store(
            spark, path, spark.createDataFrame([(victim,)], "id long")
        )
        hidden = {n for _, n, _ in _topk(spark, path)}
        assert victim not in hidden

        migrate_store_layout(spark, path, partitioned=True)
        assert store_sub_exists(path, "_tombstones")
        assert {n for _, n, _ in _topk(spark, path)} == hidden

    def test_migration_keeps_sidecars_identical(self, spark, tmp_path):
        # sidecars are kept, not rewritten or byte-copied: same inodes
        # on posix, same file references on manifest
        path = str(tmp_path / "lsh3")
        SIM.write_lsh_index(_emb(spark), path)
        delete_from_store(
            spark, path, spark.createDataFrame([(3,)], "id long")
        )
        before = _sidecar_identity(path)
        assert any("_tombstones" in f for f in before)
        assert migrate_store_layout(spark, path, partitioned=True)
        assert _sidecar_identity(path) == before

    def test_minhash_partitioned_to_flat_parity(self, spark, tmp_path):
        path = str(tmp_path / "mh")
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(8)],
            "doc_id long, text string",
        )
        DD.write_minhash_index(docs, path)  # minhash always partitions
        assert store_layout(path) == ("band", True)
        batch = spark.createDataFrame(
            [(100, docs.collect()[3]["text"])], "doc_id long, text string"
        )
        before = {
            (r["doc_id"], r["status"], r["matched_id"])
            for r in DD.incremental_dedup_status(spark, path, batch).collect()
        }
        migrate_store_layout(spark, path, partitioned=False)
        assert store_layout(path) == ("band", False)
        after = {
            (r["doc_id"], r["status"], r["matched_id"])
            for r in DD.incremental_dedup_status(spark, path, batch).collect()
        }
        assert after == before

    def test_unrecognized_store_raises(self, spark, tmp_path):
        path = str(tmp_path / "plain")
        store_put(spark.range(5), path)
        with pytest.raises(ValueError, match="no recognized bucketing"):
            migrate_store_layout(spark, path, partitioned=True)
