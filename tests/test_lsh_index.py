"""Persisted LSH index: partition-pruned ANN serving path.

The in-session LSH paths replicate vectors into probe buckets; the
persisted index stores each vector once, bucket-partitioned, and
multi-probes at query time via partition pruning. These tests pin
(a) result parity with the in-session semantics, (b) recall vs the
exact brute force, and (c) the partition-pruning property itself.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"
QIDS = [3, 11, 42, 77, 123]


def _index(spark, tmp_path, partitioned=None):
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "lsh_index")
    SIM.write_lsh_index(emb, path, partitioned=partitioned)
    return emb, path


def test_lsh_index_stores_each_vector_once(spark, tmp_path):
    emb, path = _index(spark, tmp_path)
    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    assert idx.select("id").distinct().count() == emb.count()
    assert "bkt" in idx.columns


def test_lsh_index_small_corpus_layout_prunes_by_pushdown(spark, tmp_path):
    """The auto layout for a small corpus is a bkt-sorted single
    dataset (no 2^n near-empty directories); the bucket predicate
    still reaches the scan as a pushed filter, and results are
    identical to the directory-partitioned layout's."""
    from pathlib import Path

    emb, path = _index(spark, tmp_path)  # auto → sorted layout at sf0.001
    assert not list(Path(path).glob("bkt=*")), "expected non-partitioned layout"
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    df = SIM.lsh_index_topk(spark, path, queries, k=5, emit_radius=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PushedFilters" in l and "bkt" in l.lower().replace("bkt#", "bkt")
        for l in plan.splitlines()
        if "PushedFilters" in l
    ) or "In(bkt" in plan, plan
    got = {(r["query_id"], r["neighbor_id"], r["cosine_sim"]) for r in df.collect()}
    part_path = str(tmp_path / "lsh_index_part")
    SIM.write_lsh_index(emb, part_path, partitioned=True)
    want = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.lsh_index_topk(
            spark, part_path, queries, k=5, emit_radius=2
        ).collect()
    }
    assert got == want


def test_lsh_index_topk_recall_vs_brute_force(spark, tmp_path):
    emb, path = _index(spark, tmp_path)
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_index_topk(spark, path, queries, k=5, emit_radius=2).collect()
    }
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, QIDS, k=5).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.2, f"index ANN recall collapsed: {recall}"
    # reported similarities must be exact (verified pairs, approximate set)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in SIM.brute_force_topk(emb, QIDS, k=2000).collect()
    }
    for r in SIM.lsh_index_topk(spark, path, queries, k=5, emit_radius=2).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(r["cosine_sim"] - exact[key]) < 1e-9


def test_lsh_index_scan_is_partition_pruned(spark, tmp_path):
    # force the big-corpus directory layout to pin the pruning property
    emb, path = _index(spark, tmp_path, partitioned=True)
    queries = emb.filter(F.col("vec_id").isin(QIDS[:2]))
    df = SIM.lsh_index_topk(spark, path, queries, k=5, emit_radius=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry a PartitionFilters INSET on bkt —
    # pruning happens at file listing, before any bytes are read
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("bkt" in l and "INSET" in l for l in scan_lines), plan
    # and the probe set (recomputed independently here) is bounded by
    # |queries| · |masks|, never the whole 2^n_planes bucket space
    dim = len(queries.first()["embedding"])
    q_buckets = [
        int(r["b"])
        for r in queries.select(
            SIM.lsh_bucket(SIM.as_double(F.col("embedding")), dim).alias("b")
        ).collect()
    ]
    masks = SIM.probe_masks(SIM.N_PLANES, 1)
    probe = {b ^ m for b in q_buckets for m in masks}
    assert len(probe) <= len(q_buckets) * len(masks)
    assert len(probe) < 2**SIM.N_PLANES
    # every partition the plan keeps is in the computed probe set
    kept = {
        int(t)
        for l in scan_lines
        for t in __import__("re").findall(r"INSET ([0-9, ]+)", l)
        for t in t.split(",")
        if t.strip().isdigit()
    }
    assert kept <= probe


def test_oversized_query_set_fails_loudly(spark, tmp_path, monkeypatch):
    """The ANN serving paths collect/broadcast the query set; the
    MAX_QUERY_SET contract must raise a clear error instead of
    OOMing the driver when a caller feeds an unbounded set."""
    import pytest

    monkeypatch.setattr(SIM, "MAX_QUERY_SET", 3)
    emb, path = _index(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") < 10)  # 10 > 3
    with pytest.raises(ValueError, match="query set"):
        SIM.lsh_index_topk(spark, path, queries, k=5)
    with pytest.raises(ValueError, match="query set"):
        SIM.brute_force_topk(emb, list(range(10)), k=5)
    with pytest.raises(ValueError, match="query set"):
        SIM.lsh_bucketed_topk(emb, list(range(10)), k=5)
    with pytest.raises(ValueError, match="query set"):
        SIM.ivf_topk(emb, list(range(10)), k=5)


def test_ivf_index_matches_in_session_ivf(spark, tmp_path):
    """The persisted IVF index must return exactly what ivf_topk
    returns in-session (same quantizer, same probe rule), and its
    scan must be pruned to the probed cid lists."""
    emb = load_table(spark, SF, "embeddings")
    cents = SIM.ivf_train(emb, k=16)
    path = str(tmp_path / "ivf_index")
    SIM.write_ivf_index(emb, path, centroids=cents)

    queries = emb.filter(F.col("vec_id").isin(QIDS))
    served = SIM.ivf_index_topk(spark, path, queries, k=5, nprobe=2)
    want = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_topk(emb, QIDS, k=5, centroids=cents).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in served.collect()
    }
    assert got == want
    # probe = pruning: the cid filter must reach the scan
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "cid" in plan and ("In(cid" in plan or "INSET" in plan or "in(cid" in plan), plan


def test_ivf_index_partitioned_layout_same_results(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    cents = SIM.ivf_train(emb, k=16)
    flat = str(tmp_path / "flat")
    part = str(tmp_path / "part")
    SIM.write_ivf_index(emb, flat, centroids=cents, partitioned=False)
    SIM.write_ivf_index(emb, part, centroids=cents, partitioned=True)
    from pathlib import Path

    assert list(Path(part).glob("cid=*")), "expected cid directory partitions"
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    rows = lambda p: sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.ivf_index_topk(spark, p, queries).collect()
    )
    assert rows(flat) == rows(part)
    # each vector stored exactly once
    assert spark.read.parquet(part).count() == emb.count()


def _serve_pairs(spark, path, queries):
    return {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in SIM.lsh_index_topk(spark, path, queries, k=5).collect()
    }


def test_append_lsh_index_matches_full_rebuild(spark, tmp_path):
    """Appending a delta to a persisted index must serve EXACTLY what
    a full rebuild over the union serves — both layouts."""
    emb = load_table(spark, SF, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.orderBy("vec_id").limit(5)
    for layout, partitioned in (("part", True), ("flat", False)):
        inc = str(tmp_path / f"inc_{layout}")
        full = str(tmp_path / f"full_{layout}")
        SIM.write_lsh_index(half_a, inc, partitioned=partitioned)
        SIM.append_lsh_index(half_b, inc)
        SIM.write_lsh_index(emb, full, partitioned=partitioned)
        assert _serve_pairs(spark, inc, queries) == _serve_pairs(
            spark, full, queries
        ), f"layout={layout}"


def test_compact_store_preserves_rows_and_merges_files(spark, tmp_path):
    """Compacting an appended MinHash store merges each band dir (and
    the sidecars) down to one file without changing any row."""
    from pathlib import Path

    from tiki_data_pipeline_spark.operators import dedup as DD
    from tiki_data_pipeline_spark.sources.files import compact_store

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store")
    DD.write_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), store)
    DD.append_minhash_index(docs.filter(F.col("doc_id") % 2 == 1), store)

    def _snapshot():
        bands = {
            (r["id"], tuple(r["sig"]), r["band_sig"], r["band"])
            for r in spark.read.parquet(store).collect()
        }
        fps = {
            tuple(r) for r in spark.read.parquet(store + "/_fingerprints").collect()
        }
        return bands, fps

    before = _snapshot()
    n_fpb = len(
        [d for d in Path(store + "/_fingerprints").iterdir() if d.is_dir()]
    )
    assert n_fpb >= 2  # bucketed sidecar: fpb= leaves
    n = compact_store(spark, store, target_files_per_partition=1)
    # band dirs + _hot_bands + each fpb= bucket of _fingerprints
    assert n == DD.LSH_BANDS + 1 + n_fpb

    def _leaves(root):
        for d in root.iterdir():
            if not d.is_dir():
                continue
            subs = [s for s in d.iterdir() if s.is_dir() and "=" in s.name]
            yield from subs if subs else [d]

    for d in _leaves(Path(store)):
        files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
        assert len(files) == 1, f"{d.name} not compacted"
    assert _snapshot() == before


def test_append_ivf_index_matches_rebuild_with_frozen_centroids(spark, tmp_path):
    """IVF append assigns the delta to the PERSISTED (frozen)
    centroids; serving must equal a rebuild over the union that uses
    those same centroids — both layouts."""
    emb = load_table(spark, SF, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.orderBy("vec_id").limit(5)

    def _serve(path):
        return {
            (r["query_id"], r["neighbor_id"], r["cosine_sim"])
            for r in SIM.ivf_index_topk(spark, path, queries, k=5, nprobe=2).collect()
        }

    for layout, partitioned in (("part", True), ("flat", False)):
        inc = str(tmp_path / f"ivf_inc_{layout}")
        full = str(tmp_path / f"ivf_full_{layout}")
        SIM.write_ivf_index(half_a, inc, partitioned=partitioned)
        SIM.append_ivf_index(spark, half_b, inc)
        frozen = spark.read.parquet(inc + "/_centroids")
        SIM.write_ivf_index(emb, full, centroids=frozen, partitioned=partitioned)
        assert _serve(inc) == _serve(full), f"layout={layout}"


def test_serve_reads_legacy_index_without_nrm(spark, tmp_path):
    """An index written before the nrm column existed must still
    serve, with identical results (norm computed at read time)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.orderBy("vec_id").limit(3)
    cur = str(tmp_path / "cur")
    SIM.write_lsh_index(emb, cur)
    legacy = str(tmp_path / "legacy")
    spark.read.parquet(cur).drop("nrm").write.partitionBy("bkt").parquet(legacy)
    assert _serve_pairs(spark, legacy, queries) == _serve_pairs(spark, cur, queries)


def test_ivf_drift_report_flags_distribution_shift(spark, tmp_path):
    """Same-distribution delta: fractions track the store and
    distances stay on the stored scale. Shifted delta (vectors pushed
    far off every centroid): distances blow up — the retrain signal."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(emb, path)

    same = SIM.ivf_drift_report(spark, path, emb).collect()
    stored_cids = {
        r["cid"] for r in spark.read.parquet(path).select("cid").distinct().collect()
    }
    assert {r["cid"] for r in same} == stored_cids
    tot_stored = sum(r["n_stored"] for r in same)
    tot_new = sum(r["n_new"] for r in same)
    assert tot_stored == tot_new  # identical delta == the corpus itself
    for r in same:
        assert abs(r["stored_frac"] - r["new_frac"]) < 1e-9
        assert abs(r["avg_sq_dist_stored"] - r["avg_sq_dist_new"]) < 1e-6

    shifted = emb.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(100.0)).alias("embedding")
    )
    drift = SIM.ivf_drift_report(spark, path, shifted).collect()
    worst_new = max(r["avg_sq_dist_new"] for r in drift if r["n_new"])
    worst_stored = max(r["avg_sq_dist_stored"] for r in drift if r["n_stored"])
    assert worst_new > 100 * worst_stored, "shift not flagged"


def test_append_param_mismatch_raises(spark, tmp_path):
    """Appending with different signature parameters than the store
    was built with must fail loudly — a silent mix would null out
    scoring (minhash) or bucket into a different hash family (lsh)."""
    import pytest

    from tiki_data_pipeline_spark.operators import dedup as DD

    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents")

    mh = str(tmp_path / "mh")
    DD.write_minhash_index(docs.limit(50), mh)
    with pytest.raises(ValueError, match="incomparable"):
        DD.append_minhash_index(docs.limit(10), mh, k=8, bands=4)

    lsh = str(tmp_path / "lsh")
    SIM.write_lsh_index(emb.limit(50), lsh)
    with pytest.raises(ValueError, match="incomparable"):
        SIM.append_lsh_index(emb.limit(10), lsh, n_planes=12)

    # cross-kind: appending LSH rows onto an IVF tree must also raise
    ivf = str(tmp_path / "ivf")
    SIM.write_ivf_index(emb.limit(50), ivf)
    with pytest.raises(ValueError, match="incomparable"):
        SIM.append_lsh_index(emb.limit(10), ivf)


def test_compact_store_recovers_mid_swap_crash(spark, tmp_path):
    """A compact_parquet crash between the two renames leaves only
    'band=0.old'; re-running compact_store must restore and compact
    the live dir, not treat the leftover as a partition."""
    import shutil
    from pathlib import Path

    from tiki_data_pipeline_spark.operators import dedup as DD
    from tiki_data_pipeline_spark.sources.files import compact_store

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store")
    DD.write_minhash_index(docs, store)
    before = spark.read.parquet(store).count()

    shutil.move(store + "/band=0", store + "/band=0.old")
    compact_store(spark, store)
    assert Path(store + "/band=0").is_dir()
    assert not Path(store + "/band=0.old").exists()
    assert spark.read.parquet(store).count() == before


def _appended_minhash_store(spark, tmp_path):
    """A MinHash store built from a third of the docs and appended
    twice: band= leaves hold 3 files, fpb= leaves 2-3."""
    from tiki_data_pipeline_spark.operators import dedup as DD

    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / "store")
    DD.write_minhash_index(docs.filter(F.col("doc_id") % 3 == 0), store)
    for r in (1, 2):
        DD.append_minhash_index(docs.filter(F.col("doc_id") % 3 == r), store)
    return store


def _store_rows(spark, store):
    """Row sets of the data tree and the _fingerprints sidecar."""
    return (
        {
            (r["id"], tuple(r["sig"]), r["band_sig"], r["band"])
            for r in spark.read.parquet(store).collect()
        },
        {tuple(r) for r in spark.read.parquet(store + "/_fingerprints").collect()},
    )


def _leaf_files(store):
    """Parquet file count of every compactable leaf directory."""
    from pathlib import Path

    out = {}
    for d in Path(store).iterdir():
        if not d.is_dir() or d.name == "_decisions":
            continue
        subs = [s for s in d.iterdir() if s.is_dir() and "=" in s.name]
        for leaf in subs or [d]:
            out[leaf] = len([f for f in leaf.iterdir() if f.suffix == ".parquet"])
    return out


def test_compact_store_sweeps_crashed_tree_staging(spark, tmp_path, monkeypatch):
    """A crash after a tree's one Spark write and before its per-leaf
    swaps leaves only the staging tree behind: readers never see it,
    a fold does not carry it into its staged tree, and the next
    compact_store sweeps it."""
    from pathlib import Path

    import pytest

    from tiki_data_pipeline_spark.sources import files as FS

    store = _appended_minhash_store(spark, tmp_path)
    staging = Path(store) / FS.COMPACT_STAGING

    class Crash(Exception):
        pass

    def _crash(path, write_staging):
        raise Crash(path)

    def _crashed_compaction():
        with monkeypatch.context() as m:
            m.setattr(FS, "swap_parquet_rewrite", _crash)
            with pytest.raises(Crash):
                FS.compact_store(spark, store)
        assert any(staging.rglob("*.parquet")), "tree write left no staging"

    before = _store_rows(spark, store)
    _crashed_compaction()
    assert _store_rows(spark, store) == before

    fps = spark.read.parquet(store + "/_fingerprints")
    victims = fps.select("id").orderBy("id").limit(3)
    gone = {r["id"] for r in victims.collect()}
    FS.delete_from_store(spark, store, victims)
    FS.fold_tombstones(spark, store)
    assert not staging.exists(), "fold carried the compaction staging tree"
    after_fold = tuple(
        {r for r in rows if r[0] not in gone} for rows in before
    )
    assert _store_rows(spark, store) == after_fold

    _crashed_compaction()  # fpb= leaves the fold did not touch: over target
    FS.compact_store(spark, store)
    assert not staging.exists()
    assert _store_rows(spark, store) == after_fold
    assert all(n == 1 for n in _leaf_files(store).values())


def test_compact_store_second_call_rewrites_nothing(spark, tmp_path):
    """Compaction work is proportional to what needs it: on a store
    that is already compact no parquet file is rewritten (inode and
    mtime unchanged) and the count matches the first call. A leaf's
    '.old' crash leftover is still recovered before the skip
    decision."""
    import os
    import shutil
    from pathlib import Path

    from tiki_data_pipeline_spark.sources.files import compact_store

    store = _appended_minhash_store(spark, tmp_path)

    def _stats():
        return {
            p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in Path(store).rglob("*.parquet")
        }

    n = compact_store(spark, store)
    compacted = _stats()
    assert compact_store(spark, store) == n
    assert _stats() == compacted

    shutil.move(store + "/band=1", store + "/band=1.old")
    assert compact_store(spark, store) == n
    assert not Path(store + "/band=1.old").exists()
    assert _stats() == compacted


def _lsh_rows(spark, path):
    """(id, bkt, v) row set of an LSH index's data tree."""
    return {
        (r["id"], r["bkt"], tuple(r["v"]))
        for r in spark.read.parquet(path).select("id", "bkt", "v").collect()
    }


def test_compact_store_keeps_each_leafs_columns(spark, tmp_path):
    """Appending to a pre-nrm LSH index leaves legacy-only leaves
    beside leaves written with nrm. Compaction must keep each leaf's
    own columns: one scan over both kinds would read every file with
    one schema and add a NULL nrm to the legacy leaves or drop it from
    the new ones."""
    import pyarrow.parquet as pq

    from tiki_data_pipeline_spark.sources.files import compact_store

    emb = load_table(spark, SF, "embeddings")
    full = str(tmp_path / "full")
    SIM.write_lsh_index(emb, full, partitioned=True)
    bkt = spark.read.parquet(full).select(F.col("id").alias("vec_id"), "bkt")
    path = str(tmp_path / "idx")
    legacy = spark.read.parquet(full).filter(F.col("bkt") % 2 == 0).drop("nrm")
    for r in (0, 1):
        legacy.filter(F.col("id") % 2 == r).write.mode("append").partitionBy(
            "bkt"
        ).parquet(path)
    odd = emb.join(bkt.filter(F.col("bkt") % 2 == 1), "vec_id").drop("bkt")
    for r in (0, 1):
        SIM.append_lsh_index(odd.filter(F.col("vec_id") % 2 == r), path)
    before = _lsh_rows(spark, path)
    over = {
        int(leaf.name.split("=")[1]) % 2
        for leaf, n in _leaf_files(path).items()
        if n > 1
    }
    assert over == {0, 1}, "need over-target leaves of both kinds"

    compact_store(spark, path)
    leaves = _leaf_files(path)
    assert all(n == 1 for n in leaves.values())
    for leaf in leaves:
        (f,) = leaf.glob("*.parquet")
        has_nrm = "nrm" in pq.read_schema(f).names
        assert has_nrm == (int(leaf.name.split("=")[1]) % 2 == 1), leaf.name
    assert _lsh_rows(spark, path) == before


def test_compact_store_posix_target_and_empty_leaf(spark, tmp_path):
    """target_files_per_partition > 1 leaves at most that many files
    in every leaf with row sets unchanged, and a zero-row leaf keeps
    exactly one schema-bearing file."""
    from pathlib import Path

    from tiki_data_pipeline_spark.sources.files import compact_store

    store = _appended_minhash_store(spark, tmp_path)
    hot = store + "/_hot_bands"
    empty = spark.read.parquet(hot)
    assert empty.count() == 0
    for _ in range(2):
        empty.limit(0).coalesce(1).write.mode("append").parquet(hot)
    before = _store_rows(spark, store)
    assert _leaf_files(store)[Path(hot)] == 3
    assert max(_leaf_files(store).values()) > 2

    compact_store(spark, store, target_files_per_partition=2)
    files = _leaf_files(store)
    assert all(1 <= n <= 2 for n in files.values()), files
    assert files[Path(hot)] == 1
    assert spark.read.parquet(hot).schema == empty.schema
    assert spark.read.parquet(hot).count() == 0
    assert _store_rows(spark, store) == before


def test_lsh_index_near_dups_matches_in_session_blocking(spark, tmp_path):
    """Distributed batch-vs-index near-dup with query-side radius 2R
    must produce exactly the cross-split pairs the in-session
    both-sides-radius-R path produces (pair meets iff Hamming ≤ 2R),
    with cosines agreeing to the in-session rounding."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    got = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=4
        ).collect()
    }

    both = SIM.near_dup_pairs(emb, threshold=0.45, blocking="lsh", emit_radius=2)
    want = {}
    for r in both.collect():
        i, j = r["i"], r["j"]
        if (i % 2) != (j % 2):  # cross-split pairs only
            new, old = (i, j) if i % 2 == 1 else (j, i)
            want[(new, old)] = r["cosine_sim"]
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-4, k
    assert got, "no cross pairs on the fixture corpus"


def test_compact_store_on_appended_ann_index_preserves_serving(spark, tmp_path):
    """Maintenance end-to-end on the ANN side: build partitioned,
    append a delta, compact the store — serving results must be
    identical before and after compaction, with bucket dirs merged."""
    from pathlib import Path

    from tiki_data_pipeline_spark.sources.files import compact_store

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path, partitioned=True)
    SIM.append_lsh_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    queries = emb.orderBy("vec_id").limit(5)

    before = _serve_pairs(spark, path, queries)
    n = compact_store(spark, path)
    assert n > 0
    for d in Path(path).glob("bkt=*"):
        files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
        assert len(files) == 1, f"{d.name} not compacted"
    assert _serve_pairs(spark, path, queries) == before


def test_epoch_partition_overwrite_is_idempotent(spark, tmp_path):
    """The decisions-log write pattern (epoch-partitioned dynamic
    overwrite) must replace a retried epoch's rows, not duplicate
    them — the exactly-once mechanism incremental_dedup_sink uses."""
    path = str(tmp_path / "log")
    df = spark.range(10).withColumn("epoch", F.lit(0))
    for _ in range(2):  # original attempt + retry of the SAME epoch
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )
    spark.range(5).withColumn("epoch", F.lit(1)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(path)
    out = spark.read.parquet(path)
    assert out.count() == 15  # 10 from epoch 0 (not 20), 5 from epoch 1
    assert out.filter(F.col("epoch") == 0).count() == 10


def test_lsh_hot_buckets_stats_and_optin_skip(spark, tmp_path):
    """Embedding mega-cluster handling: a planted bucket of 60
    identical vectors is reported by lsh_bucket_stats, recorded by
    rebuild_hot_buckets, and excluded ONLY under the explicit
    skip_hot_buckets opt-in (default serving must keep full recall —
    there is no exact-first stage on the embedding side to catch the
    skipped mass)."""
    import shutil

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    other = [float((i * 5) % 11 - 5) for i in range(8)]
    rows = [(i, base) for i in range(60)] + [(1000, other)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "hotidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)

    stats = SIM.lsh_bucket_stats(spark, path, cap=50)
    assert stats["rows"] == 61
    assert stats["max_occupancy"] == 60
    assert stats["hot_buckets"] == 1
    assert stats["rows_in_hot_buckets"] == 60

    assert SIM.rebuild_hot_buckets(spark, path, cap=50) == 1

    batch = spark.createDataFrame(
        [(2000, base), (2001, other)], "vec_id long, embedding array<float>"
    )
    # default: full recall — the mega-cluster pairs are returned
    full = SIM.lsh_index_near_dups(spark, path, batch, threshold=0.99)
    by_new = {}
    for r in full.collect():
        by_new.setdefault(r["new_id"], set()).add(r["old_id"])
    assert len(by_new.get(2000, set())) == 60
    assert by_new.get(2001) == {1000}

    # opt-in: the hot bucket is skipped, the cold one still serves
    skipped = SIM.lsh_index_near_dups(
        spark, path, batch, threshold=0.99, skip_hot_buckets=True
    )
    by_new2 = {}
    for r in skipped.collect():
        by_new2.setdefault(r["new_id"], set()).add(r["old_id"])
    assert 2000 not in by_new2, "hot-bucket candidates not skipped"
    assert by_new2.get(2001) == {1000}


def test_lsh_index_dedup_status_staged(spark, tmp_path):
    """Staged embedding dedup: a bit-identical vector is exact_dup
    (lowest store id wins) and never reaches the near stage; a close
    vector is near_dup with the best (highest-cosine, lowest-id)
    match; an unrelated one is unique. Mega-cluster defusal: 40
    identical store vectors produce ONE exact decision row for a
    matching delta vector, not 40 near-candidates."""
    import shutil

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    other = [float(-(i * 5) % 11 - 5) for i in range(8)]
    rows = [(i, base) for i in range(40)] + [(500, other)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "stagedidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)

    batch = spark.createDataFrame(
        [(1000, base), (1001, near), (1002, [9.0, -7.0] * 4)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.lsh_index_dedup_status(
            spark, path, batch, threshold=0.99
        ).collect()
    }
    assert got[1000] == ("exact_dup", 0)
    assert got[1001] == ("near_dup", 0)
    assert got[1002][0] == "unique"
    assert len(got) == 3


def test_query_directed_probing_subset_and_recall(spark, tmp_path):
    """Query-directed multi-probe (probe_planes): results must be a
    value-exact SUBSET of exhaustive probing (it can only skip
    buckets, never invent pairs), identical-vector matches must always
    survive (empty flip set probes the home bucket), and on the
    fixture corpus the directed recall should stay high while probing
    C(4,<=2)=11 buckets instead of C(8,<=2)=37."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "diridx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    full = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=2
        ).collect()
    }
    directed = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=2, probe_planes=4
        ).collect()
    }
    assert set(directed) <= set(full), "directed probing invented pairs"
    for k, v in directed.items():
        assert v == full[k], k
    assert full, "no pairs on the fixture"

    # recall in the regime directed probing is FOR — true near-dups
    # (cos >= ~0.99): plant 30 tiny-perturbation twins of store
    # vectors; their flips concentrate on the lowest-margin planes,
    # so probing 11 of 37 buckets must still find nearly all of them
    src = emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 60)).collect()
    twins = spark.createDataFrame(
        [
            (90000 + r["vec_id"], [x + 0.001 for x in r["embedding"]])
            for r in src
        ],
        "vec_id long, embedding array<float>",
    )
    found_dir = {
        r["new_id"]
        for r in SIM.lsh_index_near_dups(
            spark, path, twins, threshold=0.99, emit_radius=2, probe_planes=4
        ).collect()
        if r["old_id"] == r["new_id"] - 90000
    }
    recall = len(found_dir) / len(src)
    assert recall >= 0.9, f"directed near-dup recall {recall:.2f} on {len(src)} twins"

    # identical vector: found by BOTH modes via the home bucket
    twin_src = emb.filter(F.col("vec_id") == 0).collect()[0]
    twin = spark.createDataFrame(
        [(99991, twin_src["embedding"])], "vec_id long, embedding array<float>"
    )
    for planes in (None, 2):
        got = SIM.lsh_index_near_dups(
            spark, path, twin, threshold=0.99, emit_radius=2, probe_planes=planes
        ).collect()
        assert any(r["old_id"] == 0 for r in got), f"probe_planes={planes}"


def test_lsh_index_topk_directed_probing(spark, tmp_path):
    """Directed probing on the ANN serve path: results are a subset
    of exhaustive probing with identical cosines, and a query that IS
    a store vector always finds itself-adjacent neighbors via the
    home bucket."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "topkdir")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)
    dim = len(emb.first()["embedding"])
    # a NULL vector and a NULL element have no defined cosine: dropped
    # like zero-norm queries on both probe paths, never a crash
    no_cosine = spark.createDataFrame(
        [(9998, [None] + [1.0] * (dim - 1), 0), (9999, None, 0)], emb.schema
    )
    queries = emb.filter(F.col("vec_id") < 6).unionByName(no_cosine)

    full = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_topk(
            spark, path, queries, k=5, emit_radius=2
        ).collect()
    }
    directed = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_topk(
            spark, path, queries, k=5, emit_radius=2, probe_planes=4
        ).collect()
    }
    assert directed, "directed probing returned nothing"
    # top-k of a candidate SUBSET can only surface pairs the full run
    # also scored (possibly below its top-k cut) — so every shared key
    # must agree on the cosine, and every query still gets neighbors
    for key, v in directed.items():
        if key in full:
            assert v == full[key], key
    assert {q for q, _ in directed} == {q for q, _ in full}
    assert not {9998, 9999} & {q for q, _ in full}


def test_staged_status_exact_join_dpp_prunes_partitioned_store(spark, tmp_path):
    """The exact stage's leading bkt-equality key must let dynamic
    partition pruning bound the store scan to the batch's home
    buckets on the partitioned layout — without it every micro-batch
    of the streaming embedding sink shuffles the whole store's vector
    payload."""
    import shutil

    import re

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "dppidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path, partitioned=True)
    batch = emb.filter(F.col("vec_id") < 10)
    # scoring="expr": the bkt equi-join against broadcast probe rows
    # must produce dynamic partition pruning on the store scan
    st = SIM.lsh_index_dedup_status(
        spark, path, batch, threshold=0.99, scoring="expr"
    )
    st.collect()
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    # scoring="arrow" (default): the cogroup has no join to hang DPP
    # on, so the serve pushes the collected probed-bucket set as a
    # STATIC partition filter — same bounded scan, pinned here
    st = SIM.lsh_index_dedup_status(spark, path, batch, threshold=0.99)
    st.collect()
    plan = st._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*bkt[^\]]*(INSET|IN \()", plan)
    assert m, plan[:1500]


def test_dedup_status_null_and_zero_norm_vectors_are_no_vector(spark, tmp_path):
    """A NULL or zero-norm batch vector has no defined cosine: both
    stages exclude it and the index writer drops it at append time, so
    statusing it 'unique' made the ingest sink re-'append' it every
    epoch and re-report it unique forever (ADVICE r6, fixed r8). It
    must come back as 'no_vector', and scoreable vectors in the same
    batch must be unaffected."""
    import shutil

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    emb = spark.createDataFrame(
        [(0, base)], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "novecidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)

    batch = spark.createDataFrame(
        [
            (100, base),            # exact dup of stored vector
            (101, None),            # NULL vector
            (102, [0.0] * 8),       # zero norm
            (103, [9.0, -7.0] * 4), # scoreable, unrelated
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.lsh_index_dedup_status(
            spark, path, batch, threshold=0.99
        ).collect()
    }
    assert got[100] == ("exact_dup", 0)
    assert got[101] == ("no_vector", None)
    assert got[102] == ("no_vector", None)
    assert got[103][0] == "unique"
    assert len(got) == 4


def test_store_meta_records_and_appends_serve_stats(spark, tmp_path):
    """write_lsh_index records n_rows / n_distinct_vectors in
    _meta.json; append_lsh_index maintains them with a delta-sized
    pass (no store rescan). The ingest sink appends pre-deduped
    uniques, so the zero-duplicate-mass invariant survives appends."""
    import shutil

    from tiki_data_pipeline_spark.sources.files import read_store_meta

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    other = [float((i * 5) % 11 - 5) for i in range(8)]
    emb = spark.createDataFrame(
        [(0, base), (1, base), (2, other)], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "metaidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)
    meta = read_store_meta(path)
    assert meta["n_rows"] == 3
    assert meta["n_distinct_vectors"] == 2  # 0 and 1 are bit-identical

    delta = spark.createDataFrame(
        [(10, [1.0] * 8), (11, None)], "vec_id long, embedding array<float>"
    )
    SIM.append_lsh_index(delta, path)
    meta = read_store_meta(path)
    assert meta["n_rows"] == 4, "NULL vector must not count as admitted"
    assert meta["n_distinct_vectors"] == 3


def test_resolve_probe_planes_auto(tmp_path):
    """The 'auto' serve default: exhaustive (None) for pre-meta and
    small stores, directed max(4, 2*emit_radius) capped at n_planes
    for stores at/above DIRECTED_PROBE_MIN_ROWS; explicit values pass
    through untouched."""
    import json
    import os

    store = str(tmp_path / "s")
    os.makedirs(store)
    # pre-meta store: exhaustive
    assert SIM._resolve_probe_planes("auto", store, 16, 2) is None
    # small store: exhaustive
    with open(os.path.join(store, "_meta.json"), "w") as f:
        json.dump({"kind": "lsh", "n_planes": 16, "n_rows": 100}, f)
    assert SIM._resolve_probe_planes("auto", store, 16, 2) is None
    # big store: directed
    with open(os.path.join(store, "_meta.json"), "w") as f:
        json.dump(
            {"kind": "lsh", "n_planes": 16,
             "n_rows": SIM.DIRECTED_PROBE_MIN_ROWS}, f
        )
    assert SIM._resolve_probe_planes("auto", store, 16, 2) == 4
    assert SIM._resolve_probe_planes("auto", store, 16, 3) == 6
    assert SIM._resolve_probe_planes("auto", store, 3, 2) == 3  # capped
    # explicit wins
    assert SIM._resolve_probe_planes(None, store, 16, 2) is None
    assert SIM._resolve_probe_planes(7, store, 16, 2) == 7


def test_auto_directed_default_on_big_store_meta(spark, tmp_path):
    """With the store meta reporting a big corpus, the DEFAULT serve
    path must switch to directed probing and stay a value-exact subset
    of exhaustive probing, with identical-twin recall intact (the
    round-6 measured 4.7x scale win becomes what a default caller
    gets)."""
    import shutil

    from tiki_data_pipeline_spark.sources.files import update_store_meta

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "bigmetaidx")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    # pretend the store is at scale (the probe decision reads meta
    # only; rows on disk stay the fixture's)
    update_store_meta(path, {"n_rows": SIM.DIRECTED_PROBE_MIN_ROWS})
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    full = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=2, probe_planes=None
        ).collect()
    }
    auto = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=2
        ).collect()
    }
    assert full, "no pairs on the fixture"
    assert set(auto) <= set(full), "auto-directed probing invented pairs"
    for k, v in auto.items():
        assert v == full[k], k

    # identical-twin recall through the auto default
    src = emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 60)).collect()
    twins = spark.createDataFrame(
        [(90000 + r["vec_id"], [x + 0.001 for x in r["embedding"]]) for r in src],
        "vec_id long, embedding array<float>",
    )
    found = {
        r["new_id"]
        for r in SIM.lsh_index_near_dups(
            spark, path, twins, threshold=0.99, emit_radius=2
        ).collect()
        if r["old_id"] == r["new_id"] - 90000
    }
    assert len(found) / len(src) >= 0.9


def test_skip_hot_buckets_auto_honors_store_policy(spark, tmp_path):
    """skip_hot_buckets='auto' skips ONLY when the operator recorded
    serve_default=True via rebuild_hot_buckets; a plain stats rebuild
    leaves default serving at full recall (pinned by
    test_lsh_hot_buckets_stats_and_optin_skip)."""
    import shutil

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    other = [float((i * 5) % 11 - 5) for i in range(8)]
    rows = [(i, base) for i in range(60)] + [(1000, other)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "hotpolicy")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_lsh_index(emb, path)
    assert SIM.rebuild_hot_buckets(spark, path, cap=50, serve_default=True) == 1

    batch = spark.createDataFrame(
        [(2000, base), (2001, other)], "vec_id long, embedding array<float>"
    )
    got = {}
    for r in SIM.lsh_index_near_dups(
        spark, path, batch, threshold=0.99
    ).collect():
        got.setdefault(r["new_id"], set()).add(r["old_id"])
    assert 2000 not in got, "recorded serve policy not honored by default"
    assert got.get(2001) == {1000}, "cold bucket must still serve"

    # recording the policy back off restores full recall
    SIM.rebuild_hot_buckets(spark, path, cap=50, serve_default=False)
    full = {}
    for r in SIM.lsh_index_near_dups(
        spark, path, batch, threshold=0.99
    ).collect():
        full.setdefault(r["new_id"], set()).add(r["old_id"])
    assert len(full.get(2000, set())) == 60


def test_exact_stage_short_circuit_parity(spark, tmp_path):
    """exact_stage: on a zero-duplicate-mass store the 'auto' default
    short-circuits the store-wide hash join, and the output —
    statuses, matched ids, exact/near label split — must be identical
    to the forced staged join. On a store WITH duplicate mass, auto
    keeps the staged join, and even a FORCED short-circuit must still
    produce identical labels (is_exact is computed per candidate, not
    assumed from meta)."""
    import shutil

    from tiki_data_pipeline_spark.sources.files import read_store_meta

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    other = [float(-(i * 5) % 11 - 5) for i in range(8)]

    def statuses(path, batch, **kw):
        return {
            r["vec_id"]: (r["status"], r["matched_id"])
            for r in SIM.lsh_index_dedup_status(
                spark, path, batch, threshold=0.99, **kw
            ).collect()
        }

    batch = spark.createDataFrame(
        [(1000, base), (1001, near), (1002, [9.0, -7.0] * 4), (1003, None)],
        "vec_id long, embedding array<float>",
    )

    # unique store: auto must short-circuit with identical output
    uniq_store = str(tmp_path / "uniqstore")
    shutil.rmtree(uniq_store, ignore_errors=True)
    SIM.write_lsh_index(
        spark.createDataFrame(
            [(0, base), (500, other)], "vec_id long, embedding array<float>"
        ),
        uniq_store,
    )
    meta = read_store_meta(uniq_store)
    assert meta["n_rows"] == meta["n_distinct_vectors"]
    assert statuses(uniq_store, batch) == statuses(
        uniq_store, batch, exact_stage=True
    ) == {
        1000: ("exact_dup", 0),
        1001: ("near_dup", 0),
        1002: ("unique", None),
        1003: ("no_vector", None),
    }

    # mega-cluster store: staged and forced-short-circuit agree too
    dup_store = str(tmp_path / "dupstore")
    shutil.rmtree(dup_store, ignore_errors=True)
    SIM.write_lsh_index(
        spark.createDataFrame(
            [(i, base) for i in range(40)] + [(500, other)],
            "vec_id long, embedding array<float>",
        ),
        dup_store,
    )
    meta = read_store_meta(dup_store)
    assert meta["n_rows"] > meta["n_distinct_vectors"]
    staged = statuses(dup_store, batch)  # auto -> staged here
    forced = statuses(dup_store, batch, exact_stage=False)
    assert staged == forced == {
        1000: ("exact_dup", 0),
        1001: ("near_dup", 0),
        1002: ("unique", None),
        1003: ("no_vector", None),
    }


def test_auto_nprobe_floors():
    """auto_nprobe: candidate floor dominates on small corpora, the
    1/16 coverage floor at scale, clamped to [2, n_lists]."""
    # small corpus, 16 lists of ~31 rows: need ceil(320/31) = 11 probes
    assert SIM.auto_nprobe(500, 16, k=5) == 11
    # 200k rows, sqrt-n lists: coverage floor ceil(447/16) = 28
    assert SIM.auto_nprobe(200_000, 447, k=5) == 28
    # 2M rows, 1414 lists: ceil(1414/16) = 89
    assert SIM.auto_nprobe(2_000_000, 1414, k=5) == 89
    # clamps
    assert SIM.auto_nprobe(10, 4, k=5) == 4       # capped at n_lists
    assert SIM.auto_nprobe(1_000_000, 16, k=1) == 2  # floor of 2
    assert SIM.auto_nprobe(0, 0, k=5) == 1


def test_ivf_auto_nprobe_recall_and_meta(spark, tmp_path):
    """nprobe='auto' on the persisted IVF serve path: the store meta
    carries n_rows (maintained across appends), the resolved probe
    depth follows auto_nprobe, and recall@5 vs exact brute force
    holds >= 0.9 on the fixture corpus."""
    import shutil

    from tiki_data_pipeline_spark.sources.files import read_store_meta

    emb = load_table(spark, SF, "embeddings")
    store_emb = emb.filter(F.col("vec_id") % 5 != 0)
    path = str(tmp_path / "autoivf")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_ivf_index(store_emb, path, n_centroids="auto")
    meta = read_store_meta(path)
    n_store = store_emb.count()
    assert meta["n_rows"] == n_store

    queries = emb.filter(F.col("vec_id") % 5 == 0).limit(10)
    approx = {}
    for r in SIM.ivf_index_topk(spark, path, queries, k=5, nprobe="auto").collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    exact = {}
    for r in SIM.brute_force_topk(
        store_emb.unionByName(queries), [r["vec_id"] for r in queries.collect()], k=5
    ).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # compare only against truth drawn from the same candidate pool:
    # brute force saw store+queries, so drop query-to-query hits
    qids = set(approx) | set(exact)
    store_ids = {r["vec_id"] for r in store_emb.select("vec_id").collect()}
    hits = denom = 0
    for q in qids:
        t = {n for n in exact.get(q, set()) if n in store_ids}
        hits += len(approx.get(q, set()) & t)
        denom += len(t)
    assert denom > 0
    assert hits / denom >= 0.9, f"auto-nprobe recall {hits / denom:.2f}"

    # appends keep the meta's n_rows current (NULL vectors are not
    # admitted and must not count) — checked AFTER the recall pin so
    # the appended vector cannot perturb the truth pool
    dim = len(emb.first()["embedding"])
    SIM.append_ivf_index(
        spark,
        spark.createDataFrame(
            [(90001, [0.5] * dim), (90002, None)],
            "vec_id long, embedding array<float>",
        ),
        path,
    )
    assert read_store_meta(path)["n_rows"] == n_store + 1


def test_ivf_retrain_recommendation(spark, tmp_path):
    """A same-distribution delta reports retrain=False; a shifted
    delta (every vector offset far from all centroids) flags
    distance_scale_shift; a mega-list store flags list_mass_skew."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "driftivf")
    shutil.rmtree(path, ignore_errors=True)
    SIM.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path)

    clean = SIM.ivf_retrain_recommendation(
        spark, path, emb.filter(F.col("vec_id") % 2 == 1)
    )
    assert clean["retrain"] is False and clean["reasons"] == []
    assert clean["auto_nprobe"] >= 2

    shifted = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(100.0)).alias("embedding"),
    )
    drift = SIM.ivf_retrain_recommendation(spark, path, shifted)
    assert drift["retrain"] is True
    assert "distance_scale_shift" in drift["reasons"]

    # mega-list: 90% of vectors identical -> one list owns the mass
    base = [float((i * 7) % 13 - 6) for i in range(8)]
    skew_rows = [(i, base) for i in range(180)] + [
        (1000 + i, [float(((i + j) * 3) % 17 - 8) for j in range(8)])
        for i in range(20)
    ]
    skew_path = str(tmp_path / "skewivf")
    shutil.rmtree(skew_path, ignore_errors=True)
    SIM.write_ivf_index(
        spark.createDataFrame(skew_rows, "vec_id long, embedding array<float>"),
        skew_path,
    )
    skew = SIM.ivf_retrain_recommendation(
        spark,
        skew_path,
        spark.createDataFrame([(5000, base)], "vec_id long, embedding array<float>"),
    )
    assert "list_mass_skew" in skew["reasons"]


def test_pq_refine_recall_and_compression(spark, tmp_path):
    """PQ lifecycle: codes are m small ints per vector (the 16x
    compression claim), pure-ADC top-5 overlaps exact top-5, and the
    shortlist-64 + exact-refine path reproduces brute force EXACTLY
    on the synthetic corpus (measured recall 1.0 — pinned)."""
    from tiki_data_pipeline_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pq")
    SIM.write_pq_index(emb, path)
    codes = spark.read.parquet(path)
    m = SIM.PQ_SUBSPACES
    assert codes.select(F.size("codes")).distinct().collect()[0][0] == m
    n_valid = emb.filter(F.col("embedding").isNotNull()).count()
    assert codes.count() == n_valid

    qids = list(range(10))
    queries = emb.filter(F.col("vec_id").isin(qids))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, qids, k=5).collect()
    }
    refined = SIM.pq_index_topk(
        spark, path, queries, k=5, refine_with=emb
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in refined}
    assert got == exact, "refined PQ must reproduce brute force here"
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.pq_index_topk(spark, path, queries, k=5).collect()
    }
    # pure ADC on near-random synthetic vectors (the PQ-hostile
    # case): measured 0.46-0.66 across SFs; the production path is
    # the refine pin above
    assert len(adc & exact) / len(exact) >= 0.4


def test_pq_append_frozen_codebook(spark, tmp_path):
    """Appending a delta re-uses the persisted codebook (codes of a
    re-encoded stored vector are identical), skips already-stored
    ids (idempotent), and the appended vectors become findable by
    the refined serve path."""
    from tiki_data_pipeline_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = emb.filter(F.col("vec_id") < 250)
    delta = emb.filter(F.col("vec_id") >= 250)
    path = str(tmp_path / "pq")
    SIM.write_pq_index(store, path)
    n0 = spark.read.parquet(path).count()
    SIM.append_pq_index(spark, delta, path)
    n1 = spark.read.parquet(path).count()
    assert n1 == emb.filter(F.col("embedding").isNotNull()).count()
    # idempotent: the whole corpus again adds nothing
    SIM.append_pq_index(spark, emb, path)
    assert spark.read.parquet(path).count() == n1
    assert n1 > n0
    # full-build parity: append-encoded codes equal build-encoded ones
    full = str(tmp_path / "pqfull")
    SIM.write_pq_index(
        emb, full, codebook=SIM._pq_codebook_mat(spark, path)
    )
    a = {r["id"]: r["codes"] for r in spark.read.parquet(path).collect()}
    b = {r["id"]: r["codes"] for r in spark.read.parquet(full).collect()}
    assert a == b


def test_ivfpq_full_probe_matches_pq_and_prunes(spark, tmp_path):
    """IVF-PQ with nprobe = ALL lists and a SHARED codebook must
    reproduce the flat PQ index's pure-ADC top-5 exactly (the IVF
    layer only routes — the scoring path is identical); the refined
    serve at full probe must reproduce brute force (the pinned PQ
    refine contract); and a small-nprobe probe must touch only the
    probed lists (candidate cids ⊆ probes)."""
    from tiki_data_pipeline_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = SIM.pq_train(emb)
    flat = str(tmp_path / "pqflat")
    ivfpq = str(tmp_path / "ivfpq")
    SIM.write_pq_index(emb, flat, codebook=cb)
    SIM.write_ivfpq_index(
        emb, ivfpq, n_centroids=16, codebook=cb, partitioned=True
    )
    assert (tmp_path / "ivfpq" / "cid=0").exists() or any(
        p.name.startswith("cid=") for p in (tmp_path / "ivfpq").iterdir()
    )

    qids = list(range(10))
    queries = emb.filter(F.col("vec_id").isin(qids))
    a = {
        (r["query_id"], r["neighbor_id"], r["adc_cosine"])
        for r in SIM.ivfpq_index_topk(
            spark, ivfpq, queries, k=5, nprobe=16
        ).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["adc_cosine"])
        for r in SIM.pq_index_topk(spark, flat, queries, k=5).collect()
    }
    assert a == b, "full-probe IVF-PQ must equal flat PQ ADC"

    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivfpq_index_topk(
            spark, ivfpq, queries, k=5, nprobe=16, refine_with=emb
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, qids, k=5).collect()
    }
    assert refined == exact

    # auto-nprobe refined serve: high recall from a partial probe
    part = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivfpq_index_topk(
            spark, ivfpq, queries, k=5, refine_with=emb
        ).collect()
    }
    assert len(part & exact) / len(exact) >= 0.6


def test_ivfpq_append_frozen_quantizers(spark, tmp_path):
    """IVF-PQ append uses BOTH persisted quantizers: appended rows'
    (cid, codes) equal a full rebuild with the same quantizers,
    re-sends are idempotent, meta n_rows tracks, and appended
    vectors are findable through the refined serve."""
    from tiki_data_pipeline_spark.io import load_table
    from tiki_data_pipeline_spark.sources.files import read_store_meta

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = emb.filter(F.col("vec_id") < 250)
    delta = emb.filter(F.col("vec_id") >= 250)
    path = str(tmp_path / "ivfpq")
    SIM.write_ivfpq_index(store, path, n_centroids=16, partitioned=True)
    n0 = read_store_meta(path)["n_rows"]
    SIM.append_ivfpq_index(spark, delta, path)
    SIM.append_ivfpq_index(spark, emb, path)  # idempotent re-send
    n_all = emb.filter(F.col("embedding").isNotNull()).count()
    assert spark.read.parquet(path).count() == n_all
    assert read_store_meta(path)["n_rows"] == n_all > n0

    full = str(tmp_path / "ivfpqfull")
    cents = spark.read.parquet(path + "/_centroids")
    SIM.write_ivfpq_index(
        emb,
        full,
        n_centroids=16,
        centroids=cents,
        codebook=SIM._pq_codebook_mat(spark, path),
        partitioned=True,
    )
    a = {r["id"]: (r["cid"], r["codes"]) for r in spark.read.parquet(path).collect()}
    b = {r["id"]: (r["cid"], r["codes"]) for r in spark.read.parquet(full).collect()}
    assert a == b


def test_ivfpq_nprobe_calibration(spark, tmp_path):
    """The r9 composed-recall pin: write_ivfpq_index calibrates
    nprobe at build time (full-probe ADC truth proxy over a held-in
    sample), persists it in store meta, and the nprobe='auto' serve
    reads it — refined recall@5 vs brute force >= 0.9 on the fixture
    corpus, where the uncalibrated 1/16-of-lists floor alone sits
    well below (it resolves to the minimum of 2 probes here)."""
    from tiki_data_pipeline_spark.io import load_table
    from tiki_data_pipeline_spark.sources.files import read_store_meta

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpqcal")
    SIM.write_ivfpq_index(emb, path, n_centroids=16, partitioned=True)

    meta = read_store_meta(path)
    assert meta.get("calibrated_nprobe"), "build must persist the calibration"
    cal = meta["calibration"]
    assert cal["target_recall"] == 0.9 and cal["n_pairs"] > 0
    assert 2 <= meta["calibrated_nprobe"] <= meta["n_lists"]

    qids = list(range(10))
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivfpq_index_topk(
            spark, path, queries, k=5, refine_with=emb
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, qids, k=5).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"calibrated composed recall {recall:.2f}"

    # recalibration is idempotent given the same sample, and the
    # explicit API returns the same report the build persisted
    rep = SIM.calibrate_ivfpq_nprobe(
        spark, path, emb.orderBy("vec_id").limit(16), persist=False
    )
    assert rep["nprobe"] == meta["calibrated_nprobe"]


def test_ivf_nprobe_calibration_generic(spark, tmp_path):
    """calibrate_index_nprobe dispatches on store kind: a plain IVF
    store built with calibrate=True gets a persisted calibrated
    nprobe (full-probe exact truth), nprobe='auto' serving prefers
    it, and a non-probed store kind raises."""
    import pytest

    from tiki_data_pipeline_spark.io import load_table
    from tiki_data_pipeline_spark.sources.files import read_store_meta

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfcal")
    SIM.write_ivf_index(emb, path, n_centroids=16, calibrate=True)
    meta = read_store_meta(path)
    assert meta.get("calibrated_nprobe")
    assert meta["calibration"]["n_lists"] == 16

    qids = list(range(10))
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_index_topk(spark, path, queries, k=5).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, qids, k=5).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"calibrated IVF recall {recall:.2f}"

    # kind dispatch guard: a PQ (non-probed) store is rejected
    flat = str(tmp_path / "pqflat")
    SIM.write_pq_index(emb, flat)
    with pytest.raises(ValueError, match="ivf/ivfpq"):
        SIM.calibrate_index_nprobe(spark, flat, queries)


def test_calibrate_lsh_planes_trades_buckets_for_measured_recall(
    spark, tmp_path
):
    """The plane calibrator must (a) never return fewer planes than
    the auto floor, (b) report a measured recall that actually holds
    for the planted near-dup pairs when the chosen store serves them,
    and (c) choose MORE planes (smaller buckets) when the target is
    loose — the whole point is buying serve cost with measured recall
    instead of the one-size auto heuristic."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    # 120 base vectors + a 0.02-noise near-dup of each (cos ≈ 0.998)
    for i in range(120):
        v = rng.normal(size=32)
        v /= np.linalg.norm(v)
        w = v + 0.02 * rng.normal(size=32)
        w /= np.linalg.norm(w)
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    strict = SIM.calibrate_lsh_planes(
        spark, emb, threshold=0.99, target_recall=0.95, n_rows=2_000_000
    )
    floor = SIM.auto_n_planes(2_000_000)
    assert strict["floor"] == floor
    assert strict["n_planes"] >= floor
    assert strict["n_true_pairs"] >= 100  # ~120 planted, noise tolerant
    assert strict["achieved_on_sample"] is None or (
        strict["achieved_on_sample"] >= 0.95
        or strict["n_planes"] == floor  # fell back, loudly visible
    )
    # recall decreases with plane count: the per-candidate curve the
    # choice is read from must reflect that (allow noise plateaus)
    curve = strict["per_candidate"]
    ps = sorted(curve)
    assert curve[ps[0]] >= curve[ps[-1]] - 1e-9

    loose = SIM.calibrate_lsh_planes(
        spark, emb, threshold=0.99, target_recall=0.3, n_rows=2_000_000
    )
    assert loose["n_planes"] >= strict["n_planes"]

    # end-to-end: a store built at the calibrated plane count still
    # finds the planted duplicates it promised
    path = str(tmp_path / "cal_lsh")
    SIM.write_lsh_index(emb, path, n_planes=strict["n_planes"])
    delta = emb.filter(F.col("vec_id") >= 1000).limit(40)
    status = SIM.lsh_index_dedup_status(spark, path, delta, threshold=0.99)
    got = {
        r["vec_id"]: r["status"]
        for r in status.collect()
    }
    dup_frac = sum(1 for s in got.values() if s != "unique") / len(got)
    assert dup_frac >= 0.9, got


def test_calibrate_lsh_planes_with_harvested_pairs(spark, tmp_path):
    """The pairs escape hatch for sparse-near-dup corpora: a uniform
    sample of a corpus with ~40 true pairs in 200k vectors contains
    none of them (measured in the r11 stress run: n_true_pairs=0,
    vacuous floor fallback), so calibrate_lsh_planes accepts the
    pairs a DEFAULT-plane serve finds and measures exactly the
    non-regression criterion on them — of the pairs the default
    scheme finds, the chosen plane count must keep >= target_recall
    reachable."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(120):
        v = rng.normal(size=32)
        v /= np.linalg.norm(v)
        w = v + 0.02 * rng.normal(size=32)
        w /= np.linalg.norm(w)
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store_emb = emb.filter(F.col("vec_id") < 1000)
    delta = emb.filter(F.col("vec_id") >= 1000)

    floor = SIM.auto_n_planes(2_000_000)
    base_store = str(tmp_path / "lsh_floor")
    SIM.write_lsh_index(store_emb, base_store, n_planes=floor)
    pairs = SIM.lsh_index_near_dups(
        spark, base_store, delta, threshold=0.99
    ).select("new_id", "old_id")
    base_found = pairs.count()
    assert base_found >= 100  # the planted mass, noise tolerant

    cal = SIM.calibrate_lsh_planes(
        spark,
        emb,
        threshold=0.99,
        target_recall=0.9,
        n_rows=2_000_000,
        pairs=pairs,
    )
    assert cal["pairs_source"] == "provided"
    assert cal["n_true_pairs"] >= 100
    assert cal["n_planes"] >= floor
    assert cal["per_candidate"], "must be measured, not a vacuous fallback"

    # end-to-end: a store at the calibrated count keeps the default
    # store's pairs
    cal_store = str(tmp_path / "lsh_cal")
    SIM.write_lsh_index(store_emb, cal_store, n_planes=cal["n_planes"])
    found = SIM.lsh_index_near_dups(
        spark, cal_store, delta, threshold=0.99
    ).count()
    assert found >= 0.9 * base_found

    # empty harvested pairs: loud floor fallback, source still tagged
    empty = spark.createDataFrame([], "new_id long, old_id long")
    fb = SIM.calibrate_lsh_planes(spark, emb, n_rows=2_000_000, pairs=empty)
    assert fb["n_planes"] == fb["floor"]
    assert fb["pairs_source"] == "provided" and fb["per_candidate"] == {}


def test_high_plane_store_never_explodes_directories(spark, tmp_path):
    """The 1000x stress run caught a calibrated 24-plane store over 2M
    vectors asking for up to 2^24 bkt= DIRECTORIES — RawLocalFileSystem
    forks a chmod per created file and the write sat in forkAndExec for
    half an hour. Layout auto-selection must refuse directory partitions
    beyond MAX_PARTITION_DIRS (the flat key-sorted layout serves any
    plane count via bkt row-group pruning), and an explicit
    partitioned=True at such a plane count must fail loudly instead of
    melting the filesystem."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=16)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    path = str(tmp_path / "hi_planes")
    # partition_min_rows=10 would force the partitioned layout; the
    # dir-count guard must override it back to flat
    SIM.write_lsh_index(
        emb, path, n_planes=16, partition_min_rows=10
    )
    import os

    assert not any(
        e.name.startswith("bkt=") for e in os.scandir(path) if e.is_dir()
    ), "high-plane store must be flat"
    # and it still serves
    got = SIM.lsh_index_topk(spark, path, emb.limit(3), k=2)
    assert got.count() > 0

    import pytest

    with pytest.raises(ValueError, match="MAX_PARTITION_DIRS"):
        SIM.write_lsh_index(
            emb, str(tmp_path / "boom"), n_planes=16, partitioned=True
        )


def test_write_lsh_index_build_time_calibration(spark, tmp_path):
    """calibrate=True makes the measured plane count the default
    path: the build harvests pairs by serving a bounded query sample
    against the just-built floor store (sample-vs-CORPUS: only one
    endpoint of a pair must land in the sample — the planted dups
    here live OUTSIDE the query window and are still found), rebuilds
    at the calibrated count, and records the verdict in meta. The
    calibrated store must keep finding every planted dup."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = []
    for i in range(3000):
        v = rng.normal(size=24)
        v /= np.linalg.norm(v)
        base.append((i, [float(x) for x in v]))
    dups = []
    for i in range(30):  # appended LAST: outside the 2000-row sample
        w = np.array(base[i][1]) + 0.02 * rng.normal(size=24)
        w /= np.linalg.norm(w)
        dups.append((10_000 + i, [float(x) for x in w]))
    emb = spark.createDataFrame(
        base + dups, "vec_id long, embedding array<double>"
    )

    path = str(tmp_path / "autocal")
    SIM.write_lsh_index(
        emb, path, n_planes="auto", calibrate=True, calibrate_threshold=0.98
    )
    from tiki_data_pipeline_spark.sources.files import read_store_meta

    meta = read_store_meta(path)
    floor = SIM.auto_n_planes(3030)
    assert meta["calibrated_planes"] == meta["n_planes"] >= floor
    cal = meta["calibration"]
    assert cal["pairs_source"] == "provided"
    assert cal["n_true_pairs"] >= 20  # most planted pairs harvested
    assert cal["achieved_on_sample"] is None or (
        cal["achieved_on_sample"] >= 0.95 or meta["n_planes"] == floor
    )
    # the calibrated store still finds the planted dups end-to-end
    delta = emb.filter(F.col("vec_id") >= 10_000)
    status = SIM.lsh_index_dedup_status(spark, path, delta, threshold=0.98)
    dup_n = status.filter(F.col("status") != "unique").count()
    assert dup_n >= 27, f"calibrated store lost planted dups: {dup_n}/30"


def test_calibrate_pairs_canonicalized_and_deterministic(spark):
    """A symmetric harvest emits both (a,b) and (b,a): counting each
    would double-weight those pairs in the recall mean, and an
    unordered limit would make the truncated pair set (so the chosen
    plane count) vary run to run. Pairs are canonicalized to
    (min, max), self-pairs dropped, deduped and ordered before the
    bound."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i in range(30):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 3 unique unordered pairs, each also mirrored, plus a self-pair
    pr = [(0, 1), (1, 0), (2, 3), (3, 2), (4, 5), (7, 7)]
    pairs = spark.createDataFrame(pr, "new_id long, old_id long")
    cal = SIM.calibrate_lsh_planes(spark, emb, n_rows=30, pairs=pairs)
    assert cal["n_true_pairs"] == 3
    again = SIM.calibrate_lsh_planes(spark, emb, n_rows=30, pairs=pairs)
    assert again == cal  # deterministic end to end


def test_calibrate_rebuild_preserves_requested_layout(
    spark, tmp_path, monkeypatch
):
    """The calibrate-triggered rebuild must forward the caller's
    explicit ``partitioned`` argument — a requested flat layout that
    silently flips to bkt= directory partitions (or vice versa) on
    rebuild would change the store's scan shape behind the caller's
    back."""
    import os

    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    forced = {
        "n_planes": 5,
        "floor": SIM.N_PLANES,
        "achieved_on_sample": 1.0,
        "n_true_pairs": 9,
        "pairs_source": "provided",
        "target_recall": 0.95,
        "emit_radius": 2,
        "est_mean_bucket": 1.0,
        "probe_planes": None,
        "per_candidate": {5: 1.0},
    }
    monkeypatch.setattr(
        SIM, "calibrate_lsh_planes", lambda *a, **k: dict(forced)
    )

    def bkt_dirs(p):
        return [e.name for e in os.scandir(p) if e.name.startswith("bkt=")]

    flat = str(tmp_path / "flat")
    SIM.write_lsh_index(emb, flat, partitioned=False, calibrate=True)
    meta = __import__(
        "tiki_data_pipeline_spark.sources.files", fromlist=["read_store_meta"]
    ).read_store_meta(flat)
    assert meta["n_planes"] == 5 and meta["calibrated_planes"] == 5
    assert bkt_dirs(flat) == []  # rebuild kept the requested flat layout

    part = str(tmp_path / "part")
    SIM.write_lsh_index(emb, part, partitioned=True, calibrate=True)
    assert len(bkt_dirs(part)) > 0  # and the requested partitioned one


def test_arrow_scoring_bit_identical_to_expr(spark, tmp_path):
    """The numpy scoring kernel's sequential per-dimension fold must
    reproduce the Catalyst ``F.aggregate(zip_with(...))`` fold
    BIT-identically (same addition order, same IEEE division, same
    HALF_UP rounding applied in Catalyst either way): pairs, cosine
    doubles, and is_exact flags all equal across scorings — on a
    batch engineered to carry exact dups, near dups at several
    cosines, misses, and a threshold-boundary pair."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "parityidx")
    SIM.write_lsh_index(emb, path)
    # batch = stored vectors (exact hits), slightly perturbed stored
    # vectors (near hits at varied cosines), and chaos rows (misses)
    batch = emb.limit(60).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.when(
            F.col("vec_id") % 3 == 0, F.col("embedding")
        )
        .when(
            F.col("vec_id") % 3 == 1,
            F.transform(
                "embedding",
                lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
            ).cast("array<float>"),
        )
        .otherwise(
            F.transform(
                "embedding", lambda x, i: F.cos(x * 37.0 + i)
            ).cast("array<float>")
        )
        .alias("embedding"),
    )
    for thr in (0.999, 0.9):
        got = {}
        for mode in ("arrow", "expr"):
            rows = SIM.lsh_index_near_dups(
                spark, path, batch, threshold=thr,
                with_exact_flag=True, scoring=mode,
            ).collect()
            got[mode] = sorted(
                (r["new_id"], r["old_id"], r["cosine_sim"], r["is_exact"])
                for r in rows
            )
        assert got["arrow"] == got["expr"] and len(got["expr"]) > 0
        # exact-equality on the double: no tolerance anywhere above
    # dedup_status parity on the same store (short-circuit near path)
    sa = SIM.lsh_index_dedup_status(spark, path, batch, threshold=0.9)
    se = SIM.lsh_index_dedup_status(
        spark, path, batch, threshold=0.9, scoring="expr"
    )
    key = lambda r: (r["vec_id"], r["status"], r["matched_id"])
    assert sorted(map(key, sa.collect())) == sorted(map(key, se.collect()))


def test_ivf_arrow_scoring_parity(spark, tmp_path):
    """The shared scoring kernel behind the IVF semantic serve must
    reproduce the cid-equi-join expression path exactly — statuses,
    matched ids, and the threshold behavior all equal."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivfparity")
    SIM.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_centroids=8)
    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(80)
    key = lambda r: (r["vec_id"], r["status"], r["matched_id"])
    for thr in (0.999, 0.6):
        sa = SIM.ivf_semantic_dedup_status(spark, path, batch, threshold=thr)
        se = SIM.ivf_semantic_dedup_status(
            spark, path, batch, threshold=thr, scoring="expr"
        )
        ra, re_ = sorted(map(key, sa.collect())), sorted(map(key, se.collect()))
        assert ra == re_ and len(ra) == 80


def test_py_lsh_bucket_matches_expression(spark):
    """The driver-side probe-bucket fold (r15: lsh_index_topk collects
    plain (id, qv) and buckets in Python) must be BIT-identical to the
    lsh_bucket Catalyst expression — including the NULL/length edge
    semantics (short row → NULL-padded zip_with → NULL projection →
    zero plane contribution)."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = SIM._vec_dim(emb, "embedding")
    rows = emb.select(
        "vec_id",
        SIM.as_double(F.col("embedding")).alias("qv"),
        SIM.lsh_bucket(SIM.as_double(F.col("embedding")), dim, 8).alias("qb"),
    ).collect()
    assert rows, "fixture corpus must not be empty"
    for r in rows:
        assert SIM._py_lsh_bucket(r["qv"], dim, 8) == int(r["qb"])
    # edge semantics: short row and NULL element mirror the expression
    short = spark.createDataFrame(
        [(1, [0.5, -0.25]), (2, None)], "vec_id long, embedding array<double>"
    )
    srows = short.select(
        "vec_id",
        SIM.as_double(F.col("embedding")).alias("qv"),
        SIM.lsh_bucket(SIM.as_double(F.col("embedding")), dim, 8).alias("qb"),
    ).collect()
    for r in srows:
        got = SIM._py_lsh_bucket(r["qv"], dim, 8)
        want = 0 if r["qb"] is None else int(r["qb"])
        assert got == want
