"""Store deletion lifecycle: tombstone sidecar → serve-side
anti-join → physical fold at compaction.

A 100 TB corpus store shrinks as well as grows (takedown requests,
re-crawl retractions, quality-gate reversals — the reference deletes
rows transactionally in its OLTP store,
src/pipelines/crawl/storage/postgres_storage.py DELETE paths). On
immutable parquet the same contract is merge-on-read: deletes land in
a ``_tombstones`` sidecar, every serve path hides them immediately,
and ``fold_tombstones`` / ``compact_store`` rewrites them out during
maintenance. These tests pin all three phases plus the append guard
(delete → fold → re-ingest is the only legal order) for every store
family: MinHash bands (partitioned layout), LSH buckets and IVF lists
(flat layout), PQ codes, and the additive line-df store (negative-
count deletes)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators import similarity as SIM
from tiki_data_pipeline_spark.sources.files import (
    compact_store,
    delete_from_store,
    fold_tombstones,
    read_store_meta,
)


from tiki_data_pipeline_spark.sources.files import (
    store_data,
    store_put,
    store_sub,
    store_sub_exists,
)


@pytest.fixture(params=["posix", "manifest"])
def backend(request, monkeypatch):
    """Run the deletion lifecycle under both store backends (posix
    hardlink/rename vs object-store-safe manifest). Tests that poke
    posix physics (inodes, crafted directory trees, legacy flat
    moves) skip under manifest and have twins in
    test_manifest_store.py."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_BACKEND", request.param)
    return request.param


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(spark, ids, col="id"):
    return spark.createDataFrame([(i,) for i in ids], f"{col} long")


CORPUS = [
    # mutually dissimilar texts (every token carries the doc id) so a
    # batch copy of doc i can only ever match doc i — deleting i must
    # flip its copy's status to unique, not to a different neighbor
    (i, " ".join(f"w{i}x{j}" for j in range(12)) + f" tail t{i}")
    for i in range(10)
]


@pytest.fixture()
def mh_store(spark, tmp_path, backend):
    path = str(tmp_path / "mh")
    DD.write_minhash_index(_docs(spark, CORPUS), path)
    return path


def _status(spark, path, batch):
    rows = DD.incremental_dedup_status(spark, path, batch).collect()
    return {r["doc_id"]: (r["status"], r["matched_id"]) for r in rows}


class TestMinhashDelete:
    def test_serve_hides_tombstoned_exact_and_near(self, spark, mh_store):
        # batch 100 = verbatim copy of stored doc 2; batch 101 = near
        # copy of stored doc 4 (one word changed)
        batch = _docs(
            spark,
            [(100, CORPUS[2][1]), (101, CORPUS[4][1].replace("tail", "tale"))],
        )
        before = _status(spark, mh_store, batch)
        assert before[100] == ("exact_dup", 2)
        assert before[101][0] == "near_dup" and before[101][1] == 4

        delete_from_store(spark, mh_store, _ids(spark, [2, 4]))
        after = _status(spark, mh_store, batch)
        assert after[100][0] == "unique"
        assert after[101][0] == "unique"

    def test_fold_removes_rows_and_preserves_serving(self, spark, mh_store):
        batch = _docs(spark, [(100, CORPUS[2][1]), (101, CORPUS[5][1])])
        delete_from_store(spark, mh_store, _ids(spark, [2]))
        served = _status(spark, mh_store, batch)

        n = fold_tombstones(spark, mh_store)
        assert n == 1
        assert not store_sub_exists(mh_store, "_tombstones")
        # physically gone from band rows AND the fingerprint sidecar
        raw_ids = {r["id"] for r in store_data(spark, mh_store).select("id").distinct().collect()}
        assert 2 not in raw_ids and 5 in raw_ids
        fp_ids = {
            r["id"]
            for r in store_sub(spark, mh_store, "_fingerprints").select("id").collect()
        }
        assert 2 not in fp_ids
        # partitioned layout preserved (band=… dirs) and serve identical
        from tiki_data_pipeline_spark.sources.files import store_layout

        assert store_layout(mh_store) == ("band", True)
        assert _status(spark, mh_store, batch) == served
        # idempotent: nothing pending on a second fold
        assert fold_tombstones(spark, mh_store) == 0

    def test_append_rejects_tombstoned_id_until_fold(self, spark, mh_store):
        delete_from_store(spark, mh_store, _ids(spark, [3]))
        redo = _docs(spark, [(3, "a fully rewritten replacement document")])
        with pytest.raises(ValueError, match="tombstoned"):
            DD.append_minhash_index(redo, mh_store)
        fold_tombstones(spark, mh_store)
        DD.append_minhash_index(redo, mh_store)  # now legal
        status = _status(spark, mh_store, _docs(spark, [(100, redo.collect()[0]["text"])]))
        assert status[100] == ("exact_dup", 3)

    def test_compact_store_folds_deletes(self, spark, mh_store):
        delete_from_store(spark, mh_store, _ids(spark, [6]))
        compact_store(spark, mh_store)
        assert not store_sub_exists(mh_store, "_tombstones")
        raw_ids = {r["id"] for r in store_data(spark, mh_store).select("id").distinct().collect()}
        assert 6 not in raw_ids


# 4 tight direction clusters × 6 members: cluster mates are mutual
# near-neighbors and land in the same LSH bucket, so deleting some of
# a query's top-k still leaves live in-bucket survivors to assert on
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


def _emb(spark, rows=VECS):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk_ids(df):
    return {
        (r["query_id"], r["neighbor_id"]) for r in df.collect()
    }


@pytest.mark.usefixtures("backend")
class TestEmbeddingIndexDelete:
    def test_lsh_topk_excludes_deleted_then_fold_parity(self, spark, tmp_path):
        path = str(tmp_path / "lsh")
        SIM.write_lsh_index(_emb(spark), path)
        q = _emb(spark).filter(F.col("vec_id") == 0)
        full = _topk_ids(SIM.lsh_index_topk(spark, path, q, k=5, emit_radius=2))
        victims = sorted({n for _, n in full})[:2]
        delete_from_store(spark, path, _ids(spark, victims))
        served = _topk_ids(SIM.lsh_index_topk(spark, path, q, k=5, emit_radius=2))
        assert served and not ({n for _, n in served} & set(victims))

        n_before = read_store_meta(path)["n_rows"]
        assert fold_tombstones(spark, path) == len(victims)
        assert read_store_meta(path)["n_rows"] == n_before - len(victims)
        assert _topk_ids(SIM.lsh_index_topk(spark, path, q, k=5, emit_radius=2)) == served

    def test_ivf_topk_and_status_exclude_deleted(self, spark, tmp_path):
        path = str(tmp_path / "ivf")
        SIM.write_ivf_index(_emb(spark), path, n_centroids=2)
        q = _emb(spark).filter(F.col("vec_id") == 1)
        full = _topk_ids(SIM.ivf_index_topk(spark, path, q, k=3, nprobe=2))
        victim = sorted({n for _, n in full})[0]
        delete_from_store(spark, path, _ids(spark, [victim]))
        served = SIM.ivf_index_topk(spark, path, q, k=3, nprobe=2)
        assert victim not in {r["neighbor_id"] for r in served.collect()}
        # a vector identical to the victim now reports non-dup status
        dup = _emb(spark).filter(F.col("vec_id") == victim).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
        )
        st = SIM.ivf_semantic_dedup_status(spark, path, dup, threshold=0.999)
        matched = {r["matched_id"] for r in st.collect()}
        assert victim not in matched
        fold_tombstones(spark, path)
        raw = {r["id"] for r in store_data(spark, path).select("id").collect()}
        assert victim not in raw

    def test_ivfpq_topk_excludes_deleted_then_fold_parity(self, spark, tmp_path):
        path = str(tmp_path / "ivfpq")
        SIM.write_ivfpq_index(
            _emb(spark), path, n_centroids=2, m=4, k=8, calibrate=False
        )
        q = _emb(spark).filter(F.col("vec_id") == 1)
        full = SIM.ivfpq_index_topk(
            spark, path, q, k=3, nprobe=2, refine_with=_emb(spark)
        )
        victim = sorted(r["neighbor_id"] for r in full.collect())[0]
        delete_from_store(spark, path, _ids(spark, [victim]))
        served = {
            r["neighbor_id"]
            for r in SIM.ivfpq_index_topk(
                spark, path, q, k=3, nprobe=2, refine_with=_emb(spark)
            ).collect()
        }
        assert victim not in served
        fold_tombstones(spark, path)
        raw = {r["id"] for r in store_data(spark, path).select("id").collect()}
        assert victim not in raw
        after = {
            r["neighbor_id"]
            for r in SIM.ivfpq_index_topk(
                spark, path, q, k=3, nprobe=2, refine_with=_emb(spark)
            ).collect()
        }
        assert after == served

    def test_pq_adc_excludes_deleted_and_append_guard(self, spark, tmp_path):
        path = str(tmp_path / "pq")
        SIM.write_pq_index(_emb(spark), path, m=4, k=8)
        q = _emb(spark).filter(F.col("vec_id") == 2)
        full = SIM.pq_index_topk(spark, path, q, k=3, refine_with=None)
        victim = sorted(r["neighbor_id"] for r in full.collect())[0]
        delete_from_store(spark, path, _ids(spark, [victim]))
        served = SIM.pq_index_topk(spark, path, q, k=3, refine_with=None)
        assert victim not in {r["neighbor_id"] for r in served.collect()}
        with pytest.raises(ValueError, match="tombstoned"):
            SIM.append_pq_index(
                spark, _emb(spark).filter(F.col("vec_id") == victim), path
            )
        fold_tombstones(spark, path)
        SIM.append_pq_index(
            spark, _emb(spark).filter(F.col("vec_id") == victim), path
        )
        back = SIM.pq_index_topk(spark, path, q, k=24, refine_with=None)
        assert victim in {r["neighbor_id"] for r in back.collect()}


@pytest.mark.usefixtures("backend")
class TestLineDfDelete:
    def test_negative_counts_mirror_rebuild(self, spark, tmp_path):
        path = str(tmp_path / "ldf")
        boiler = "all rights reserved footer line"
        docs = _docs(
            spark,
            [(i, f"unique line {i}\n{boiler}") for i in range(4)],
        )
        DD.write_line_df_store(docs, path)
        # batch doc carries the boilerplate → cut against full store
        batch = _docs(spark, [(9, f"fresh content\n{boiler}")])
        cut = DD.incremental_line_removal(
            spark, path, batch, min_df=3, count_batch=False
        ).collect()[0]
        assert boiler not in cut["cleaned_text"]

        # delete 3 of the 4 contributing docs → df drops to 1 < 3
        DD.delete_line_df_store(
            docs.filter(F.col("doc_id") < 3), path
        )
        kept = DD.incremental_line_removal(
            spark, path, batch, min_df=3, count_batch=False
        ).collect()[0]
        assert boiler in kept["cleaned_text"]

        # compaction folds the negatives; zero-count lines vanish —
        # docs 0-2 are fully deleted, so only doc 3's unique line and
        # the boiler line (df 4-3 = 1) survive the fold
        DD.compact_line_df_store(spark, path)
        rows = {r["lh"]: r["df"] for r in store_data(spark, path).collect()}
        assert len(rows) == 2
        assert all(df == 1 for df in rows.values())

    def test_replayed_delete_batch_is_noop(self, spark, tmp_path):
        path = str(tmp_path / "ldf3")
        line = "shared boilerplate line"
        docs = _docs(spark, [(i, f"u{i}\n{line}") for i in range(3)])
        DD.write_line_df_store(docs, path)
        batch = docs.filter(F.col("doc_id") == 0)
        assert DD.delete_line_df_store(batch, path) == 1
        # crashed-retry replay: ledger skips the id, df stays at 2
        assert DD.delete_line_df_store(batch, path) == 0
        DD.compact_line_df_store(spark, path)
        dfs = {r["df"] for r in store_data(spark, path).collect()}
        assert 2 in dfs  # the shared line kept its two live carriers
        # ledger survived compaction → a third replay is still a no-op
        assert DD.delete_line_df_store(batch, path) == 0
        # meta survived compaction too (check_store_meta passed above)
        assert read_store_meta(path)["kind"] == "line_df"
        # re-ingest clears the ledger entry; a NEW delete decrements
        DD.append_line_df_store(batch, path)
        assert DD.delete_line_df_store(batch, path) == 1

    def test_overdelete_clamps_at_zero(self, spark, tmp_path):
        path = str(tmp_path / "ldf2")
        DD.write_line_df_store(_docs(spark, [(0, "only line")]), path)
        ghost = _docs(spark, [(7, "only line"), (8, "only line")])
        DD.delete_line_df_store(ghost, path)  # over-delete: df → -1
        batch = _docs(spark, [(9, "only line\nbody")])
        out = DD.incremental_line_removal(
            spark, path, batch, min_df=1, count_batch=True
        ).collect()[0]
        # batch's own df (1) must not be cancelled by the negative store
        assert "only line" not in out["cleaned_text"]

    def test_ledger_crash_recovery_preserves_replay_guard(
        self, spark, tmp_path, backend
    ):
        if backend == "manifest":
            pytest.skip("posix ledger-swap physics; manifest scrub is one atomic commit")
        # a hard crash between the two renames of the ledger's OWN
        # swap leaves only `_deleted_ids.old`; both ledger readers
        # must recover it before their isdir probe, or replay
        # protection silently and permanently disappears
        path = str(tmp_path / "ldf4")
        line = "shared boilerplate line"
        docs = _docs(spark, [(i, f"u{i}\n{line}") for i in range(3)])
        DD.write_line_df_store(docs, path)
        batch = docs.filter(F.col("doc_id") == 0)
        assert DD.delete_line_df_store(batch, path) == 1
        ldir = os.path.join(path, DD.LINE_DF_LEDGER_DIR)
        os.rename(ldir, ldir + ".old")
        # replayed delete must still be a no-op, not a double decrement
        assert DD.delete_line_df_store(batch, path) == 0
        # same window ahead of an append: the recovered ledger is
        # scrubbed of the re-ingested id, so a NEW delete decrements
        os.rename(ldir, ldir + ".old")
        DD.append_line_df_store(batch, path)
        assert DD.delete_line_df_store(batch, path) == 1
        DD.compact_line_df_store(spark, path)
        dfs = {r["df"] for r in store_data(spark, path).collect()}
        assert 2 in dfs  # shared line ends with exactly 2 live carriers

    def test_delete_batch_pinned_against_nondeterminism(
        self, spark, tmp_path
    ):
        # count / decrement / ledger all reuse the anti-joined batch;
        # it is localCheckpoint-pinned so a non-deterministic input
        # cannot decrement one id set and ledger a different one
        path = str(tmp_path / "ldf5")
        line = "shared boilerplate line"
        docs = _docs(spark, [(i, f"u{i}\n{line}") for i in range(4)])
        DD.write_line_df_store(docs, path)
        # a re-execution-unstable delete batch: fixed size, random rows
        wobbly = docs.sort(F.rand(seed=7)).limit(2)
        n = DD.delete_line_df_store(wobbly, path)
        assert n == 2
        ledgered = store_sub(spark, path, DD.LINE_DF_LEDGER_DIR).count()
        assert ledgered == n  # ledger matches the counted set exactly
        DD.compact_line_df_store(spark, path)
        rows = store_data(spark, path).collect()
        # decrement hit the same 2 docs: their unique lines folded to
        # zero and dropped; 2 surviving uniques + the shared line stay
        assert len(rows) == 3
        assert max(r["df"] for r in rows) == 2


class TestPrunedFold:
    """Partition-pruned fold: only the partition dirs that actually
    hold tombstoned rows are rewritten; everything else is carried
    into staging by hardlink (O(metadata)). At 100 TB this is the
    difference between a takedown batch costing its victims' partition
    share and a multi-hour full-store rewrite. Parity with the full
    rewrite is the correctness bar: identical rows, meta, and serves."""

    def _store(self, spark, tmp_path, name):
        path = str(tmp_path / name)
        SIM.write_lsh_index(_emb(spark), path, partitioned=True)
        return path

    def test_pruned_fold_parity_with_full_rewrite(self, spark, tmp_path, backend):
        pruned = self._store(spark, tmp_path, "p")
        full = self._store(spark, tmp_path, "f")
        victims = [0, 5]
        for p in (pruned, full):
            delete_from_store(spark, p, _ids(spark, victims))
        assert fold_tombstones(spark, pruned, prune=True) == 2
        assert fold_tombstones(spark, full, prune=False) == 2

        def rows(p):
            return sorted(
                (r["id"], r["bkt"])
                for r in store_data(spark, p).select("id", "bkt").collect()
            )

        assert rows(pruned) == rows(full)
        assert (
            read_store_meta(pruned)["n_rows"]
            == read_store_meta(full)["n_rows"]
            == 24 - len(victims)
        )
        q = _emb(spark).filter(F.col("vec_id") == 1)
        assert _topk_ids(
            SIM.lsh_index_topk(spark, pruned, q, k=5, emit_radius=2)
        ) == _topk_ids(SIM.lsh_index_topk(spark, full, q, k=5, emit_radius=2))
        # both folds are complete: no tombstones left, second fold no-op
        for p in (pruned, full):
            assert not store_sub_exists(p, "_tombstones")
            assert fold_tombstones(spark, p) == 0

    def test_untouched_partitions_carried_by_hardlink(self, spark, tmp_path, backend):
        if backend == "manifest":
            pytest.skip("posix physics; manifest twin in test_manifest_store.py")
        path = self._store(spark, tmp_path, "hl")
        by_bkt = {}
        for r in spark.read.parquet(path).select("id", "bkt").collect():
            by_bkt.setdefault(r["bkt"], []).append(r["id"])
        assert len(by_bkt) >= 2, "fixture must span multiple buckets"
        victim_bkt = sorted(by_bkt)[0]
        victim = by_bkt[victim_bkt][0]

        def inodes(bkt):
            d = os.path.join(path, f"bkt={bkt}")
            return {
                os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        before = {b: inodes(b) for b in by_bkt if b != victim_bkt}
        delete_from_store(spark, path, _ids(spark, [victim]))
        assert fold_tombstones(spark, path) == 1  # prune="auto" default
        # untouched dirs: same physical files (hardlinks, zero bytes
        # moved); the victim's dir: rewritten (its id gone)
        assert {b: inodes(b) for b in before} == before
        survivors = {
            r["id"]
            for r in spark.read.parquet(os.path.join(path, f"bkt={victim_bkt}"))
            .select("id")
            .collect()
        }
        assert victim not in survivors
        assert survivors == set(by_bkt[victim_bkt]) - {victim}

    def test_fingerprints_sidecar_fold_is_bucket_pruned(
        self, spark, tmp_path, backend
    ):
        if backend == "manifest":
            pytest.skip("posix physics; manifest twin in test_manifest_store.py")
        # the _fingerprints sidecar is fpb=-bucketed; a fold must
        # rewrite ONLY the buckets the victims hash into and carry
        # every other bucket by hardlink — the last O(sidecar) write
        # becomes O(affected), same as the main tree
        from tiki_data_pipeline_spark.sources.files import fp_bucket

        path = str(tmp_path / "fpsc")
        DD.write_minhash_index(_docs(spark, CORPUS), path)
        fdir = os.path.join(path, "_fingerprints")
        victim = 3
        vbkt = (
            spark.createDataFrame([(victim,)], "id long")
            .select(fp_bucket(F.col("id")).alias("b"))
            .collect()[0]["b"]
        )

        def inodes(b):
            d = os.path.join(fdir, f"fpb={b}")
            return {
                os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        all_bkts = {
            int(e.name.split("=", 1)[1])
            for e in os.scandir(fdir)
            if e.is_dir()
        }
        assert vbkt in all_bkts and len(all_bkts) >= 2
        before = {b: inodes(b) for b in all_bkts if b != vbkt}
        delete_from_store(spark, path, _ids(spark, [victim]))
        fold_tombstones(spark, path)
        # untouched buckets: same physical files; victim bucket: id gone
        assert {b: inodes(b) for b in before} == before
        fps = {
            r["id"] for r in spark.read.parquet(fdir).select("id").collect()
        }
        assert victim not in fps
        assert fps == {i for i, _ in CORPUS} - {victim}
        # serve path still does exact-first dedup against the sidecar
        batch = _docs(spark, [(90 + i, t) for i, t in CORPUS[:2]])
        st = _status(spark, path, batch)
        assert st[90] == ("exact_dup", 0)

    def test_legacy_flat_fingerprints_append_and_fold(self, spark, tmp_path, backend):
        if backend == "manifest":
            pytest.skip("posix physics; manifest twin in test_manifest_store.py")
        # a pre-bucketing store (flat _fingerprints) must keep working:
        # appends stay flat (a mixed tree would not read) and the fold
        # falls back to the full sidecar rewrite
        import shutil

        path = str(tmp_path / "legacy")
        DD.write_minhash_index(_docs(spark, CORPUS[:6]), path)
        fdir = os.path.join(path, "_fingerprints")
        # flatten: rewrite the sidecar as a legacy unbucketed dataset
        flat = spark.read.parquet(fdir).select("id", "fp")
        flat.coalesce(1).write.mode("overwrite").parquet(fdir + ".flat")
        shutil.rmtree(fdir)
        os.rename(fdir + ".flat", fdir)

        DD.append_minhash_index(_docs(spark, CORPUS[6:]), path)
        assert not any(
            e.name.startswith("fpb=") for e in os.scandir(fdir) if e.is_dir()
        ), "append must not mix layouts into a flat sidecar"
        delete_from_store(spark, path, _ids(spark, [1, 7]))
        fold_tombstones(spark, path)
        fps = {
            r["id"] for r in spark.read.parquet(fdir).select("id").collect()
        }
        assert fps == {i for i, _ in CORPUS} - {1, 7}

    def test_aliased_partition_dirs_force_full_rewrite(
        self, spark, tmp_path, backend
    ):
        if backend == "manifest":
            pytest.skip("crafts a raw posix directory tree")
        # two directory names that parse to the SAME partition value
        # (bkt=5 and bkt=05 both read as 5 under Spark's int
        # inference) would let a pruned fold merge both dirs into one
        # AND carry the second verbatim — duplicating its live rows
        # and retaining its victims. The guard must detect the alias
        # and fall back to the full rewrite. Spark's own writer never
        # emits such a tree; craft it with pyarrow.
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self._store(spark, tmp_path, "alias")
        base = sorted(
            int(e.name.split("=", 1)[1])
            for e in os.scandir(path)
            if e.is_dir() and e.name.startswith("bkt=")
        )
        v = next(b for b in base if b >= 0)
        src_dir = os.path.join(path, f"bkt={v}")
        src = next(
            os.path.join(src_dir, f)
            for f in os.listdir(src_dir)
            if f.endswith(".parquet")
        )
        t = pq.read_table(src).slice(0, 1)
        idx = t.schema.get_field_index("id")
        t = t.set_column(
            idx, "id", pa.array([999], type=t.schema.field("id").type)
        )
        alias = os.path.join(path, f"bkt=0{v}")
        os.makedirs(alias)
        pq.write_table(t, os.path.join(alias, "part-alias.parquet"))

        before = sorted(
            r["id"] for r in spark.read.parquet(path).select("id").collect()
        )
        assert 999 in before
        # the victim lives ONLY in the aliased dir — the exact row a
        # naive pruned fold would hardlink back in
        delete_from_store(spark, path, _ids(spark, [999]))
        assert fold_tombstones(spark, path, prune=True) == 1
        after = sorted(
            r["id"] for r in spark.read.parquet(path).select("id").collect()
        )
        assert 999 not in after
        # no duplicated live rows either: one row per original id
        assert after == [i for i in before if i != 999]

    @pytest.mark.parametrize("crash", ["between_renames", "before_cleanup"])
    def test_fold_settles_leaf_swap_residue(self, spark, tmp_path, backend, crash):
        """A crashed compact_store leaf swap leaves ``bkt=N.old`` beside
        (or instead of) ``bkt=N``. The fold must settle it as compaction
        does — recover the live copy, drop the stale one — and never
        carry it as a partition: right after the fold the rows are
        exact and ``bkt`` keeps its type (a carried ``.old`` dir would
        read as the string partition value "N.old")."""
        if backend == "manifest":
            pytest.skip("posix swap residue")
        import shutil

        path = self._store(spark, tmp_path, "residue")
        scan = spark.read.parquet(path)
        bkt_type = scan.schema["bkt"].dataType
        rows = {r["id"]: r["bkt"] for r in scan.select("id", "bkt").collect()}
        victim_bkt, residue_bkt = sorted(set(rows.values()))[:2]
        victim = min(i for i, b in rows.items() if b == victim_bkt)
        leaf = os.path.join(path, f"bkt={residue_bkt}")
        if crash == "between_renames":
            os.rename(leaf, leaf + ".old")  # .old IS the live copy
        else:
            shutil.copytree(leaf, leaf + ".old", copy_function=os.link)

        delete_from_store(spark, path, _ids(spark, [victim]))
        assert fold_tombstones(spark, path) == 1
        after = spark.read.parquet(path)
        assert after.schema["bkt"].dataType == bkt_type
        assert sorted(
            (r["id"], r["bkt"]) for r in after.select("id", "bkt").collect()
        ) == sorted((i, b) for i, b in rows.items() if i != victim)
        assert not os.path.exists(leaf + ".old")

    def test_hot_sidecar_refreshed_pruned_and_carried(self, spark, tmp_path, backend):
        path = self._store(spark, tmp_path, "hot")
        by_bkt = {}
        for r in store_data(spark, path).select("id", "bkt").collect():
            by_bkt.setdefault(r["bkt"], []).append(r["id"])
        bkts = sorted(by_bkt)
        affected, untouched = bkts[0], bkts[-1]
        # seed a stale hot sidecar naming one affected + one untouched
        # bucket (as if both once exceeded the cap)
        store_put(
            spark.createDataFrame([(affected,), (untouched,)], "bkt int"),
            path, "overwrite", sub="_hot_buckets", coalesce=1,
        )

        delete_from_store(spark, path, _ids(spark, [by_bkt[affected][0]]))
        fold_tombstones(spark, path)  # prune="auto", refresh_hot=True
        hot = {r["bkt"] for r in store_sub(spark, path, "_hot_buckets").collect()}
        # affected bucket recounted (now far below cap) → re-enters
        # candidate generation; untouched bucket's entry carried as-is
        assert affected not in hot
        assert untouched in hot

    def test_hot_sidecar_full_rebuild_on_full_fold(self, spark, tmp_path, backend):
        path = self._store(spark, tmp_path, "hotfull")
        bkts = sorted(
            r["bkt"] for r in store_data(spark, path).select("bkt").distinct().collect()
        )
        store_put(
            spark.createDataFrame([(b,) for b in bkts], "bkt int"),
            path, "overwrite", sub="_hot_buckets", coalesce=1,
        )
        delete_from_store(spark, path, _ids(spark, [1]))
        fold_tombstones(spark, path, prune=False)
        # full fold → full rebuild: nothing exceeds the 10k cap
        assert store_sub(spark, path, "_hot_buckets").count() == 0

    def test_every_row_deleted_leaves_readable_empty_store(self, spark, tmp_path, backend):
        path = self._store(spark, tmp_path, "empty")
        delete_from_store(spark, path, _ids(spark, [i for i in range(24)]))
        assert fold_tombstones(spark, path) == 24
        # zero-file partitionBy output would fail schema inference —
        # the guard leaves one schema-bearing file
        left = store_data(spark, path)
        assert left.count() == 0 and "id" in left.columns
        assert read_store_meta(path)["n_rows"] == 0


class TestDecisionsRetire:
    """The fold scrubs the streaming ``_decisions`` lineage log too:
    a retired id must vanish from the store AND from every decision
    record — its own ingest rows drop, and other docs' matched_id
    pointers at it are nulled. Untouched epoch leaves carry without
    data I/O: by hardlink on posix (leaf identity from file paths,
    never re-rendered partition values), by verbatim manifest
    reference on the manifest backend. Runs under BOTH backends —
    r13 gave the lineage log a manifest home (sub-scoped commits per
    epoch); both backends scrub it with the one
    ``files._fold_decisions_sidecar`` at fold."""

    RUN = "abcd1234run"  # non-numeric: the run-as-double parse trap

    def _with_decisions(self, spark, mh_store, backend):
        epochs = {
            # epoch 0: one row naming victim 2 as subject, one
            # pointing at it, one clean
            0: [(2, "unique", None), (100, "exact_dup", 2), (101, "unique", None)],
            # epoch 1: no victim references — must carry untouched
            1: [(102, "near_dup", 5)],
        }
        if backend == "manifest":
            from tiki_data_pipeline_spark.sources import store_backend as MB

            for e, rows in epochs.items():
                MB.store_put(
                    spark.createDataFrame(
                        rows, "doc_id long, status string, matched_id long"
                    ).coalesce(1),
                    mh_store,
                    mode="overwrite",
                    sub=f"_decisions/run={self.RUN}/epoch={e}",
                )
            return
        rows = [
            (d, s, m, self.RUN, e)
            for e, rs in epochs.items()
            for d, s, m in rs
        ]
        spark.createDataFrame(
            rows, "doc_id long, status string, matched_id long, run string, epoch int"
        ).repartition(1).write.partitionBy("run", "epoch").parquet(
            mh_store + "/_decisions"
        )

    def _leaf(self, mh_store, epoch):
        return os.path.join(
            mh_store, "_decisions", f"run={self.RUN}", f"epoch={epoch}"
        )

    def _leaf_identity(self, backend, mh_store, epoch):
        """What 'carried untouched' means per backend: same inodes
        (posix hardlink carry) / same physical refs (manifest
        carry-by-reference)."""
        if backend == "manifest":
            from tiki_data_pipeline_spark.sources import store_backend as MB

            leaf = f"_decisions/run={self.RUN}/epoch={epoch}"
            return {
                f
                for f in MB.manifest_files(mh_store, "_decisions")
                if os.path.dirname(MB._lp(f)) == leaf
            }
        d = self._leaf(mh_store, epoch)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    def _inodes(self, d):
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    def test_fold_scrubs_decisions_log(self, spark, mh_store, backend):
        self._with_decisions(spark, mh_store, backend)
        clean_before = self._leaf_identity(backend, mh_store, 1)
        delete_from_store(spark, mh_store, _ids(spark, [2]))
        fold_tombstones(spark, mh_store)

        dec = store_sub(spark, mh_store, "_decisions")
        rows = {
            r["doc_id"]: (r["status"], r["matched_id"], r["run"], r["epoch"])
            for r in dec.collect()
        }
        # subject row dropped; pointer nulled with status intact
        assert 2 not in rows
        assert rows[100] == ("exact_dup", None, self.RUN, 0)
        assert rows[101] == ("unique", None, self.RUN, 0)
        # untouched epoch leaf: same physical files, values intact
        assert rows[102] == ("near_dup", 5, self.RUN, 1)
        assert self._leaf_identity(backend, mh_store, 1) == clean_before
        # zero references to the retired id anywhere in the log
        assert (
            dec.filter(
                (F.col("doc_id") == 2) | (F.col("matched_id") == 2)
            ).count()
            == 0
        )

    def test_fold_without_victim_references_links_all(self, spark, mh_store, backend):
        self._with_decisions(spark, mh_store, backend)
        before = {
            e: self._leaf_identity(backend, mh_store, e) for e in (0, 1)
        }
        # victim 7 appears nowhere in the log → every leaf carries
        delete_from_store(spark, mh_store, _ids(spark, [7]))
        fold_tombstones(spark, mh_store)
        assert {
            e: self._leaf_identity(backend, mh_store, e) for e in (0, 1)
        } == before
        assert store_sub(spark, mh_store, "_decisions").count() == 4

    def test_fold_keeps_untouched_entries_identical(self, spark, mh_store, backend):
        """A fold that touches only some entries keeps every other one
        unchanged: an untouched sidecar, the untouched ``_decisions``
        leaf and the untouched ``fpb=`` buckets keep their inodes on
        posix (hardlink carry, no byte copy) and their exact file
        references on manifest; the touched ones are rewritten."""
        from tiki_data_pipeline_spark.sources import store_backend as MB
        from tiki_data_pipeline_spark.sources.files import fp_bucket

        self._with_decisions(spark, mh_store, backend)
        store_put(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            mh_store, "overwrite", sub="_extra", coalesce=1,
        )

        def ident(entry):
            if backend == "manifest":
                return set(MB.manifest_files(mh_store, entry))
            d = os.path.join(mh_store, entry)
            return {
                os.path.relpath(os.path.join(dp, f), d): os.stat(
                    os.path.join(dp, f)
                ).st_ino
                for dp, _dns, fs in os.walk(d)
                for f in fs
                if f.endswith(".parquet")
            }

        victim = 2
        vb = (
            spark.createDataFrame([(victim,)], "id long")
            .select(fp_bucket(F.col("id")).alias("b"))
            .first()["b"]
        )
        buckets = {
            r["fpb"]
            for r in store_sub(spark, mh_store, "_fingerprints")
            .select("fpb")
            .distinct()
            .collect()
        }
        assert vb in buckets and len(buckets) >= 2
        untouched = ["_extra", f"_decisions/run={self.RUN}/epoch=1"] + [
            f"_fingerprints/fpb={b}" for b in sorted(buckets - {vb})
        ]
        touched = [f"_decisions/run={self.RUN}/epoch=0", f"_fingerprints/fpb={vb}"]
        before = {e: ident(e) for e in untouched + touched}
        assert all(before.values())

        delete_from_store(spark, mh_store, _ids(spark, [victim]))
        fold_tombstones(spark, mh_store)
        assert {e: ident(e) for e in untouched} == {e: before[e] for e in untouched}
        for e in touched:
            assert ident(e) != before[e], f"{e} was not rewritten"

    def test_flat_legacy_decisions_layout_scrubbed(self, spark, mh_store, backend):
        # pre-(run,epoch) logs are a single flat parquet dir; the
        # scrub must handle leaf == root (rewrite in place, or link
        # when untouched) without inventing partition dirs
        flat = [
            (2, "unique", None),
            (100, "exact_dup", 2),
            (101, "near_dup", 5),
        ]
        fdf = spark.createDataFrame(
            flat, "doc_id long, status string, matched_id long"
        ).coalesce(1)
        if backend == "manifest":
            from tiki_data_pipeline_spark.sources import store_backend as MB

            MB.store_put(fdf, mh_store, mode="overwrite", sub="_decisions")
        else:
            fdf.write.parquet(mh_store + "/_decisions")
        delete_from_store(spark, mh_store, _ids(spark, [2]))
        fold_tombstones(spark, mh_store)
        dec = store_sub(spark, mh_store, "_decisions")
        rows = {r["doc_id"]: r["matched_id"] for r in dec.collect()}
        assert set(rows) == {100, 101}
        assert rows[100] is None and rows[101] == 5
        # no partition dirs appeared
        if backend == "manifest":
            from tiki_data_pipeline_spark.sources import store_backend as MB

            assert not any(
                "run=" in MB._lp(f)
                for f in MB.manifest_files(mh_store, "_decisions")
            )
        else:
            assert not any(
                e.startswith("run=")
                for e in os.listdir(mh_store + "/_decisions")
            )

    def test_manifest_fold_rejects_rogue_physical_decisions(
        self, spark, mh_store, backend
    ):
        """A physical ``_decisions`` directory the manifest never
        listed (written by a pre-dispatch streaming path) must fail
        the fold LOUDLY — silently folding would skip the lineage
        scrub, a takedown/GDPR leak."""
        if backend != "manifest":
            pytest.skip("rogue-dir guard is manifest-specific")
        spark.createDataFrame(
            [(2, "unique", None)], "doc_id long, status string, matched_id long"
        ).coalesce(1).write.parquet(mh_store + "/_decisions")
        delete_from_store(spark, mh_store, _ids(spark, [2]))
        with pytest.raises(ValueError, match="rogue physical _decisions"):
            fold_tombstones(spark, mh_store)


class TestWriterFencing:
    """r14: the posix maintenance window is fenced (pid lockfile +
    O_CREAT|O_EXCL claim — the posix twin of the manifest commit CAS),
    so a concurrent fold/compact raises ConcurrentCommitError on BOTH
    backends instead of silently last-write-winning a directory swap."""

    def test_concurrent_maintenance_raises_both_backends(
        self, spark, tmp_path, backend, monkeypatch
    ):
        import json
        import os
        import time

        from tiki_data_pipeline_spark.sources import store_backend as MB
        from tiki_data_pipeline_spark.sources.files import (
            delete_from_store,
            fold_tombstones,
        )

        path = str(tmp_path / "mh")
        DD.write_minhash_index(_docs(spark, CORPUS), path)
        delete_from_store(spark, path, _ids(spark, [2], col="id"))
        if backend == "posix":
            # a LIVE concurrent writer holds the window (our own pid)
            lock = os.path.join(path, "_maintenance.lock")
            with open(lock, "w") as f:
                json.dump({"pid": os.getpid(), "op": "fold_tombstones"}, f)
        else:
            # a live manifest writer claimed the next generation
            cur = MB.current_gen(path)
            assert MB.FS.put_if_absent(
                MB._gen_manifest_path(path, cur + 1),
                json.dumps(
                    {"gen": cur + 1, "created_unix": int(time.time())}
                ),
            )
        with pytest.raises(MB.ConcurrentCommitError):
            fold_tombstones(spark, path)

    def test_dead_holder_is_swept_and_fold_succeeds(
        self, spark, tmp_path, backend, monkeypatch
    ):
        import json
        import os
        import subprocess
        import time

        from tiki_data_pipeline_spark.sources import store_backend as MB
        from tiki_data_pipeline_spark.sources.files import (
            delete_from_store,
            fold_tombstones,
            store_data,
        )

        path = str(tmp_path / "mh")
        DD.write_minhash_index(_docs(spark, CORPUS), path)
        delete_from_store(spark, path, _ids(spark, [2], col="id"))
        if backend == "posix":
            # holder pid is a finished process: a crash orphan
            dead = subprocess.Popen(["true"])
            dead.wait()
            lock = os.path.join(path, "_maintenance.lock")
            with open(lock, "w") as f:
                json.dump({"pid": dead.pid, "op": "fold_tombstones"}, f)
        else:
            # aged orphan claim, CURRENT never flipped
            cur = MB.current_gen(path)
            assert MB.FS.put_if_absent(
                MB._gen_manifest_path(path, cur + 1),
                json.dumps(
                    {
                        "gen": cur + 1,
                        "op": "crash",
                        "created_unix": int(time.time()) - 3600,
                        "files": [],
                    }
                ),
            )
        assert fold_tombstones(spark, path) == 1
        ids = {
            r["id"]
            for r in store_data(spark, path).select("id").distinct().collect()
        }
        assert 2 not in ids
