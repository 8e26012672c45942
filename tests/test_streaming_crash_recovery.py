"""Crash-recovery for the streaming corpus-store ingest
(``jobs.incremental_dedup_sink``): kill a foreachBatch epoch
mid-flight, restart from the checkpoint, and assert the decisions
log stays exactly-once (one row per doc, original statuses) and the
store's canonical contract (one min-id survivor per distinct text,
no duplicate fingerprint ids) holds.

Two crash points bracket the epoch's non-atomic window:
  A. after the decisions partition committed, BEFORE the store
     append — retry must complete the append without rewriting (or
     re-deriving) the decisions;
  B. after the store append, BEFORE the epoch commit — retry
     re-enters the epoch with its own docs already in the store;
     recomputing would flip them to dup-of-self, so the sink must
     reuse the committed pre-append decisions and the anti-join must
     make the second append a no-op.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.sources.files import store_data, store_sub
from tiki_data_pipeline_spark.streaming import jobs


@pytest.fixture(params=["posix", "manifest"])
def backend(request, monkeypatch):
    """Run the continuous-ingest lifecycle on BOTH store backends:
    the posix store (decisions = run/epoch-partitioned parquet
    sidecar) and the manifest store (decisions = manifest entries
    under the _decisions/run=…/epoch=… logical scope, each epoch one
    atomic sub-scoped commit)."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_BACKEND", request.param)
    return request.param

BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu one two three four five six seven"
)
NOVEL_A = (
    "first micro batch delivers a genuinely novel document whose text "
    "must enter the persisted store exactly once even when the epoch "
    "that carried it is killed half way through and replayed later"
)
NOVEL_B = (
    "second micro batch carries another unique document plus a near "
    "duplicate of the first batch arrival proving the store grew in "
    "between and survived the crash and the checkpointed replay"
)


def _write_file(src, name, rows, mtime):
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    p = str(src / name)
    pq.write_table(t, p)
    os.utime(p, (mtime, mtime))


def _mk_source(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # epoch 0: an exact dup of the corpus + a novel doc
    _write_file(src, "a.parquet", [(13, BASE.upper()), (11, NOVEL_A)], 1_000_000_000)
    # epoch 1: near-dup of epoch 0's novel doc + a fresh one + its
    # within-batch exact copy (min-id survivor contract)
    _write_file(
        src,
        "b.parquet",
        [
            (21, NOVEL_A.replace("later", "soon")),
            (25, NOVEL_B),
            (27, NOVEL_B),
        ],
        1_000_000_100,
    )
    return src


def _run(spark, src, store, ckpt, beats):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return jobs.incremental_dedup_sink(stream, store, beats, ckpt, threshold=0.3)


def _assert_recovered(spark, store):
    dec = store_sub(spark, store, "_decisions")
    rows = dec.collect()
    # exactly-once: one decision row per doc, each in exactly one epoch
    assert sorted(r["doc_id"] for r in rows) == [11, 13, 21, 25, 27]
    by_doc = {r["doc_id"]: (r["status"], r["matched_id"], r["epoch"]) for r in rows}
    assert by_doc[13][:2] == ("exact_dup", 2)
    assert by_doc[11][:2] == ("unique", None), (
        "replayed epoch flipped its own doc to dup-of-self"
    )
    assert by_doc[21][:2] == ("near_dup", 11)
    # within-batch copies are batch-vs-corpus unique; exact_dedup picks
    # the min-id survivor for the store
    assert by_doc[25][:2] == ("unique", None)
    assert by_doc[27][:2] == ("unique", None)

    fp = store_sub(spark, store, "_fingerprints").collect()
    ids = sorted(r["id"] for r in fp)
    assert ids == [2, 11, 25], f"store not canonical after replay: {ids}"
    assert len(ids) == len(set(ids)), "duplicate fingerprint rows after replay"
    # band rows: one per (band, id) — a double append would duplicate
    band = store_data(spark, store)
    per = band.groupBy("id", "band").count().filter("count > 1").count()
    assert per == 0, "duplicate band rows after replay"


@pytest.mark.parametrize("crash_point", ["before_append", "after_append"])
def test_incremental_dedup_sink_crash_replay(
    spark, tmp_path, crash_point, monkeypatch, backend
):
    src = _mk_source(tmp_path)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    DD.write_minhash_index(
        spark.createDataFrame([(2, BASE)], "doc_id long, text string"), store
    )

    if crash_point == "before_append":
        # kill epoch 1 after its decisions partition committed but
        # before the store append ran
        real_append = DD.append_minhash_index
        calls = {"n": 0}

        def flaky_append(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # epoch 0 ok, epoch 1 dies pre-append
                raise RuntimeError("injected crash before store append")
            return real_append(*a, **kw)

        monkeypatch.setattr(DD, "append_minhash_index", flaky_append)
        beats: list = []
        q = _run(spark, src, store, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)
        monkeypatch.setattr(DD, "append_minhash_index", real_append)
        # mid-epoch state on disk: epoch 1 decisions exist, store does
        # not yet hold epoch 1's survivors
        assert 21 in {
            r["doc_id"]
            for r in store_sub(spark, store, "_decisions").collect()
        }
        assert 25 not in {
            r["id"] for r in store_sub(spark, store, "_fingerprints").collect()
        }
    else:
        # kill epoch 1 after the store append, before the epoch commit
        class DyingBeats(list):
            def append(self, item):
                if item[0] == 1 and not getattr(self, "_died", False):
                    self._died = True
                    raise RuntimeError("injected crash after store append")
                super().append(item)

        beats = DyingBeats()
        q = _run(spark, src, store, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)
        # mid-epoch state on disk: epoch 1's survivors already appended
        assert 25 in {
            r["id"] for r in store_sub(spark, store, "_fingerprints").collect()
        }

    # restart from the same checkpoint: the failed epoch replays
    beats2: list = []
    q2 = _run(spark, src, store, ckpt, beats2)
    q2.awaitTermination(120)
    assert q2.exception() is None
    _assert_recovered(spark, store)


# ---------------------------------------------------------------------------
# Embedding-ingest sink (the vector twin)
# ---------------------------------------------------------------------------

VBASE = [float((i * 7) % 13 - 6) for i in range(8)]
VNEAR = [x + (0.0001 if i == 0 else 0.0) for i, x in enumerate(VBASE)]
# cosine vs VBASE ≈ -0.02 and vs VFRESH ≈ -0.05 — genuinely unrelated
# (the obvious modular-arithmetic pick was accidentally 0.993-parallel
# to VBASE and read as a near-dup at threshold 0.99)
VOTHER = [2.0, 6.0, -3.0, 5.0, 1.0, -6.0, 4.0, 3.0]
VFRESH = [9.0, -7.0, 3.0, -1.0, 8.0, -2.0, 5.0, -4.0]


def _mk_vec_source(tmp_path):
    src = tmp_path / "vsrc"
    src.mkdir()

    def write(name, rows, mtime):
        t = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
            }
        )
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    # epoch 0: exact dup of the store + a novel vector
    write("a.parquet", [(13, VBASE), (11, VOTHER)], 1_000_000_000)
    # epoch 1: near-dup of epoch 0's novel vector + a fresh one + its
    # within-batch identical copy (min-id survivor contract)
    near_other = [x + (0.0001 if i == 0 else 0.0) for i, x in enumerate(VOTHER)]
    write(
        "b.parquet",
        [(21, near_other), (25, VFRESH), (27, VFRESH)],
        1_000_000_100,
    )
    return src


def _run_vec(spark, src, store, ckpt, beats):
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return jobs.incremental_embedding_sink(stream, store, beats, ckpt, threshold=0.99)


def test_incremental_embedding_sink_cross_batch_and_replay(
    spark, tmp_path, monkeypatch, backend
):
    from tiki_data_pipeline_spark.operators import similarity as SIM

    store = str(tmp_path / "vstore")
    SIM.write_lsh_index(
        spark.createDataFrame([(2, VBASE)], "vec_id long, embedding array<float>"),
        store,
    )
    src = _mk_vec_source(tmp_path)
    ckpt = str(tmp_path / "vckpt")

    # crash epoch 1 after the index append, before the epoch commit
    class DyingBeats(list):
        def append(self, item):
            if item[0] == 1 and not getattr(self, "_died", False):
                self._died = True
                raise RuntimeError("injected crash after index append")
            super().append(item)

    beats = DyingBeats()
    q = _run_vec(spark, src, store, ckpt, beats)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert 25 in {r["id"] for r in store_data(spark, store).collect()}

    beats2: list = []
    q2 = _run_vec(spark, src, store, ckpt, beats2)
    q2.awaitTermination(120)
    assert q2.exception() is None

    dec = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in store_sub(spark, store, "_decisions").collect()
    }
    assert dec[13] == ("exact_dup", 2)
    assert dec[11] == ("unique", None), "replayed epoch flipped its own vector"
    assert dec[21] == ("near_dup", 11), "store did not grow between batches"
    assert dec[25] == ("unique", None)
    assert dec[27] == ("unique", None)
    ids = sorted(r["id"] for r in store_data(spark, store).collect())
    assert ids == [2, 11, 25], f"index not canonical after replay: {ids}"


def test_incremental_embedding_sink_rerun_after_takedown(spark, tmp_path):
    """A takedown between two runs of the sink over the same source:
    the second run does not fail and does not append the taken-down
    id again (the append refuses a tombstoned id until the fold)."""
    from tiki_data_pipeline_spark.operators import similarity as SIM
    from tiki_data_pipeline_spark.sources.files import delete_from_store

    store = str(tmp_path / "vstore")
    SIM.write_lsh_index(
        spark.createDataFrame([(2, VBASE)], "vec_id long, embedding array<float>"),
        store,
    )
    src = _mk_vec_source(tmp_path)
    q = _run_vec(spark, src, store, str(tmp_path / "ckpt1"), [])
    q.awaitTermination(120)
    assert q.exception() is None
    delete_from_store(spark, store, spark.createDataFrame([(11,)], "id long"))

    q2 = _run_vec(spark, src, store, str(tmp_path / "ckpt2"), [])
    q2.awaitTermination(120)
    assert q2.exception() is None
    ids = [r["id"] for r in store_data(spark, store).collect()]
    assert ids.count(11) == 1 and len(ids) == len(set(ids)), sorted(ids)


def test_run_lineage_spelling_invariant(tmp_path):
    """Equivalent spellings of one checkpoint dir resume the SAME
    Spark checkpoint, so they must map to the same run id — a
    spelling-sensitive hash would miss the lineage's committed
    decisions on replay and recompute a post-append retry into
    dup-of-self statuses (ADVICE r6, fixed r8)."""
    import os

    base = str(tmp_path / "ckpt")
    os.makedirs(base)
    canonical = jobs._run_lineage(base)
    assert jobs._run_lineage(base + "/") == canonical
    assert jobs._run_lineage(base + "/.") == canonical
    assert jobs._run_lineage(str(tmp_path) + "/./ckpt") == canonical
    cwd = os.getcwd()
    try:
        os.chdir(tmp_path)
        assert jobs._run_lineage("ckpt") == canonical
    finally:
        os.chdir(cwd)
    assert jobs._run_lineage(str(tmp_path / "other")) != canonical


def test_epoch_decisions_legacy_id_mismatch_recomputes(spark, tmp_path):
    """A committed ``run=<run>/epoch=0`` partition whose id set does
    NOT match the batch (stale decisions, not a checkpointed retry)
    must fall through to recompute: the id-set guard."""
    from pyspark.sql import functions as F

    store = str(tmp_path / "legacystore2")
    dec = store + "/_decisions"
    spark.createDataFrame(
        [(99, "unique", None)],
        "doc_id long, status string, matched_id long",
    ).withColumn("run", F.lit("runx")).withColumn(
        "epoch", F.lit(0)
    ).write.partitionBy("run", "epoch").parquet(dec)
    batch = spark.createDataFrame([(11,)], "doc_id long")
    ran = []

    def compute():
        ran.append(True)
        return spark.createDataFrame(
            [(11, "unique", None)], "doc_id long, status string, matched_id long"
        )

    out = jobs._epoch_decisions(
        spark, store, 0, batch, "doc_id", compute, "runx"
    )
    assert ran, "mismatched legacy partition was wrongly reused"
    assert [r["doc_id"] for r in out.collect()] == [11]


def _run_sem(spark, src, store, ckpt, beats):
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return jobs.incremental_semantic_sink(stream, store, beats, ckpt, threshold=0.99)


def test_incremental_semantic_sink_cross_batch_and_replay(spark, tmp_path, backend):
    """SemDeDup ingest sink: cross-batch detection against the frozen
    quantizer's inverted lists, exactly-once decisions on a
    post-append crash replay, canonical store afterwards."""
    from tiki_data_pipeline_spark.operators import similarity as SIM

    store = str(tmp_path / "semstore")
    SIM.write_ivf_index(
        spark.createDataFrame([(2, VBASE)], "vec_id long, embedding array<float>"),
        store,
    )
    src = _mk_vec_source(tmp_path)
    ckpt = str(tmp_path / "semckpt")

    class DyingBeats(list):
        def append(self, item):
            if item[0] == 1 and not getattr(self, "_died", False):
                self._died = True
                raise RuntimeError("injected crash after index append")
            super().append(item)

    beats = DyingBeats()
    q = _run_sem(spark, src, store, ckpt, beats)
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert 25 in {r["id"] for r in store_data(spark, store).collect()}

    beats2: list = []
    q2 = _run_sem(spark, src, store, ckpt, beats2)
    q2.awaitTermination(120)
    assert q2.exception() is None

    dec = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in store_sub(spark, store, "_decisions").collect()
    }
    # identical vector = cosine 1.0 → semantic_dup (no separate exact
    # stage in the cluster-structured family)
    assert dec[13] == ("semantic_dup", 2)
    assert dec[11] == ("unique", None), "replayed epoch flipped its own vector"
    assert dec[21] == ("semantic_dup", 11), "store did not grow between batches"
    assert dec[25] == ("unique", None)
    assert dec[27] == ("unique", None)
    ids = sorted(r["id"] for r in store_data(spark, store).collect())
    assert ids == [2, 11, 25], f"store not canonical after replay: {ids}"


# ---------------------------------------------------------------------------
# Line-df ingest sink (boilerplate removal twin)
# ---------------------------------------------------------------------------


def _mk_line_source(tmp_path):
    src = tmp_path / "lsrc"
    src.mkdir()
    # epoch 0: footer matches the stored boilerplate (df 1+1 = 2 -> cut)
    _write_file(
        src, "a.parquet", [(11, "novel body eleven\nshared footer")],
        1_000_000_000,
    )
    # epoch 1: one genuinely fresh line + a line whose ONLY other
    # carrier is epoch 0 (so its cut depends on epoch 0's append, and
    # a post-append replay recompute would also cut the fresh line —
    # the line-dedup flavor of dup-of-self)
    _write_file(
        src, "b.parquet",
        [(21, "fresh line only once\nnovel body eleven")],
        1_000_000_100,
    )
    return src


def _run_line(spark, src, store, out, ckpt, beats):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return jobs.incremental_line_sink(stream, store, out, ckpt, beats)


def _assert_line_recovered(spark, store, out):
    from pyspark.sql import functions as F

    cleaned = {
        r["doc_id"]: (r["cleaned_text"], r["n_lines_removed"])
        for r in spark.read.parquet(out).collect()
    }
    assert cleaned == {
        11: ("novel body eleven", 1),
        21: ("fresh line only once", 1),
    }, f"replay flipped a committed line decision: {cleaned}"
    dec = store_sub(spark, store, "_decisions").collect()
    assert sorted(r["doc_id"] for r in dec) == [11, 21]
    # counts appended exactly once per epoch: footer 1(base)+1(e0),
    # 'novel body eleven' 1(e0)+1(e1), 'fresh line only once' 1(e1)
    dfs = sorted(
        r["s"]
        for r in store_data(spark, store)
        .groupBy("lh")
        .agg(F.sum("df").alias("s"))
        .collect()
    )
    assert dfs == [1, 1, 2, 2], f"replay double-counted line df: {dfs}"


@pytest.mark.parametrize("crash_point", ["before_append", "after_append"])
def test_incremental_line_sink_crash_replay(
    spark, tmp_path, crash_point, monkeypatch, backend
):
    src = _mk_line_source(tmp_path)
    store = str(tmp_path / "linestore")
    out = str(tmp_path / "cleaned")
    ckpt = str(tmp_path / "lckpt")
    DD.write_line_df_store(
        spark.createDataFrame(
            [(1, "body base\nshared footer")], "doc_id long, text string"
        ),
        store,
    )

    if crash_point == "before_append":
        real_append = jobs._idempotent_count_append
        calls = {"n": 0}

        def flaky(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # epoch 0 ok, epoch 1 dies pre-append
                raise RuntimeError("injected crash before count append")
            return real_append(*a, **kw)

        monkeypatch.setattr(jobs, "_idempotent_count_append", flaky)
        beats: list = []
        q = _run_line(spark, src, store, out, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)
        monkeypatch.setattr(
            jobs, "_idempotent_count_append", real_append
        )
    else:

        class DyingBeats(list):
            def append(self, item):
                if item[0] == 1 and not getattr(self, "_died", False):
                    self._died = True
                    raise RuntimeError("injected crash after count append")
                super().append(item)

        beats = DyingBeats()
        q = _run_line(spark, src, store, out, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)

    beats2: list = []
    q2 = _run_line(spark, src, store, out, ckpt, beats2)
    q2.awaitTermination(120)
    assert q2.exception() is None
    _assert_line_recovered(spark, store, out)


def test_epoch_decisions_numeric_looking_run_does_not_crash(spark, tmp_path):
    """A pre-prefix store whose every run hash parses as scientific
    notation (e.g. 33312574e463) reads back as a DOUBLE partition
    column; filtering it with a string literal then fails
    CAST_INVALID_INPUT under ANSI on EVERY epoch of the resumed
    stream (hit as a real CI flake). The reader must degrade to
    recompute, never crash."""
    from pyspark.sql import functions as F

    store = str(tmp_path / "numstore")
    dec = store + "/_decisions"
    spark.createDataFrame(
        [(11, "unique", None)],
        "doc_id long, status string, matched_id long",
    ).withColumn("run", F.lit("33312574e463")).withColumn(
        "epoch", F.lit(0)
    ).write.partitionBy("run", "epoch").parquet(dec)
    assert dict(spark.read.parquet(dec).dtypes)["run"] != "string"

    batch = spark.createDataFrame([(11,)], "doc_id long")
    got = jobs._epoch_decisions(
        spark,
        store,
        0,
        batch,
        "doc_id",
        lambda: batch.select(
            "doc_id",
            F.lit("unique").alias("status"),
            F.lit(None).cast("long").alias("matched_id"),
        ),
        jobs._run_lineage(str(tmp_path / "ck")),
    ).collect()
    assert [r["doc_id"] for r in got] == [11]


# ---------------------------------------------------------------------------
# Full streaming lifecycle: ingest → takedown → scheduled retention
# ---------------------------------------------------------------------------


def test_streaming_takedown_with_scheduled_maintenance(
    spark, tmp_path, backend
):
    """The continuous-operation story end-to-end, on BOTH backends:
    an ingest stream populates the store and its ``_decisions``
    lineage, then a takedown stream retires ids with
    ``maintenance_every=1`` — each epoch's delete is followed by the
    full maintenance window (snapshot → fold+compact → expire), so
    the streaming path gets physical removal, GDPR lineage scrub,
    AND snapshot retention without a separate batch job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tiki_data_pipeline_spark.sources.files import (
        list_store_versions,
        store_tombstones,
    )

    store = str(tmp_path / "store")
    DD.write_minhash_index(
        spark.createDataFrame([(2, BASE)], "doc_id long, text string"), store
    )
    # ingest: two epochs → decisions lineage + grown store
    src = _mk_source(tmp_path)
    beats: list = []
    q = _run(spark, src, store, str(tmp_path / "ckpt"), beats)
    q.awaitTermination(120)
    assert q.exception() is None
    assert sorted(r["id"] for r in store_sub(spark, store, "_fingerprints").collect()) == [2, 11, 25]

    # takedown: two single-id epochs, maintenance after each
    td = tmp_path / "td"
    td.mkdir()
    for i, (name, victim, mtime) in enumerate(
        [("a.parquet", 11, 1_000_000_000), ("b.parquet", 25, 1_000_000_100)]
    ):
        p = str(td / name)
        pq.write_table(pa.table({"doc_id": pa.array([victim], pa.int64())}), p)
        os.utime(p, (mtime, mtime))
    reader = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(td))
    )
    acks: list = []
    mlog: list = []
    q2 = jobs.takedown_sink(
        reader,
        store,
        acks,
        str(tmp_path / "tdckpt"),
        maintenance_every=1,
        maintenance_log=mlog,
        keep_last=1,
    )
    q2.awaitTermination(180)
    assert q2.exception() is None
    assert [a[1] for a in acks] == [1, 1]
    assert len(mlog) == 2
    for _epoch, report in mlog:
        assert report["folded"] == 1  # each window folded its epoch's id
        # the report carries real byte accounting (inode-deduped on
        # posix); compaction/snapshot churn can go either direction
        assert isinstance(report["bytes_before"], int)
        assert isinstance(report["bytes_after"], int)
        assert report["bytes_reclaimed"] >= 0

    # physical removal: no tombstones pending, ids gone from the data
    assert store_tombstones(spark, store) is None
    assert sorted(
        r["id"] for r in store_sub(spark, store, "_fingerprints").collect()
    ) == [2]
    # GDPR lineage scrub: retired ids gone from the decisions log
    dec = store_sub(spark, store, "_decisions")
    assert dec.filter(
        (F.col("doc_id").isin(11, 25)) | (F.col("matched_id").isin(11, 25))
    ).count() == 0
    # the survivor's own lineage row still stands
    assert dec.filter(F.col("doc_id") == 13).count() == 1
    # retention: automatic snapshots rotated down to keep_last=1
    autos = [v for v in list_store_versions(store) if not v.get("tag")]
    assert len(autos) == 1


# ---------------------------------------------------------------------------
# Span-df ingest sink (span-level boilerplate removal twin, r13)
# ---------------------------------------------------------------------------

FOOT = "f1 f2 f3 f4 f5 f6 f7 f8"       # the stored 8-token window
XSEQ = "x1 x2 x3 x4 x5 x6 x7 x8"       # cross-epoch 8-token window


def _mk_span_source(tmp_path):
    src = tmp_path / "spansrc"
    src.mkdir()
    # epoch 0: shares FOOT with the stored corpus (store df 1 + batch
    # df 1 = 2 -> cut) and introduces XSEQ (unique at this epoch)
    _write_file(
        src, "a.parquet", [(11, "a1 a2 a3 " + FOOT + " " + XSEQ)],
        1_000_000_000,
    )
    # epoch 1: shares XSEQ with epoch 0 (so its cut depends on epoch
    # 0's count append) plus fresh tokens whose windows are unique —
    # a dup-of-self recompute after epoch 1's own append would cut
    # EVERY window of this doc, not just XSEQ
    _write_file(
        src, "b.parquet", [(21, "b1 b2 b3 " + XSEQ + " y1 y2 y3")],
        1_000_000_100,
    )
    return src


def _run_span(spark, src, store, out, ckpt, beats):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return jobs.incremental_span_sink(stream, store, out, ckpt, beats)


def _assert_span_recovered(spark, store, out):
    from pyspark.sql import functions as F

    cleaned = {
        r["doc_id"]: (r["cleaned_text"], r["n_tokens_removed"])
        for r in spark.read.parquet(out).collect()
    }
    assert cleaned == {
        11: ("a1 a2 a3 " + XSEQ, 8),
        21: ("b1 b2 b3 y1 y2 y3", 8),
    }, f"replay flipped a committed span decision: {cleaned}"
    dec = store_sub(spark, store, "_decisions").collect()
    assert sorted(r["doc_id"] for r in dec) == [11, 21]
    # counts appended exactly once per epoch: XSEQ's window hash must
    # fold to df=2 (epoch 0 + epoch 1), never 3 (a replayed append)
    from tiki_data_pipeline_spark.operators import dedup as DD

    xh = (
        DD._doc_span_hashes(
            spark.createDataFrame([(0, XSEQ)], "doc_id long, text string"),
            8, "doc_id", "text", "md5", "arrow",
        )
        .collect()[0]["h"]
    )
    xdf = (
        store_data(spark, store)
        .filter(F.col("h") == xh)
        .agg(F.sum("df"))
        .collect()[0][0]
    )
    assert xdf == 2, f"replay double-counted the cross-epoch window: {xdf}"


@pytest.mark.parametrize("crash_point", ["before_append", "after_append"])
def test_incremental_span_sink_crash_replay(
    spark, tmp_path, crash_point, monkeypatch, backend
):
    src = _mk_span_source(tmp_path)
    store = str(tmp_path / "spanstore")
    out = str(tmp_path / "spancleaned")
    ckpt = str(tmp_path / "spanckpt")
    DD.write_span_df_store(
        spark.createDataFrame(
            [(1, "s1 s2 s3 " + FOOT)], "doc_id long, text string"
        ),
        store,
        span=8,
    )

    if crash_point == "before_append":
        real_append = jobs._idempotent_count_append
        calls = {"n": 0}

        def flaky(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 2:  # epoch 0 ok, epoch 1 dies pre-append
                raise RuntimeError("injected crash before count append")
            return real_append(*a, **kw)

        monkeypatch.setattr(jobs, "_idempotent_count_append", flaky)
        beats: list = []
        q = _run_span(spark, src, store, out, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)
        monkeypatch.setattr(
            jobs, "_idempotent_count_append", real_append
        )
    else:

        class DyingBeats(list):
            def append(self, item):
                if item[0] == 1 and not getattr(self, "_died", False):
                    self._died = True
                    raise RuntimeError("injected crash after count append")
                super().append(item)

        beats = DyingBeats()
        q = _run_span(spark, src, store, out, ckpt, beats)
        with pytest.raises(Exception):
            q.awaitTermination(120)

    beats2: list = []
    q2 = _run_span(spark, src, store, out, ckpt, beats2)
    q2.awaitTermination(120)
    assert q2.exception() is None
    _assert_span_recovered(spark, store, out)
