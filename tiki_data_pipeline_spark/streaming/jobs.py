"""Streaming jobs (SURVEY.md §2.10 T2/T4/T7).

Each builder takes a DataFrame that may be BATCH or STREAMING — the
transformations are identical (Spark's unified semantics); only the
sink differs. The batch twins in ``plans.streaming_queries`` carry
the DuckDB oracles; the tests in ``tests/test_streaming.py`` run the
same logic through an actual streaming query (memory sink,
``processAllAvailable``) and assert stream/batch agreement.

The reference's incremental machinery these map to:
- T7 windows: the ``events`` table contract (driver) — tumbling /
  sliding / session windows with watermarks for late data.
- T2 exactly-once dedup: progress-file ∪ DB-set skip logic
  (reference tasks/detail.py:87-321) → ``dropDuplicatesWithinWatermark``.
- T4 stateful change detection (reference postgres_storage.py:
  1283-1413) → ``foreachBatch`` merging each micro-batch against a
  state table (the CDC append path reused per batch).

The five ingest sinks (minhash dedup, embedding, semantic, line,
span) run one epoch body, :func:`_ingest_sink`; each supplies only a
decide step and a commit step. Per epoch, in this order: decide (or
reuse the lineage's committed decisions), commit the decisions to the
store's ``_decisions`` log, the sink's store write, the ``(epoch, n)``
heartbeat. A crash after the decisions commit replays the epoch from
those decisions, never from a recompute against the written store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WATERMARK = "1 hour"

# (path, mtime_ns, size) → staged temp directory for single-file
# streaming sources. Keying on mtime/size means a regenerated file at
# the same path re-stages instead of silently streaming stale data;
# superseded stagings are removed from /tmp on the spot.
_STAGED_DIRS: dict[tuple[str, int, int], str] = {}


def _stage_single_file(path: str, prefix: str) -> str:
    """The streaming file source requires a DIRECTORY; stage a single
    parquet file into a cached temp dir (shared by every single-file
    stream builder)."""
    import os
    import shutil
    import tempfile

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    staged = _STAGED_DIRS.get(key)
    if staged is None:
        staged = tempfile.mkdtemp(prefix=prefix)
        shutil.copy(path, os.path.join(staged, os.path.basename(path)))
        for k in list(_STAGED_DIRS):  # drop stale stagings of this path
            if k[0] == path:
                shutil.rmtree(_STAGED_DIRS[k], ignore_errors=True)
                del _STAGED_DIRS[k]
        _STAGED_DIRS[key] = staged
    return staged


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (for tests/demos;
    production would be Kafka). TIMESTAMP(NANOS) arrives as long under
    nanosAsLong — converted exactly like io.load_table."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    src_dir = _stage_single_file(path, "events_stream_") if os.path.isfile(path) else path
    raw_schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(raw_schema).parquet(src_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Newer readers surface TIMESTAMP(NANOS) as TIMESTAMP_NTZ, which
        # withWatermark rejects; session TZ is UTC so the cast is
        # value-preserving (mirrors io.load_table).
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """T7 — watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T7 — session windows (inactivity gap) per user."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """T2 — streaming exactly-once-style dedup by (user_id,
    event_type) within the watermark."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def purchase_click_interval_join(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Stream-stream inner join: clicks within the hour before a
    same-user purchase. Watermarks on BOTH sides + the time-interval
    condition bound the join state (clicks older than
    purchase_ts − 1h − watermark can be evicted)."""
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = clicks.withWatermark("ts", WATERMARK).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") < F.col("purchase_ts")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion into a memory sink;
    returns the query handle (stopped). Results: SELECT * FROM name."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def cdc_foreach_batch(
    events: DataFrame, state_updates: list, checkpoint_dir: str
):
    """T4 — stateful change detection via foreachBatch: every
    micro-batch is lag-compared per user and appended to the caller's
    state list (stand-in for a MERGE into a state table).

    Scope: the lag runs WITHIN each micro-batch only — each batch's
    first row per user counts as first_seen for that batch. The
    cross-batch form (state carried between batches, the reference's
    latest-snapshot compare) is ``stateful.stateful_change_detector``;
    this builder is the aggregate-and-merge-per-batch pattern where
    the MERGE target itself carries history."""
    from pyspark.sql import Window as W

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        changed = (
            batch_df.withColumn("prev_value", F.lag("value").over(w))
            .withColumn(
                "change_type",
                F.when(F.col("prev_value").isNull(), "first_seen")
                .when(F.col("value") != F.col("prev_value"), "value_change")
                .otherwise("no_change"),
            )
            .filter(F.col("change_type") != "no_change")
        )
        state_updates.append((epoch_id, changed.count()))

    return (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _run_lineage(checkpoint_dir: str) -> str:
    """Stable id for a checkpoint lineage: decisions partitions are
    keyed by (run, epoch), so a FRESH checkpoint over an
    already-ingested store (epoch ids restart at 0) writes into its
    own partition space instead of dynamically overwriting — and
    destroying — the prior lineage's decision history.

    The path is canonicalized (realpath, no trailing slash) before
    hashing: equivalent spellings of one checkpoint dir (trailing
    slash, relative vs absolute, a symlinked prefix) resume the SAME
    Spark checkpoint, so they must produce the same run id — a
    spelling-sensitive hash would miss the lineage's committed
    decisions on replay and silently recompute a post-append retry
    into dup-of-self statuses, the exact failure the (run, epoch)
    log exists to prevent.

    The id is prefixed ``r`` so it can NEVER parse as a number:
    ``run`` is a directory-partition value, and Spark's partition
    type inference promotes a column whose every value parses as
    numeric — a bare 12-hex md5 like ``33312574e463`` reads as
    scientific notation, flips the column to DOUBLE, and the string
    filter then fails CAST_INVALID_INPUT under ANSI (hit ~1-in-many
    tmp paths in CI — a real flake, not theory)."""
    import hashlib
    import os

    canon = os.path.realpath(checkpoint_dir).rstrip("/") or "/"
    return "r" + hashlib.md5(canon.encode()).hexdigest()[:12]


def _epoch_decisions(
    spark, index_path: str, epoch_id: int, batch_df: DataFrame,
    id_col: str, compute, run: str,
    value_cols: tuple = ("status", "matched_id"),
) -> DataFrame:
    """Exactly-once, replay-stable per-epoch decisions for a
    continuous-ingest sink. A retried epoch (restart from the
    checkpoint after a mid-epoch failure) REUSES its committed
    ``_decisions`` partition instead of recomputing: decisions are
    written BEFORE the store append, so the committed partition is
    the pre-append truth — recomputing after a post-append crash
    would status the batch against a store that already contains it
    and flip its own rows to dup-of-self. Partitions are keyed by
    (run, epoch) — see :func:`_run_lineage` — so epoch-id collisions
    across checkpoint lineages are disjoint. An id-set guard remains
    as a belt: a checkpointed retry always replays identical offsets,
    so a mismatch within a lineage means stale decisions, not a
    retry. Only the missing-directory case is treated as "no
    decisions yet" — any other read failure propagates and fails the
    epoch (a swallowed transient error here would silently recompute
    a genuine post-append retry into dup-of-self decisions).
    ``compute`` is called only when no reusable partition exists; its
    result is localCheckpointed and written via partitioned dynamic
    overwrite.

    Backend-aware: on a MANIFEST store the log lives as manifest
    entries under the logical ``_decisions/run=<run>/epoch=<N>``
    scope — each epoch's write is a sub-scoped manifest overwrite
    (one atomic pointer commit replaces the epoch's own prior
    attempt, the object-store twin of the posix dynamic partition
    overwrite), reads resolve through the manifest, and the takedown
    fold scrubs the log leaf-pruned on either backend
    (``files._fold_decisions_sidecar``). A rogue PHYSICAL
    ``_decisions`` directory under a manifest root (written by a
    pre-dispatch code path) fails loudly: the manifest never lists
    it, so folds would silently skip the lineage scrub.

    Probe cost (r13): the reuse check is ONE partition-pruned job;
    the id-set guard runs only when the (run, epoch) partition
    exists."""
    import os

    from tiki_data_pipeline_spark.sources import files as FL
    from tiki_data_pipeline_spark.sources import store_backend as MB

    manifest = FL.is_manifest_store(index_path)
    dec_path = index_path + "/_decisions"
    if manifest and os.path.isdir(dec_path):
        raise ValueError(
            f"manifest store {index_path} carries a rogue physical "
            "_decisions directory the manifest does not list — a "
            "takedown fold would skip its lineage scrub. Migrate it "
            "into the manifest (re-ingest, or commit the files as "
            "_decisions entries) before streaming into this store."
        )
    # no try/except: real read errors must fail the epoch
    committed = FL.store_sub(spark, index_path, "_decisions")
    if committed is not None:
        # partition-type guard: the read infers run/epoch Hive-partition
        # types, so a log whose EVERY run value parses numerically (e.g.
        # 33312574e463) comes back as a DOUBLE run column — the string
        # filter would crash CAST_INVALID_INPUT on every epoch, and the
        # fold's compaction would re-render the parsed value into run=
        # paths. Current writers prefix ids with 'r', but the guard must
        # not depend on that: cast, nothing matches, the epoch recomputes.
        if dict(committed.dtypes).get("run") != "string":
            committed = committed.withColumn(
                "run", F.col("run").cast("string")
            )
        if dict(committed.dtypes).get("epoch") not in ("int", "bigint"):
            committed = committed.withColumn(
                "epoch", F.col("epoch").cast("bigint")
            )
        probe = committed.filter(
            (F.col("run") == run) & (F.col("epoch") == epoch_id)
        )
        # one job: the filter partition-prunes to this lineage's
        # (run, epoch) dir, and the groupBy tells us whether it exists
        if probe.groupBy("run").agg(F.count(F.lit(1))).collect():
            prior = probe.select(id_col, *value_cols)
            p_ids = prior.select(id_col).distinct()
            b_ids = batch_df.select(id_col).distinct()
            if (
                p_ids.exceptAll(b_ids).unionAll(
                    b_ids.exceptAll(p_ids)
                ).limit(1).count() == 0
            ):
                return prior.localCheckpoint()
            # nonempty but mismatched = stale: recompute
    # materialized BEFORE the store append: the decision plan is lazy
    # and reads the store — evaluating it after the append would
    # status the batch against itself
    status = compute().localCheckpoint()
    if manifest:
        # sub-scoped manifest overwrite: run/epoch become Hive dirs of
        # the logical path (read back as partition columns); the commit
        # atomically replaces this epoch's own prior attempt only
        MB.store_put(
            status,
            FL.split_pin(index_path)[0],
            mode="overwrite",
            sub=f"_decisions/run={run}/epoch={epoch_id}",
        )
        return status
    (
        # (run, epoch)-partitioned dynamic overwrite: a retried epoch
        # REPLACES its own partition instead of duplicating rows —
        # the decisions log is exactly-once even though the store
        # append stays at-least-once
        status.withColumn("run", F.lit(run))
        .withColumn("epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run", "epoch")
        .parquet(dec_path)
    )
    return status


def _ingest_sink(
    stream: DataFrame, index_path: str, statuses: list,
    checkpoint_dir: str, id_col: str, steps,
    value_cols: tuple = ("status", "matched_id"),
):
    """The one epoch body of the ingest sinks. Per micro-batch: pin
    the batch; ``steps(spark, batch_df)`` returns the sink's
    ``(decide, commit)`` pair; the epoch's decisions come from
    :func:`_epoch_decisions` under the canonical :func:`_run_lineage`
    id — ``decide()`` runs only when no reusable partition exists,
    and the result is committed to ``_decisions`` BEFORE any store
    write; ``commit(decisions, run, epoch_id)`` then does the sink's
    store write; the ``(epoch, n)`` heartbeat is appended last, so a
    crash anywhere earlier replays the epoch. Runs as an
    ``availableNow`` stream."""
    run = _run_lineage(checkpoint_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint()  # pin the micro-batch once
        decide, commit = steps(spark, batch_df)
        decisions = _epoch_decisions(
            spark, index_path, epoch_id, batch_df, id_col, decide, run,
            value_cols,
        )
        commit(decisions, run, epoch_id)
        statuses.append((epoch_id, decisions.count()))

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_dedup_sink(
    docs: DataFrame,
    index_path: str,
    statuses: list,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """Continuous corpus-store ingest: each micro-batch of documents
    is statused against the persisted MinHash store (exact-fingerprint
    first, near-dup second — ``dedup.incremental_dedup_status``), the
    per-doc decisions are appended to the caller's ``statuses`` list,
    and the batch's UNIQUE docs' signatures are appended to the store
    so the NEXT micro-batch dedups against them too. This is the
    streaming twin of the batch incremental pipeline — the store only
    ever accumulates canonical (non-duplicate) content.

    Per-doc decisions go to the ``_decisions`` parquet log inside the
    store (epoch-stamped, distributed write — never collected to the
    driver; a micro-batch can be arbitrarily large). The caller's
    ``statuses`` list receives only (epoch, n_docs) heartbeats.

    What gets appended: of the docs statused ``unique``, one survivor
    (min id) per distinct normalized text — two copies of the same
    novel content in ONE micro-batch must not both enter the store —
    and never a doc whose id already exists in the store (a re-crawled
    id carrying revised text is a revision; plain parquet cannot
    replace the stored signature, so the original stays canonical —
    production MERGEs the revision in the lakehouse-backed store).
    Within-batch NEAR-dups (distinct texts above the threshold, both
    unique vs the store) can still both land — bounded by one
    micro-batch and reclaimed by a periodic full near-dedup pass.
    Plain-parquet append is at-least-once on epoch retry (see
    ``dedup.append_minhash_index``).

    Crash recovery: a retried epoch (restart from the checkpoint
    after a mid-epoch failure) REUSES its already-committed
    ``_decisions`` partition instead of recomputing. The decisions
    are written BEFORE the store append, so a committed partition is
    the pre-append truth — recomputing after a crash that happened
    after the append would status the batch against a store that
    already contains it and flip its own docs to dup-of-self. With
    the reuse, the decisions log is exactly-once AND replay-stable,
    and the append stage stays idempotent via the stored-id
    anti-join below.
    """
    from tiki_data_pipeline_spark.operators import dedup as DD
    from tiki_data_pipeline_spark.sources.files import store_sub

    def steps(spark, batch_df: DataFrame):
        # one shingle explode per epoch, shared by the decision and
        # append stages (both otherwise recompute it)
        sh = DD.shingles(batch_df).localCheckpoint()

        def decide() -> DataFrame:
            return DD.incremental_dedup_status(
                spark, index_path, batch_df, threshold=threshold, sh=sh
            )

        def commit(status: DataFrame, run: str, epoch_id: int) -> None:
            uniq = batch_df.join(
                status.filter(F.col("status") == "unique").select("doc_id"),
                "doc_id",
                "semi",
            )
            survivors = DD.exact_dedup(uniq).select(
                F.col("survivor_id").alias("doc_id")
            )
            stored_ids = store_sub(spark, index_path, "_fingerprints").select(
                F.col("id").alias("doc_id")
            )
            to_add = (
                uniq.join(survivors, "doc_id", "semi")
                .join(stored_ids, "doc_id", "anti")
                # a batch carrying the same doc_id twice (semi join keeps
                # left-side duplicates) must still append the id once
                .dropDuplicates(["doc_id"])
            )
            DD.append_minhash_index(to_add, index_path, sh=sh)

        return decide, commit

    return _ingest_sink(
        docs, index_path, statuses, checkpoint_dir, "doc_id", steps
    )


def document_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (production:
    object-store drop folder / Kafka)."""
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    src_dir = (
        _stage_single_file(path, "documents_stream_")
        if os.path.isfile(path)
        else path
    )
    schema = spark.read.parquet(src_dir).schema
    return spark.readStream.schema(schema).parquet(src_dir)


def corpus_ingest(docs: DataFrame, min_tokens: int = 5) -> DataFrame:
    """Streaming corpus ingestion: quality-gate + PII-redact each
    micro-batch. Identical transformations run in CorpusPipeline's
    batch stages 1-2 — Spark's unified semantics make this the
    stream twin. Single narrow pass (the redaction expression is
    applied inline, NOT joined back): a stream-stream self-join would
    accumulate unbounded state; a select never does."""
    from tiki_data_pipeline_spark.operators.curation import PII_PATTERNS
    from tiki_data_pipeline_spark.operators import textstats as TS

    quality = TS.with_text_stats(docs).filter(F.col("n_tokens") >= min_tokens)
    redacted = F.col("text")
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return quality.select("doc_id", redacted.alias("text"), "lang")


def incremental_embedding_sink(
    vectors: DataFrame,
    index_path: str,
    statuses: list,
    checkpoint_dir: str,
    threshold: float = 0.9,
):
    """Continuous embedding-store ingest — the vector twin of
    :func:`incremental_dedup_sink`: each micro-batch of
    ``(vec_id, embedding)`` rows is statused against the persisted
    LSH index (exact xxhash64+equality stage first, near stage on the
    remainder — ``similarity.lsh_index_dedup_status``), decisions
    land in the epoch-partitioned ``_decisions`` log (exactly-once
    and replay-stable via :func:`_epoch_decisions`), and the batch's
    UNIQUE vectors are appended to the index so the next micro-batch
    dedups against them. Of within-batch identical vectors one min-id
    survivor enters the store, and an id already present in the index
    is never appended again (the index append skips stored ids, so an
    epoch retry adds nothing); a taken-down id waits for its fold, so
    a replay after a takedown neither adds it nor fails. A NULL or
    zero-norm vector is statused ``no_vector`` — not ``unique`` — so
    it is never "appended" (the index admits only scoreable vectors;
    coalescing it to unique made it re-report unique on every epoch
    forever). The caller's ``statuses`` list receives (epoch,
    n_vectors) heartbeats only.
    """
    from tiki_data_pipeline_spark.operators import similarity as SIM

    return _vector_sink(
        vectors, index_path, statuses, checkpoint_dir,
        lambda spark, batch_df: SIM.lsh_index_dedup_status(
            spark, index_path, batch_df, threshold=threshold
        ),
        lambda spark, rows: SIM.append_lsh_index(
            rows, index_path, n_planes=None
        ),
    )


def incremental_semantic_sink(
    vectors: DataFrame,
    index_path: str,
    statuses: list,
    checkpoint_dir: str,
    threshold: float = 0.9,
):
    """Continuous SemDeDup ingest — the cluster-structured sibling of
    :func:`incremental_embedding_sink`: each micro-batch is statused
    against the persisted IVF index's frozen quantizer
    (``similarity.ivf_semantic_dedup_status`` — home inverted list
    only, cid partition pruning), decisions land in the same
    exactly-once, replay-stable ``_decisions`` log, and only the
    semantically NOVEL vectors are appended to their inverted lists —
    the store stays the curated (semantically deduplicated) corpus
    while it grows. The caller bootstraps the store once with
    ``similarity.write_ivf_index`` (the quantizer is frozen at build;
    ``ivf_drift_report`` / ``ivf_retrain_recommendation`` monitor
    when it needs retraining — an offline decision, not an ingest
    one). Within-batch identical vectors collapse to one min-id
    survivor; within-batch *semantic* twins both pass (same contract
    as the LSH sink, which also only collapses identical content —
    the next epoch's batch dedups against whichever entered the
    store). NULL / zero-norm vectors status ``no_vector`` and are
    never appended; stored and taken-down ids as in the LSH sink.
    """
    from tiki_data_pipeline_spark.operators import similarity as SIM

    return _vector_sink(
        vectors, index_path, statuses, checkpoint_dir,
        lambda spark, batch_df: SIM.ivf_semantic_dedup_status(
            spark, index_path, batch_df, threshold=threshold
        ),
        lambda spark, rows: SIM.append_ivf_index(spark, rows, index_path),
    )


def _vector_sink(
    vectors: DataFrame, index_path: str, statuses: list,
    checkpoint_dir: str, status, append,
):
    """The epoch steps the embedding and semantic sinks share:
    ``status(spark, batch_df)`` decides the batch against the store;
    the commit hands the batch's ``unique`` vectors — taken-down ids
    dropped, one min-id survivor per distinct vector — to
    ``append(spark, rows)``."""
    from tiki_data_pipeline_spark.sources.files import apply_tombstones

    def steps(spark, batch_df: DataFrame):
        def commit(status_df: DataFrame, run: str, epoch_id: int) -> None:
            # the append skips stored ids but refuses a taken-down one
            uniq = apply_tombstones(batch_df, index_path, "vec_id").join(
                status_df.filter(F.col("status") == "unique").select("vec_id"),
                "vec_id",
                "semi",
            )
            # one min-id survivor per distinct vector within the batch
            # (group on the array itself — a hash-only key could collapse
            # two colliding but different vectors)
            survivors = (
                uniq.groupBy("embedding")
                .agg(F.min("vec_id").alias("vec_id"))
                .select("vec_id")
            )
            append(spark, uniq.join(survivors, "vec_id", "semi"))

        return (lambda: status(spark, batch_df)), commit

    return _ingest_sink(
        vectors, index_path, statuses, checkpoint_dir, "vec_id", steps
    )


def _idempotent_count_append(
    spark, counts: DataFrame, path: str, run: str, epoch_id: int
) -> None:
    """Append a micro-batch's additive (key, df) counts to a count
    store with DETERMINISTIC file names (``epoch-<run>-<epoch>-i``):
    a retried epoch first clears its own files, then re-adds them —
    the count append is idempotent even though df rows are additive
    deltas (a blind ``mode("append")`` would double-count on replay).
    Local-filesystem move; production = object-store put, which is
    idempotent the same way. NOTE: run the store's compaction only
    when the stream is stopped with its checkpoint committed — the
    fold erases the epoch-named files a replay would overwrite.

    On a MANIFEST store the same idempotency is one sub-scoped
    manifest overwrite: the epoch's counts live under the logical
    ``epoch-<run>-<N>/`` data-tree scope, so a retry's commit
    atomically drops its own prior attempt's references and adds the
    new files — no file deletion dance at all. The scope is part of
    the DATA tree (no underscore prefix): ``store_data`` sums it with
    the base counts, and compaction's fold rewrites it away like any
    delta rows."""
    import glob
    import os
    import shutil
    import tempfile

    from tiki_data_pipeline_spark.sources import store_backend as MB
    from tiki_data_pipeline_spark.sources.files import (
        is_manifest_store,
        split_pin,
    )

    if is_manifest_store(path):
        MB.store_put(
            counts,
            split_pin(path)[0],
            mode="overwrite",
            sub=f"epoch-{run}-{epoch_id}",
            coalesce=1,
        )
        return
    staging = tempfile.mkdtemp(prefix="counts_epoch_")
    try:
        counts.write.mode("overwrite").parquet(staging)
        prefix = f"epoch-{run}-{epoch_id}-"
        for old in glob.glob(os.path.join(path, prefix + "*")):
            os.remove(old)
        for i, f in enumerate(
            sorted(glob.glob(os.path.join(staging, "part-*")))
        ):
            os.replace(f, os.path.join(path, f"{prefix}{i:05d}.parquet"))
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def incremental_line_sink(
    docs: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    statuses: list,
    min_df: int = 2,
):
    """Continuous boilerplate-line removal: each micro-batch of
    documents is cleaned against the persisted line-df store
    (``dedup.incremental_line_removal`` — corpus df plus within-batch
    df), the cleaned docs land in ``out_dir`` partitioned by
    (run, epoch), and the batch's line counts are appended so the
    NEXT micro-batch's df includes them. Completes the
    continuous-ingest family (minhash / embedding / semantic sinks).

    Replay stability matters MORE here than for the dedup sinks: a
    recompute after the count append would see the batch's own lines
    in the store df and cut lines the committed output kept (the
    line-dedup flavor of dup-of-self). So the cleaned output is the
    epoch decision — committed to the store's ``_decisions`` log
    (exactly-once, (run, epoch)-keyed, id-set-guarded) BEFORE the
    count append, and reused verbatim on a retried epoch; the count
    append itself is idempotent via deterministic epoch file names
    (:func:`_idempotent_count_append`)."""
    from tiki_data_pipeline_spark.operators import dedup as DD
    from tiki_data_pipeline_spark.sources.files import check_store_meta

    def line_counts(batch_df: DataFrame) -> DataFrame:
        check_store_meta(index_path, {"kind": "line_df"})
        return DD._line_df_counts(batch_df)

    return _count_sink(
        docs, index_path, out_dir, checkpoint_dir, statuses,
        lambda spark, batch_df: DD.incremental_line_removal(
            spark, index_path, batch_df, min_df=min_df
        ),
        ("cleaned_text", "n_lines", "n_lines_removed", "removed_frac"),
        line_counts,
    )


def incremental_span_sink(
    docs: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    statuses: list,
    min_df: int = 2,
    min_run: int | None = None,
):
    """Continuous span-level dedup (r13 — the span-df store's stream
    twin, same contract as :func:`incremental_line_sink`): each
    micro-batch is cleaned against the persisted span-df store
    (``dedup.incremental_span_removal`` — corpus window df plus
    within-batch df), the cleaned docs land in ``out_dir`` partitioned
    by (run, epoch), and the batch's window counts are appended so the
    NEXT micro-batch's df includes them. Window geometry (span,
    hash_mode) pins in the store meta.

    Same replay-stability argument as the line sink: the cleaned
    output IS the epoch decision — committed to the ``_decisions``
    log (exactly-once, (run, epoch)-keyed, id-set-guarded) BEFORE the
    count append, reused verbatim on a retried epoch (a recompute
    after the count append would see the batch's own windows in the
    store df and cut spans the committed output kept); the count
    append is idempotent via :func:`_idempotent_count_append`."""
    from tiki_data_pipeline_spark.operators import dedup as DD

    def span_counts(batch_df: DataFrame) -> DataFrame:
        # window geometry from the store meta — same identities the
        # decision used
        return DD._span_df_counts(
            batch_df, *DD._span_store_geometry(index_path)
        )

    return _count_sink(
        docs, index_path, out_dir, checkpoint_dir, statuses,
        lambda spark, batch_df: DD.incremental_span_removal(
            spark, index_path, batch_df, min_df=min_df, min_run=min_run
        ),
        ("cleaned_text", "n_tokens", "n_tokens_removed", "removed_frac"),
        span_counts,
    )


def _count_sink(
    docs: DataFrame, index_path: str, out_dir: str, checkpoint_dir: str,
    statuses: list, removal, value_cols: tuple, counts,
):
    """The epoch steps the line and span sinks share: the cleaned
    output ``removal(spark, batch_df)`` is the epoch decision; the
    commit writes it to ``out_dir`` by (run, epoch) — dynamic
    overwrite, so a replay replaces its own partition — and then
    appends the batch's additive ``counts(batch_df)`` through
    :func:`_idempotent_count_append`."""

    def steps(spark, batch_df: DataFrame):
        def commit(cleaned: DataFrame, run: str, epoch_id: int) -> None:
            (
                cleaned.withColumn("run", F.lit(run))
                .withColumn("epoch", F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run", "epoch")
                .parquet(out_dir)
            )
            _idempotent_count_append(
                spark, counts(batch_df), index_path, run, epoch_id
            )

        return (lambda: removal(spark, batch_df)), commit

    return _ingest_sink(
        docs, index_path, statuses, checkpoint_dir, "doc_id", steps,
        value_cols,
    )


def takedown_sink(
    requests: DataFrame,
    index_path: str,
    acks: list,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    maintenance_every: int | None = None,
    maintenance_log: list | None = None,
    keep_last: int = 2,
):
    """Continuous takedown stream: each micro-batch of retirement
    requests (one id per row — legal takedowns, re-crawl retractions,
    quality reversals) is applied to the persisted store via
    ``files.delete_from_store``; serve paths hide the ids from the
    next query onward (tombstone anti-join), and the physical rewrite
    happens at the next scheduled ``compact_store`` — never on the
    stream. The streaming counterpart of the ingest sinks: together
    they give the store full add/remove lifecycle under continuous
    operation.

    No decisions-log machinery is needed here: tombstone appends are
    idempotent BY SEMANTICS (a duplicate tombstone row filters and
    folds identically to one), so the at-least-once epoch replay of
    ``foreachBatch`` is already exactly-once in effect. The caller's
    ``acks`` list receives (epoch, n_requested) heartbeats. The
    store's EXISTING ``_decisions`` lineage log is scrubbed of the
    retired ids at the next fold (``files._fold_decisions_sidecar``
    — subject rows drop, matched_id pointers null), so a takedown
    eventually erases the id from the data AND the records that
    named it.

    Single-writer discipline per store, same as appends: a takedown
    for an id racing an ingest append of that id would trip the
    append's tombstone guard — serialize the two streams on one
    store (run the takedown sink in the ingest windows' gaps).

    Retention rides the stream (``maintenance_every=N``): every N
    epochs the full :func:`files.store_maintenance` window runs right
    after the delete — snapshot (the undo point), fold pending
    tombstones (physical removal + ``_decisions`` lineage scrub),
    compact, expire history down to ``keep_last`` automatic
    snapshots. This is safe exactly where the takedown sink already
    is: the store's single-writer window. Reports append to
    ``maintenance_log`` (the ``acks`` heartbeat shape stays
    ``(epoch, n)``). Replay of a crashed epoch re-runs the window —
    every step is idempotent, and the extra automatic snapshot
    rotates out at the next expiry."""
    from tiki_data_pipeline_spark.sources.files import (
        delete_from_store,
        store_maintenance,
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        n = delete_from_store(
            batch_df.sparkSession, index_path, batch_df, id_col=id_col
        )
        acks.append((epoch_id, n))
        if maintenance_every and (len(acks) % maintenance_every == 0):
            report = store_maintenance(
                batch_df.sparkSession, index_path, keep_last=keep_last
            )
            if maintenance_log is not None:
                maintenance_log.append((epoch_id, report))

    return (
        requests.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
