"""``store``: incremental ingest into persisted stores that are read
while they are written.

Why: writes (appends, the decisions log, tombstones, the fold) run
beside reads on the same ``sources.files`` store, so a layout change
that speeds serving but slows appends, or the reverse, shows.
``sources.store_backend`` (manifest) stays unmeasured: posix is the
local default.

Set-up builds a MinHash store (``dedup.write_minhash_index``) from
replica 0 of the seeded corpus (500 docs) and an LSH index
(``similarity.write_lsh_index``) from 2k seeded ``embeddings``. The
stores are built once, after the repeated part of set-up, and their
build time is added to ``setup_s``: building them in every repetition
would cost ~10 s a run. One untimed serve round warms the read path.
The measured window is a closed loop of cycles: one epoch (the next of
``EPOCHS`` micro-batch files of replicas 1-3 lands in the drop folder
and ``streaming.jobs.incremental_dedup_sink`` ingests it) followed by
one serve round of read-only calls (``dedup.incremental_dedup_status``
on a fixed probe delta, ``similarity.lsh_index_topk`` on fixed query
vectors). A maintenance window closes the run: ``takedown_sink`` on
~2 % of the stored ids, then ``fold_tombstones`` and ``compact_store``.
Every part is per-job overhead at these sizes, so the run is timed
at sizes a run can afford; maintenance is measured cold, as a
scheduled maintenance job meets it.

Output checks: each serve round returns the expected statuses for the
probe's planted exact copies and novel docs; top-k recall@5 against
``brute_force_topk`` stays at or above ``RECALL_FLOOR``; every streamed
doc has exactly one decision; the store holds exactly the seed ids plus
the appended ones before maintenance, minus the retired ones after.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen

BASE_DOCS = 500
REPLICAS = 4
EPOCHS = 4  # micro-batches available; the window consumes what it can
N_EMBEDDINGS = 2000
N_QUERIES = 16
PROBE_COPIES = 10
PROBE_NOVEL = 10
TAKEDOWN_SHARE = 0.02
RECALL_FLOOR = 0.5
STREAM_SCHEMA = "doc_id long, text string"


class Store:
    name = "store"
    op_kind = "store.epoch"

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.epoch_s: list[float] = []
        self.serve_s: list[float] = []
        self.streamed: list[int] = []
        self.progress: list[dict] = []
        self.failed_ops = 0
        self.serve_failed = 0
        self.serves = 0

    # ------------------------------------------------------------ set-up

    def prepare(self, spark, rep_dir: str) -> dict:
        from tiki_data_pipeline_spark import io

        self.spark = spark
        self.dir = rep_dir
        rng = datagen.rng_for(self.seed, "store")
        corpus = datagen.corpus_replicas(self.seed, BASE_DOCS, REPLICAS)
        ids = np.asarray(corpus.column("doc_id"))
        is_seed = ids < datagen.REPLICA_STRIDE
        tables = os.path.join(rep_dir, "tables")
        seed_docs = corpus.filter(pa.array(is_seed)).select(["doc_id", "text"])
        datagen.write_table(seed_docs, tables, "documents")
        emb = datagen.embeddings_table(self.seed, N_EMBEDDINGS)
        datagen.write_table(emb, tables, "embeddings")

        # stream: the other replicas, shuffled into EPOCHS micro-batch files
        stream = corpus.filter(pa.array(~is_seed)).select(["doc_id", "text"])
        # equal-size micro-batches, so every epoch ingests the same count
        batches = np.array_split(rng.permutation(stream.num_rows), EPOCHS)
        self.staged = []
        self.stream_bytes = []
        for k, rows in enumerate(batches):
            part = stream.take(pa.array(np.sort(rows)))
            path = os.path.join(rep_dir, "staged", f"epoch-{k:03d}.parquet")
            self.stream_bytes.append(datagen.write_table(part, os.path.dirname(path), f"epoch-{k:03d}"))
            self.staged.append((path, part.num_rows, np.asarray(part.column("doc_id"))))

        # probe delta: exact copies of seed docs (new ids) + novel docs
        texts = seed_docs.column("text").to_pylist()
        picks = rng.choice(len(texts), PROBE_COPIES, replace=False)
        novel = [" ".join(rng.choice(datagen.VOCAB, 40)) + f" novel{i}" for i in range(PROBE_NOVEL)]
        # a copy may match any seed doc with the same text: the seed
        # corpus holds a few planted exact duplicates
        ids_of: dict[str, set[int]] = {}
        for doc_id, text in zip(seed_docs.column("doc_id").to_pylist(), texts):
            ids_of.setdefault(text, set()).add(doc_id)
        self.probe_expect = {
            900_000 + i: ("exact_dup", ids_of[texts[int(p)]]) for i, p in enumerate(picks)
        }
        self.probe_expect.update({910_000 + i: ("unique", None) for i in range(PROBE_NOVEL)})
        datagen.write_table(
            pa.table(
                {
                    "doc_id": pa.array(list(self.probe_expect), pa.int64()),
                    "text": [texts[int(p)] for p in picks] + novel,
                }
            ),
            tables,
            "probe",
        )
        self.query_ids = sorted(int(i) for i in rng.choice(N_EMBEDDINGS, N_QUERIES, replace=False))

        self.docs = io.load_table(spark, tables, "documents")
        self.emb = io.load_table(spark, tables, "embeddings")
        self.probe = io.load_table(spark, tables, "probe")
        self.queries = self.emb.filter(self.emb.vec_id.isin(self.query_ids))
        self.seed_ids = set(int(i) for i in ids[is_seed])
        self.incoming = os.path.join(rep_dir, "incoming")
        os.makedirs(self.incoming)
        self.next_epoch = 0
        return {
            "input_rows": corpus.num_rows,
            "input_bytes": sum(self.stream_bytes),
            "text_bytes": datagen.text_bytes(corpus),
        }

    def build(self) -> None:
        from tiki_data_pipeline_spark.operators import dedup as DD
        from tiki_data_pipeline_spark.operators import similarity as SIM

        self.store = os.path.join(self.dir, "minhash_store")
        self.lsh = os.path.join(self.dir, "lsh_index")
        DD.write_minhash_index(self.docs, self.store)
        SIM.write_lsh_index(self.emb, self.lsh)

    def warmup(self) -> None:
        from tiki_data_pipeline_spark.operators import similarity as SIM

        exact = SIM.brute_force_topk(self.emb, self.query_ids, k=5).collect()
        self.exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
        self.recalls: list[float] = []
        self._serve_round(timed=False)

    # ------------------------------------------------------------ window

    def _serve_round(self, timed: bool) -> None:
        from tiki_data_pipeline_spark.operators import dedup as DD
        from tiki_data_pipeline_spark.operators import similarity as SIM

        t0 = time.perf_counter()
        try:
            with self.tracer.span("store.serve", op=True):
                status = DD.incremental_dedup_status(self.spark, self.store, self.probe).collect()
                topk = SIM.lsh_index_topk(self.spark, self.lsh, self.queries, k=5).collect()
        except Exception as exc:
            self.failed_ops += timed
            print(f"# serve: {type(exc).__name__}: {exc}", file=sys.stderr)
            return
        if timed:
            self.serve_s.append(time.perf_counter() - t0)
        self.serves += 1
        got = {r["doc_id"]: r for r in status}
        ok = len(got) == len(self.probe_expect)
        for doc_id, (want, matched) in self.probe_expect.items():
            r = got.get(doc_id)
            if r is None or r["status"] != want or (matched is not None and r["matched_id"] not in matched):
                ok = False
        if not ok:
            self.serve_failed += 1
            print(f"# serve: unexpected probe statuses {sorted(got.items())[:4]}", file=sys.stderr)
        found = {(r["query_id"], r["neighbor_id"]) for r in topk}
        self.recalls.append(len(found & self.exact_pairs) / len(self.exact_pairs))

    def _epoch(self) -> None:
        from tiki_data_pipeline_spark.streaming.jobs import incremental_dedup_sink

        path, rows, _ids = self.staged[self.next_epoch]
        os.rename(path, os.path.join(self.incoming, os.path.basename(path)))
        self.next_epoch += 1
        heartbeats: list = []
        t0 = time.perf_counter()
        with self.tracer.span(self.op_kind, op=True):
            reader = (
                self.spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.incoming)
            )
            q = incremental_dedup_sink(
                reader, self.store, heartbeats, os.path.join(self.dir, "checkpoint")
            )
            q.awaitTermination()
        self.epoch_s.append(time.perf_counter() - t0)
        self.streamed.append(rows)
        self.progress.extend(p if isinstance(p, dict) else p.jsonValue for p in q.recentProgress)
        if q.exception() is not None or sum(n for _e, n in heartbeats) != rows:
            raise RuntimeError(f"epoch ingested {heartbeats}, expected {rows} docs")

    def step(self) -> bool:
        if self.next_epoch >= len(self.staged):
            return False
        try:
            self._epoch()
        except Exception as exc:
            self.failed_ops += 1
            print(f"# epoch: {type(exc).__name__}: {exc}", file=sys.stderr)
        self._serve_round(timed=True)
        return True

    # ------------------------------------------------------- maintenance

    def _live_ids(self) -> set[int]:
        from tiki_data_pipeline_spark.sources.files import store_sub

        fps = store_sub(self.spark, self.store, "_fingerprints")
        return {r[0] for r in fps.select("id").distinct().collect()}

    def after_window(self) -> None:
        from tiki_data_pipeline_spark.sources import files as FS
        from tiki_data_pipeline_spark.streaming.jobs import takedown_sink

        # untimed: capture what the window wrote before maintenance
        from perfbench.harness import du

        self.window_store = du(self.store)
        self.window_decisions = du(os.path.join(self.store, "_decisions"))
        self.decisions = self.spark.read.parquet(os.path.join(self.store, "_decisions")).collect()
        self.pre_ids = self._live_ids()
        rng = datagen.rng_for(self.seed, "takedown")
        live = sorted(self.pre_ids)
        n = max(1, int(len(live) * TAKEDOWN_SHARE))
        self.retired = {int(i) for i in rng.choice(live, n, replace=False)}
        drop = os.path.join(self.dir, "takedowns")
        datagen.write_table(
            pa.table({"doc_id": pa.array(sorted(self.retired), pa.int64())}), drop, "batch-000"
        )

        t0 = time.perf_counter()
        with self.tracer.span("store.maintenance", op=True):
            acks: list = []
            reader = self.spark.readStream.schema("doc_id long").parquet(drop)
            q = takedown_sink(reader, self.store, acks, os.path.join(self.dir, "checkpoint-td"))
            q.awaitTermination()
            FS.fold_tombstones(self.spark, self.store)
            FS.compact_store(self.spark, self.store)
        self.maintenance_s = time.perf_counter() - t0
        self.acked = sum(n for _e, n in acks)

    # ------------------------------------------------------------ checks

    def check(self) -> tuple[int, int]:
        failed = 0
        streamed_ids = np.concatenate([self.staged[k][2] for k in range(self.next_epoch)])
        decided: dict[int, int] = {}
        unique = set()
        for r in self.decisions:
            decided[r["doc_id"]] = decided.get(r["doc_id"], 0) + 1
            if r["status"] == "unique":
                unique.add(r["doc_id"])
        if set(decided) != set(int(i) for i in streamed_ids) or any(c != 1 for c in decided.values()):
            print(f"# check decisions: {len(decided)} ids for {len(streamed_ids)} streamed", file=sys.stderr)
            failed += 1
        appended = self.pre_ids - self.seed_ids
        if not self.seed_ids <= self.pre_ids or not appended <= unique:
            print("# check store ids: seed ids lost or non-unique doc appended", file=sys.stderr)
            failed += 1
        if self._live_ids() != self.pre_ids - self.retired or self.acked != len(self.retired):
            print("# check store ids after takedown: mismatch", file=sys.stderr)
            failed += 1
        recall = min(self.recalls)
        if recall < RECALL_FLOOR:
            print(f"# check recall@5: {recall} < {RECALL_FLOOR}", file=sys.stderr)
            failed += 1
        return 4 + self.serves, failed + self.serve_failed

    def ops(self) -> tuple[int, int]:
        return len(self.epoch_s) + len(self.serve_s) + self.failed_ops, self.failed_ops

    def end_to_end(self) -> dict:
        from perfbench.harness import median

        return {
            "op_p50_s": median(self.serve_s),
            "work_per_s": sum(self.streamed) / sum(self.epoch_s),
            "batch_s": self.maintenance_s,
        }

    def layer_extra(self, evlog, spans) -> dict:
        from perfbench.harness import median

        def mean_ms(key):
            vals = [p.get("durationMs", {}).get(key, 0) for p in self.progress]
            return sum(vals) / len(vals) / 1e3 if vals else 0.0

        out = {
            "streaming.epoch_s": median(self.epoch_s),
            "streaming.epoch.addBatch_s": mean_ms("addBatch"),
            "streaming.epoch.queryPlanning_s": mean_ms("queryPlanning"),
            "streaming.epoch.walCommit_s": mean_ms("walCommit"),
            "streaming.epoch.getBatch_s": mean_ms("getBatch"),
            "streaming.decisions_bytes": self.window_decisions[0],
            "sources.files.store_bytes": self.window_store[0],
            "sources.files.store_files": self.window_store[1],
            "sources.files.maintenance_s": self.maintenance_s,
            "operators.similarity.recall_at_5": sum(self.recalls) / len(self.recalls),
        }
        serves = [s for s in spans if s["name"] == "store.serve"]
        read = sum(
            evlog.totals(evlog.jobs_in(s["wall0"], s["wall1"]))["input_bytes"] for s in serves
        )
        out["sources.files.serve_fraction_read"] = (
            read / len(serves) / self.window_store[0] if serves else 0.0
        )
        maint = [s for s in spans if s["name"] in ("sources.files.fold_tombstones", "sources.files.compact_store")]
        # compact_store's own fold nests inside it: count each job once
        rewrites = {id(j): j for s in maint for j in evlog.jobs_in(s["wall0"], s["wall1"])}
        out["sources.files.bytes_rewritten"] = evlog.totals(list(rewrites.values()))["output_bytes"]
        epochs = [s for s in spans if s["name"] == self.op_kind]
        written = sum(
            evlog.totals(evlog.jobs_in(s["wall0"], s["wall1"]))["output_bytes"] for s in epochs
        )
        streamed_bytes = sum(self.stream_bytes[: len(epochs)])
        out["sources.files.bytes_written_per_input_byte"] = written / streamed_bytes
        return out
