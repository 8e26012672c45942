"""The corpus part of the ``batch`` workload: the LLM-corpus curation
pipeline, end to end.

Why: long CPU- and shuffle-bound jobs in ``operators.textstats``,
``curation``, ``dedup`` and ``graph``, plus parquet stage writes and
``sources.files.write_training_shards``. Few, heavy queries: the
opposite regime from the query part, which runs before it.

Input: ``REPLICAS`` content-mutated replicas of a seeded ``documents``
table (the ``tools/streaming_throughput`` recipe with the seed in the
mutation hash; ``lang`` and ``source`` carried over), with planted
near- and exact duplicates: 2k docs, ~0.7 MB of text. The run time is
per-stage overhead, not data: 1k and 2k docs both take ~10 s warm.

After the query window, one ``CorpusPipeline.run`` with the line-dedup
and decontamination stages on is timed, with the training loader's
``verify_training_shards`` of the export. It is the first corpus job in
the process, as a nightly curation job meets it: one run per Spark
application.

Output checks: the shard export verifies against its manifest, the
stage funnel only ever removes documents, the planted near-duplicates
(replica 1) are removed, and the per-stage counts equal those of every
earlier run with the same seed in this checkout (kept under
``.perfbench/corpus-counts/``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

from perfbench import datagen

BASE_DOCS = 500
REPLICAS = 4
COUNTS_DIR = Path.cwd() / ".perfbench" / "corpus-counts"
# output directories of the pipeline's stages, in run order
CORPUS_STAGES = [
    "quality", "redacted", "line_dedup", "exact_dedup", "near_dedup",
    "decontaminated", "repetition", "shards",
]
FUNNEL = [
    "input_docs", "after_quality", "after_line_dedup", "after_exact_dedup",
    "after_near_dedup", "after_decontamination", "after_repetition",
    "after_sampling", "final_docs",
]


class Corpus:
    name = "corpus"
    op_kind = "corpus.run"

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.samples: list[float] = []
        self.batches: list[float] = []
        self.reports: list[dict] = []
        self.failed_ops = 0

    def prepare(self, spark, rep_dir: str) -> dict:
        from tiki_data_pipeline_spark import io

        self.spark = spark
        self.dir = rep_dir
        table = datagen.corpus_replicas(self.seed, BASE_DOCS, REPLICAS)
        nbytes = datagen.write_table(table, rep_dir, "documents")
        self.docs = io.load_table(spark, rep_dir, "documents")
        self.n_docs = table.num_rows
        self.input_bytes = nbytes
        return {
            "input_rows": table.num_rows,
            "input_bytes": nbytes,
            "text_bytes": datagen.text_bytes(table),
        }

    def _run(self, out: str) -> dict:
        from pyspark.sql import functions as F

        from tiki_data_pipeline_spark.corpus_pipeline import CorpusPipeline

        report = CorpusPipeline(self.spark, out).run(
            self.docs,
            benchmark_pred=F.col("doc_id") % 50 == 0,
            line_dedup_min_df=3,
            seq_len=512,
            n_shards=4,
        )
        return {k: v for k, v in report.items() if k != "shard_dir"}

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        self.out = os.path.join(self.dir, "out")

    def step(self) -> bool:
        """The corpus job is a one-off batch: it runs once, after the
        window (``after_window``)."""
        return True

    def after_window(self) -> None:
        from tiki_data_pipeline_spark.sources.files import verify_training_shards

        t0 = time.perf_counter()
        try:
            with self.tracer.span(self.op_kind, op=True):
                report = self._run(self.out)
            t1 = time.perf_counter()
            with self.tracer.span("corpus.verify", op=True):
                verify_training_shards(self.spark, os.path.join(self.out, "shards"))
        except Exception as exc:
            self.failed_ops += 1
            print(f"# corpus run: {type(exc).__name__}: {exc}", file=sys.stderr)
            return
        self.samples.append(t1 - t0)
        self.batches.append(time.perf_counter() - t0)
        self.reports.append(report)

    def check(self) -> tuple[int, int]:
        """Funnel, near-dup removal, and the counts of every run (this
        one's and earlier ones' with the same seed) agree."""
        failed = 0
        if not self.reports:
            return 1, 1
        report = self.reports[0]
        counts = [report[k] for k in FUNNEL]
        if counts[0] != self.n_docs or counts != sorted(counts, reverse=True) or counts[-1] <= 0:
            print(f"# check funnel: {report}", file=sys.stderr)
            failed += 1
        # replica 1 near-duplicates replica 0 doc for doc
        if report["after_exact_dedup"] - report["after_near_dedup"] < 0.8 * BASE_DOCS:
            print(f"# check near-dup removal: {report}", file=sys.stderr)
            failed += 1
        path = COUNTS_DIR / f"{self.seed}.json"
        if path.is_file():
            self.reports.append(json.loads(path.read_text()))
        else:
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(report))
        mismatched = sum(r != report for r in self.reports)
        if mismatched:
            print(f"# check counts: {mismatched} runs differ from {report}", file=sys.stderr)
        return 2 + len(self.reports), failed + mismatched

    def ops(self) -> tuple[int, int]:
        return len(self.samples) + self.failed_ops, self.failed_ops

    def end_to_end(self) -> dict:
        from perfbench.harness import median

        # the run plus the loader's verification of its export
        return {"batch_s": median(self.batches)}

    def layer_extra(self, evlog, spans) -> dict:
        """Per-stage time and rows: a stage's Spark executions are the
        ones writing its output directory; a stage runs from the end
        of the previous stage's write to the end of its own."""
        runs = [s for s in spans if s["name"] == self.op_kind]
        acc = {f"corpus_pipeline.{st}.{m}": 0.0 for st in CORPUS_STAGES for m in ("s", "rows_out")}
        written = 0.0
        if not runs:
            return acc
        for run in runs:
            prev = run["wall0"] * 1e3
            for w in evlog.writes_in(run["wall0"], run["wall1"]):
                stage = os.path.basename(w["write_path"].rstrip("/"))
                if stage not in CORPUS_STAGES:
                    continue
                end = run["wall1"] * 1e3 if stage == "shards" else w["end_ms"]
                acc[f"corpus_pipeline.{stage}.s"] += (end - prev) / 1e3
                acc[f"corpus_pipeline.{stage}.rows_out"] += w["records"]
                prev = end
            written += evlog.totals(evlog.jobs_in(run["wall0"], run["wall1"]))["output_bytes"]
        out = {k: v / len(runs) for k, v in acc.items()}
        out["corpus_pipeline.docs_per_s"] = self.n_docs / (sum(self.samples) / len(self.samples))
        out["sources.files.bytes_written_per_input_byte"] = written / (
            len(runs) * self.input_bytes
        )
        return out
