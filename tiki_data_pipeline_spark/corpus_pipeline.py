"""End-to-end training-corpus pipeline — the LLM-data counterpart of
``pipeline.Pipeline`` (which re-expresses the reference's product DAG).

One driver call takes a raw ``documents``-shaped DataFrame to
training-ready shards, composing the operators this engine already
ships, in the staged order that is right at 100 TB (cheapest mass
reduction first, so every later stage sees fewer bytes):

1. quality   — text stats + quality score filter (``textstats``)
2. pii       — URL/email/phone redaction (``curation.redact_pii``)
2b. lines    — optional corpus-wide boilerplate-line removal
               (``dedup.remove_duplicate_lines``) BEFORE
               fingerprinting, so dedup sees real content
3. exact     — fingerprint dedup, min-id survivor (``dedup.exact_dedup``)
4. near      — MinHash-LSH candidate pairs → connected-component
               survivors (``dedup.minhash_lsh_near_dups`` +
               ``graph.dedup_survivors``) — cluster-correct, not greedy
5. decon     — benchmark n-gram decontamination (``curation``)
6. repetition— Gopher-style repetition filter (``curation``)
6b. cap      — optional per-source frequency cap
               (``curation.source_frequency_cap``)
7. sample    — deterministic per-language stratified sample
8. pack+ship — hash-sharded sequence packing, one ordered file per
               shard (``sources.files.write_training_shards``)

Stage boundaries are real parquet writes (restartable artifacts,
mirroring ``pipeline.Pipeline``'s semantic); the report dict carries
per-stage survivor counts — the corpus-curation audit trail. Each
count is an ``Observation`` on the write that produces it, never a
``count()`` that re-reads what the write just wrote.

:meth:`CorpusPipeline.run_embeddings` is the EMBEDDING branch of the
same pipeline: staged dedup status against the persisted LSH index →
append of novel vectors → occupancy/drift check, composed with the
same stage-parquet + report-dict discipline (previously this family
had to be assembled by hand from the ``operators.similarity``
pieces).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from tiki_data_pipeline_spark.operators import curation as CU
from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators import textstats as TS
from tiki_data_pipeline_spark.operators.graph import dedup_survivors
from tiki_data_pipeline_spark.sources.files import write_training_shards


def _n_rows():
    return F.count(F.lit(1)).alias("n")


def _observed(obs: Observation) -> int:
    """The observed ``n`` of an action that has run (a sum over no
    rows is NULL: 0)."""
    return obs.get["n"] or 0


class CorpusPipeline:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out = out_dir

    def _path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def _write(self, df: DataFrame, name: str) -> tuple[DataFrame, int]:
        """Write stage ``name``; returns the re-read stage and its row
        count, observed on the write itself."""
        rows = Observation()
        df.observe(rows, _n_rows()).write.mode("overwrite").parquet(self._path(name))
        return self.spark.read.parquet(self._path(name)), _observed(rows)

    def run(
        self,
        docs: DataFrame,
        benchmark_pred=None,
        min_quality_tokens: int = 5,
        near_dup_threshold: float = 0.9,
        sample_tenths: dict[str, int] | None = None,
        seq_len: int = 2048,
        n_shards: int = 8,
        line_dedup_min_df: int | None = None,
        source_cap: int | None = None,
        dsir_target_pred=None,
        dsir_take: int | None = None,
        dsir_hash: str = "xxhash64",
    ) -> dict:
        """``line_dedup_min_df`` inserts a corpus-level line-removal
        stage (C4/RefinedWeb line-wise filtering) between redaction
        and exact dedup — cutting shared boilerplate lines BEFORE
        fingerprinting is what lets exact/near dedup see the real
        content; docs whose text empties out are dropped.
        ``source_cap`` inserts a per-source frequency cap (md5
        lottery) after the repetition filter, before sampling.

        ``dsir_target_pred`` + ``dsir_take`` insert a DSIR
        importance-sampling stage (Xie et al. 2023) after rebalancing:
        Gumbel-top-k selection of ``dsir_take`` survivors whose
        hashed-n-gram distribution matches the target slice
        ``docs.filter(dsir_target_pred)``. The PIPELINE default is
        ``dsir_hash="xxhash64"`` — the production mode (pure JVM
        codegen, no md5 hex render/parse; measured 2.3× faster
        than md5 for 50k docs on 4 CPUs, see
        ``curation.dsir_log_weights``) — while the
        registry/oracle queries keep the cross-engine-checkable md5
        family; the two modes' weight distributions agree
        statistically (pinned by
        test_dsir_xxhash64_mode_distribution_parity).

        Every count in the report is read from the action that already
        saw it: each ``after_*`` and ``final_docs`` from an
        ``Observation`` on the stage's write, ``input_docs`` from one on
        the quality write below its filter, and ``lines_removed`` from
        one on the line-dedup write below its blank-text filter."""
        report: dict = {}

        # 1. quality: keep docs with enough real tokens
        seen = Observation()
        stats = TS.with_text_stats(docs.observe(seen, _n_rows()))
        quality = stats.filter(F.col("n_tokens") >= min_quality_tokens).select(
            "doc_id", "text", "lang"
        )
        quality, n_quality = self._write(quality, "quality")
        report["input_docs"] = _observed(seen)
        report["after_quality"] = n_quality

        # 2. PII redaction — from here on `text` is the redacted text
        redacted = quality.join(
            CU.redact_pii(quality, keep_text=True).select(
                "doc_id", "redacted_text"
            ),
            "doc_id",
        ).select("doc_id", F.col("redacted_text").alias("text"), "lang")
        redacted, _ = self._write(redacted, "redacted")

        # 2b. optional line-level boilerplate removal (corpus-wide df)
        if line_dedup_min_df is not None:
            cleaned = DD.remove_duplicate_lines(redacted, min_df=line_dedup_min_df)
            # observed above the join, below the blank-text filter: on
            # empty input the join side can be skipped, and a skipped
            # observation cannot be read
            removed = Observation()
            redacted = (
                redacted.select("doc_id", "lang")
                .join(
                    cleaned.select(
                        "doc_id", F.col("cleaned_text").alias("text"), "n_lines_removed"
                    ),
                    "doc_id",
                )
                .observe(removed, F.sum("n_lines_removed").alias("n"))
                .filter(F.trim(F.col("text")) != "")
                .select("doc_id", "text", "lang")
            )
            redacted, n_line_dedup = self._write(redacted, "line_dedup")
            report["lines_removed"] = _observed(removed)
            report["after_line_dedup"] = n_line_dedup

        # 3. exact dedup: keep each fingerprint's min-id survivor
        exact = DD.exact_dedup(redacted)
        survivors = redacted.join(
            exact.select(F.col("survivor_id").alias("doc_id")), "doc_id", "left_semi"
        )
        survivors, n_docs = self._write(survivors, "exact_dedup")
        report["after_exact_dedup"] = n_docs

        # 4. near dedup: LSH candidates → connected-component survivors
        pairs = DD.minhash_lsh_near_dups(survivors, threshold=near_dup_threshold)
        near = dedup_survivors(survivors, pairs.select("i", "j"))
        survivors = near.filter(F.col("survivor")).select("doc_id", "text", "lang")
        survivors, n_docs = self._write(survivors, "near_dedup")
        report["after_near_dedup"] = n_docs

        # 5. decontamination against the benchmark set (if any): drop
        # the benchmark members themselves (they are HELD OUT, never
        # training data) AND every corpus doc whose gram overlap with
        # them crosses the threshold
        if benchmark_pred is not None:
            sh = DD.shingles(docs)  # benchmark grams come from the RAW corpus
            cont = CU.contamination_stats(sh, benchmark_pred)
            survivors = survivors.filter(~benchmark_pred).join(
                cont.filter(F.col("is_contaminated") == 1).select("doc_id"),
                "doc_id",
                "left_anti",
            )
            survivors, n_docs = self._write(survivors, "decontaminated")
        report["after_decontamination"] = n_docs

        # 6. repetition filter
        rep = CU.repetition_stats(survivors)
        survivors = survivors.join(
            rep.filter(F.col("flag_repetitive") == 1).select("doc_id"),
            "doc_id",
            "left_anti",
        )
        survivors, n_docs = self._write(survivors, "repetition")
        report["after_repetition"] = n_docs

        # 6b. optional per-source frequency cap (source looked up from
        # the RAW input so stage schemas stay (doc_id, text, lang))
        if source_cap is not None and "source" in docs.columns:
            capped = CU.source_frequency_cap(
                survivors.join(
                    docs.select("doc_id", "source"), "doc_id", "left"
                ).withColumn("source", F.coalesce("source", F.lit(""))),
                cap=source_cap,
            )
            survivors = survivors.join(
                capped.filter(F.col("kept") == 1).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            survivors, n_docs = self._write(survivors, "source_capped")
            report["after_source_cap"] = n_docs

        # 7. deterministic per-language sampling (optional rebalance)
        if sample_tenths:
            survivors = CU.stratified_sample(survivors, sample_tenths)
            survivors, n_docs = self._write(survivors, "sampled")
        report["after_sampling"] = n_docs

        # 7b. optional DSIR importance sampling toward a target slice
        # (xxhash64 featurization by default — the production mode)
        if dsir_target_pred is not None and dsir_take:
            target = docs.filter(dsir_target_pred)
            picked = CU.dsir_sample(
                survivors, target, n=dsir_take, hash=dsir_hash
            )
            survivors = survivors.join(
                picked.select("doc_id"), "doc_id", "left_semi"
            )
            survivors, n_docs = self._write(survivors, "dsir_sampled")
            report["after_dsir"] = n_docs
            report["dsir_hash"] = dsir_hash

        # 8. pack into ordered training shards
        write_training_shards(
            survivors, self._path("shards"), seq_len=seq_len, n_shards=n_shards
        )
        report["shard_dir"] = self._path("shards")
        report["final_docs"] = n_docs
        return report

    def run_embeddings(
        self,
        vectors: DataFrame,
        threshold: float = 0.9,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        semantic_threshold: float | None = None,
    ) -> dict:
        """The embedding-store branch of the corpus pipeline — the
        vector counterpart of :meth:`run`, composing the staged
        family that previously had to be assembled by hand (r6/r7
        verdict ask): ingest → staged dedup status against the
        persisted LSH index → append of novel vectors → occupancy /
        drift check, with parquet stage boundaries and a report dict,
        mirroring the reference's single-DAG composition
        (airflow/dags/tiki_crawl_products_v2/main_dag.py:39-324).

        First call bootstraps the index from the batch (one min-id
        survivor per distinct vector — the store only ever holds
        canonical content); every later call is incremental: each
        vector is statused ``exact_dup`` / ``near_dup`` / ``unique`` /
        ``no_vector`` against the store (``lsh_index_dedup_status`` —
        exact-first staging, scale-safe probe defaults), the decisions
        land in the ``embedding_status`` stage parquet, and only the
        unique survivors are appended (the append skips stored ids, so
        the call is idempotent; a taken-down id waits for :meth:`maintain`
        to fold it). The report carries per-status counts plus the
        store's bucket-occupancy stats; a hot bucket count > 0
        recommends a rebuild before it becomes a serve bottleneck.

        The streaming twin of this composition is
        ``streaming.jobs.incremental_embedding_sink`` (same decide →
        append staging per micro-batch, plus the exactly-once
        decisions log).

        ``semantic_threshold`` adds a SemDeDup stage AFTER the
        near-dup fence: survivors that are neither exact nor near
        duplicates are statused against a persisted IVF index
        (``ivf_semantic_dedup_status`` — frozen quantizer, home-list
        compare), and only the semantically novel ones are appended
        to it. The two stores intentionally diverge: the LSH store is
        the dedup fence (holds every near-dup-unique vector), the IVF
        store is the semantically deduplicated corpus a training-data
        selection reads. The report gains per-status semantic counts
        and the quantizer's retrain recommendation.
        """
        from tiki_data_pipeline_spark.operators import similarity as SIM
        from tiki_data_pipeline_spark.sources.files import apply_tombstones

        report: dict = {"input_vectors": vectors.count()}
        index = self._path("lsh_index")
        if not os.path.isdir(index):
            survivors = (
                vectors.filter(F.col(vec_col).isNotNull())
                .groupBy(vec_col)
                .agg(F.min(id_col).alias(id_col))
                .select(id_col, vec_col)
            )
            SIM.write_lsh_index(
                survivors, index, id_col=id_col, vec_col=vec_col, n_planes="auto"
            )
            report["bootstrap"] = True
            report["appended"] = self.spark.read.parquet(index).count()
        else:
            status = SIM.lsh_index_dedup_status(
                self.spark,
                index,
                vectors,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
            )
            status, _ = self._write(status, "embedding_status")
            for row in status.groupBy("status").count().collect():
                report[row["status"]] = row["count"]
            uniq = vectors.join(
                status.filter(F.col("status") == "unique").select(id_col),
                id_col,
                "semi",
            )
            survivors = (
                uniq.groupBy(vec_col)
                .agg(F.min(id_col).alias(id_col))
                .select(id_col, vec_col)
            )
            # the append skips stored ids but refuses a taken-down one
            report["appended"] = SIM.append_lsh_index(
                apply_tombstones(survivors, index, id_col),
                index, id_col=id_col, vec_col=vec_col, n_planes=None,
            )
        report["index_dir"] = index
        stats = SIM.lsh_bucket_stats(self.spark, index)
        report["bucket_stats"] = stats
        if stats["hot_buckets"]:
            report["recommendation"] = (
                "hot buckets present: rebuild with n_planes='auto' or dedup "
                "the mega-cluster upstream before serve cost degrades"
            )
        if semantic_threshold is not None:
            report["semantic"] = self._run_semantic_stage(
                survivors, semantic_threshold, id_col, vec_col
            )
        return report

    def _run_semantic_stage(
        self,
        survivors: DataFrame,
        threshold: float,
        id_col: str,
        vec_col: str,
    ) -> dict:
        """SemDeDup stage over the near-dup-unique survivors: first
        call bootstraps the IVF index from them (auto-sized quantizer);
        later calls status each survivor against its home inverted
        list and append only the semantically novel ones; survivors
        already stored are not statused again, and the append skips
        stored ids, so the call is idempotent."""
        from tiki_data_pipeline_spark.operators import similarity as SIM

        out: dict = {}
        ivf = self._path("ivf_index")
        if not os.path.isdir(ivf):
            SIM.write_ivf_index(
                survivors,
                ivf,
                n_centroids="auto",
                id_col=id_col,
                vec_col=vec_col,
            )
            out["bootstrap"] = True
            out["appended"] = self.spark.read.parquet(ivf).count()
        else:
            stored = self.spark.read.parquet(ivf).select(
                F.col("id").alias(id_col)
            )
            fresh = survivors.join(stored, id_col, "anti")
            status = SIM.ivf_semantic_dedup_status(
                self.spark,
                ivf,
                fresh,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
            )
            status, _ = self._write(status, "semantic_status")
            for row in status.groupBy("status").count().collect():
                out[row["status"]] = row["count"]
            novel = fresh.join(
                status.filter(F.col("status") == "unique").select(id_col),
                id_col,
                "semi",
            )
            out["appended"] = SIM.append_ivf_index(
                self.spark, novel, ivf, id_col=id_col, vec_col=vec_col
            )
            rec = SIM.ivf_retrain_recommendation(
                self.spark, ivf, fresh, id_col=id_col, vec_col=vec_col
            )
            out["retrain"] = rec["retrain"]
        out["index_dir"] = ivf
        return out

    def maintain(
        self,
        store_path: str,
        snapshot_tag: str | None = None,
        keep_last: int = 2,
        keep_tags: tuple[str, ...] | bool = True,
    ) -> dict:
        """The pipeline's scheduled store-maintenance window
        (``files.store_maintenance``): snapshot the pre-maintenance
        state (the undo point; tag it to PIN it against rotation),
        fold pending deletions + compact, then expire history down to
        ``keep_last`` automatic snapshots — tagged snapshots survive
        by default. Hardlinked/referenced snapshots pin bytes until
        expired, so a pipeline that snapshots every window WITHOUT
        this rotation grows by one store-image per window; the report
        includes the bytes actually reclaimed. Run it between ingest
        epochs, same single-writer discipline as appends/takedowns."""
        from tiki_data_pipeline_spark.sources.files import store_maintenance

        return store_maintenance(
            self.spark,
            store_path,
            snapshot_tag=snapshot_tag,
            keep_last=keep_last,
            keep_tags=keep_tags,
        )
