"""End-to-end corpus pipeline: monotone stage funnel, restartable
artifacts, and the dedup/decontamination semantics composed correctly."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.corpus_pipeline import CorpusPipeline
from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import dedup as DD

SF = "/root/testdata/sf0.001"


def _assert_counts_match_stages(spark, report, out_dir, stages):
    """Each ``report[key]`` (observed on the stage write) equals a
    fresh count of the stage parquet it names."""
    for key, stage in stages.items():
        assert report[key] == spark.read.parquet(str(out_dir / stage)).count(), key


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    pipe = CorpusPipeline(spark, str(tmp_path))
    report = pipe.run(
        docs,
        benchmark_pred=F.col("doc_id") % 20 == 0,
        near_dup_threshold=0.9,
        seq_len=512,
        n_shards=4,
    )

    # monotone funnel: every stage only removes documents
    order = [
        "input_docs",
        "after_quality",
        "after_exact_dedup",
        "after_near_dedup",
        "after_decontamination",
        "after_repetition",
        "after_sampling",
        "final_docs",
    ]
    vals = [report[k] for k in order]
    assert vals == sorted(vals, reverse=True), report
    assert report["final_docs"] > 0

    # every stage left a restartable parquet artifact
    for stage in ["quality", "redacted", "exact_dedup", "near_dedup",
                  "decontaminated", "repetition"]:
        assert (tmp_path / stage).exists(), stage

    # shards exist, one file per shard, rows = final_docs
    shard_dirs = sorted(Path(report["shard_dir"]).glob("shard=*"))
    assert len(shard_dirs) == 4
    total = spark.read.parquet(report["shard_dir"]).count()
    assert total == report["final_docs"]

    # the benchmark set is HELD OUT: no member reaches the output
    out_ids = {
        r["doc_id"] for r in spark.read.parquet(report["shard_dir"]).collect()
    }
    assert all(i % 20 != 0 for i in out_ids)
    assert report["after_decontamination"] <= report["after_near_dedup"]

    # the counts are observed on the writes: they equal re-reads
    assert report["input_docs"] == docs.count()
    _assert_counts_match_stages(spark, report, tmp_path, {
        "after_quality": "quality",
        "after_exact_dedup": "exact_dedup",
        "after_near_dedup": "near_dedup",
        "after_decontamination": "decontaminated",
        "after_repetition": "repetition",
        "after_sampling": "repetition",
    })


def test_corpus_pipeline_embedding_branch(spark, tmp_path):
    """Embedding-store branch e2e (r8): bootstrap builds a canonical
    index (one min-id survivor per distinct vector), the incremental
    call statuses exact/near/unique/no_vector correctly, appends only
    novel vectors (idempotent on re-run), and the report carries
    occupancy stats + a hot-bucket recommendation only when hot
    buckets exist."""
    base = [float((i * 7) % 13 - 6) for i in range(8)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    other = [float(-(i * 5) % 11 - 5) for i in range(8)]
    pipe = CorpusPipeline(spark, str(tmp_path))

    boot = pipe.run_embeddings(
        spark.createDataFrame(
            [(0, base), (1, base), (2, other)],
            "vec_id long, embedding array<float>",
        )
    )
    assert boot["bootstrap"] is True
    assert boot["appended"] == 2  # 0/1 collapse to min-id survivor 0
    assert boot["bucket_stats"]["rows"] == 2
    assert "recommendation" not in boot

    inc = pipe.run_embeddings(
        spark.createDataFrame(
            [
                (10, base),             # exact dup of stored 0
                (11, near),             # near dup of stored 0
                (12, [9.0, -7.0] * 4),  # novel
                (13, None),             # no vector
            ],
            "vec_id long, embedding array<float>",
        ),
        threshold=0.99,
    )
    assert inc["exact_dup"] == 1
    assert inc["near_dup"] == 1
    assert inc["unique"] == 1
    assert inc["no_vector"] == 1
    assert inc["appended"] == 1
    assert inc["bucket_stats"]["rows"] == 3

    status = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in spark.read.parquet(str(tmp_path / "embedding_status")).collect()
    }
    assert status[10] == ("exact_dup", 0)
    assert status[11] == ("near_dup", 0)
    assert status[13] == ("no_vector", None)

    # idempotent re-run of the same batch: nothing appended — 10 is
    # still an exact dup of 0; 12 meets only ITSELF in the store
    # (self-matches are excluded by id, so it statuses unique) and the
    # stored-id anti-join keeps it out of the append
    again = pipe.run_embeddings(
        spark.createDataFrame(
            [(10, base), (12, [9.0, -7.0] * 4), (13, None)],
            "vec_id long, embedding array<float>",
        ),
        threshold=0.99,
    )
    assert again["appended"] == 0
    assert again["exact_dup"] == 1
    assert again["unique"] == 1
    assert again["no_vector"] == 1
    assert again["bucket_stats"]["rows"] == 3


def test_corpus_pipeline_rerun_between_takedown_and_maintain(spark, tmp_path):
    """A re-run of the same batch after a takedown, before maintain()
    folds it, appends nothing: the deleted id is still stored, and the
    index append skips stored ids. After the fold the id is gone and a
    re-run ingests it again (delete, fold, re-ingest)."""
    from tiki_data_pipeline_spark.sources.files import delete_from_store, store_data

    base = [float((i * 7) % 13 - 6) for i in range(8)]
    batch = spark.createDataFrame(
        [(0, base), (2, [9.0, -7.0] * 4)], "vec_id long, embedding array<float>"
    )
    pipe = CorpusPipeline(spark, str(tmp_path))
    index = pipe.run_embeddings(batch)["index_dir"]
    delete_from_store(spark, index, spark.createDataFrame([(2,)], "id long"))

    again = pipe.run_embeddings(batch, threshold=0.99)
    assert again["unique"] == 2  # each meets only itself in the store
    assert again["appended"] == 0
    assert store_data(spark, index).count() == 2

    assert pipe.maintain(index)["folded"] == 1
    after = pipe.run_embeddings(batch, threshold=0.99)
    assert after["appended"] == 1
    assert store_data(spark, index).count() == 2


def test_corpus_pipeline_semantic_stage(spark, tmp_path):
    """SemDeDup stage composed after the near-dup fence: a vector
    that PASSES the LSH fence (cos < 0.99 to everything stored) but
    is semantically redundant (cos >= 0.8 to a stored cluster-mate)
    is appended to the LSH store yet kept OUT of the IVF store — the
    two stores intentionally diverge (fence vs curated corpus)."""
    base = [1.0, 0.0, 0.0, 0.0]
    orth = [0.0, 1.0, 0.0, 0.0]
    semi = [0.9, 0.4, 0.0, 0.0]  # cos to base ≈ 0.914: fence-unique, semantically dup
    novel = [0.0, 0.0, 1.0, 0.0]
    pipe = CorpusPipeline(spark, str(tmp_path))

    boot = pipe.run_embeddings(
        spark.createDataFrame(
            [(0, base), (2, orth)], "vec_id long, embedding array<double>"
        ),
        threshold=0.99,
        semantic_threshold=0.8,
    )
    assert boot["semantic"]["bootstrap"] is True
    assert boot["semantic"]["appended"] == 2

    inc = pipe.run_embeddings(
        spark.createDataFrame(
            [(10, semi), (12, novel)], "vec_id long, embedding array<double>"
        ),
        threshold=0.99,
        semantic_threshold=0.8,
    )
    assert inc["unique"] == 2 and inc["appended"] == 2  # both pass the fence
    sem = inc["semantic"]
    assert sem["semantic_dup"] == 1 and sem["unique"] == 1
    assert sem["appended"] == 1
    assert isinstance(sem["retrain"], bool)

    status = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in spark.read.parquet(str(tmp_path / "semantic_status")).collect()
    }
    assert status[10] == ("semantic_dup", 0)
    assert status[12] == ("unique", None)

    lsh_ids = {
        r["id"] for r in spark.read.parquet(str(tmp_path / "lsh_index")).collect()
    }
    ivf_ids = {
        r["id"] for r in spark.read.parquet(str(tmp_path / "ivf_index")).collect()
    }
    assert lsh_ids == {0, 2, 10, 12}
    assert ivf_ids == {0, 2, 12}

    # idempotent re-run: everything already stored or redundant
    again = pipe.run_embeddings(
        spark.createDataFrame(
            [(10, semi), (12, novel)], "vec_id long, embedding array<double>"
        ),
        threshold=0.99,
        semantic_threshold=0.8,
    )
    assert again["semantic"]["appended"] == 0
    assert {
        r["id"] for r in spark.read.parquet(str(tmp_path / "ivf_index")).collect()
    } == {0, 2, 12}


def test_corpus_pipeline_line_dedup_and_source_cap(spark, tmp_path):
    """The optional stages compose: boilerplate lines injected into
    every src0 doc are removed corpus-wide (so exact dedup then sees
    the real bodies), and the per-source cap bounds each source's
    survivor count. The funnel stays monotone and the stage parquets
    exist."""
    docs = load_table(spark, SF, "documents").limit(120)
    # plant a shared footer line on one source's docs
    boiler = "subscribe footer line shared by every src0 document"
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("source") == "src0",
            F.concat(F.col("text"), F.lit("\n" + boiler)),
        ).otherwise(F.col("text")),
    )
    pipe = CorpusPipeline(spark, str(tmp_path))
    report = pipe.run(
        docs,
        seq_len=512,
        n_shards=2,
        line_dedup_min_df=2,
        source_cap=3,
    )
    assert report["lines_removed"] > 0
    assert report["after_line_dedup"] <= report["input_docs"]
    assert (tmp_path / "line_dedup").exists()
    assert (tmp_path / "source_capped").exists()
    # no surviving text carries the boilerplate line
    survived = spark.read.parquet(str(tmp_path / "source_capped"))
    assert survived.filter(F.col("text").contains(boiler)).count() == 0
    # cap actually binds: every source has at most 3 survivors
    src = survived.join(docs.select("doc_id", "source"), "doc_id")
    assert src.groupBy("source").count().agg(F.max("count")).collect()[0][0] <= 3
    assert report["after_source_cap"] <= report["after_repetition"]
    assert report["final_docs"] > 0

    # the counts are observed on the writes: they equal re-reads, and
    # lines_removed equals an independent line-dedup of the redacted
    # stage (blank-text docs included)
    assert report["input_docs"] == docs.count()
    _assert_counts_match_stages(spark, report, tmp_path, {
        "after_quality": "quality",
        "after_line_dedup": "line_dedup",
        "after_exact_dedup": "exact_dedup",
        "after_near_dedup": "near_dedup",
        "after_repetition": "repetition",
        "after_source_cap": "source_capped",
        "final_docs": "source_capped",
    })
    redacted = spark.read.parquet(str(tmp_path / "redacted"))
    assert report["lines_removed"] == (
        DD.remove_duplicate_lines(redacted, min_df=2)
        .agg(F.sum("n_lines_removed"))
        .collect()[0][0]
    )


def test_corpus_pipeline_dsir_stage_defaults_to_xxhash64(spark, tmp_path):
    """The pipeline's DSIR stage runs in the production hash mode by
    default (xxhash64 featurization — the 5.7x-cheaper path; registry
    oracle queries keep md5): exactly dsir_take survivors ship, all
    drawn from the pre-DSIR survivor set, and the report records the
    mode. Selection quality itself is pinned by the md5-vs-xxhash64
    distribution-parity test in test_curation."""
    docs = load_table(spark, SF, "documents")
    pipe = CorpusPipeline(spark, str(tmp_path))
    report = pipe.run(
        docs,
        dsir_target_pred=F.col("doc_id") % 7 == 0,
        dsir_take=20,
        seq_len=512,
        n_shards=2,
    )
    assert report["dsir_hash"] == "xxhash64"
    assert report["after_dsir"] == 20
    assert report["final_docs"] == 20
    assert (tmp_path / "dsir_sampled").exists()
    picked = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "dsir_sampled")).collect()
    }
    pre = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "repetition")).collect()
    }
    assert picked <= pre and len(picked) == 20


def test_corpus_pipeline_maintain_window(spark, tmp_path):
    """The pipeline-level maintenance hook: after an embedding-store
    build + a takedown, one maintain() call snapshots (tagged = pinned
    against rotation), folds the deletion physically, and rotates old
    automatic snapshots — the schedule a deployed pipeline runs
    between ingest epochs."""
    from tiki_data_pipeline_spark.sources.files import (
        delete_from_store,
        list_store_versions,
        snapshot_store,
        store_data,
    )

    emb = load_table(spark, SF, "embeddings")
    pipe = CorpusPipeline(spark, str(tmp_path))
    rep = pipe.run_embeddings(emb, threshold=0.99)
    index = rep["index_dir"]
    snapshot_store(index)  # an old automatic snapshot to rotate out
    victims = store_data(spark, index).select("id").limit(5)
    delete_from_store(spark, index, victims)
    out = pipe.maintain(index, snapshot_tag="pre-takedown-window")
    assert out["folded"] == 5  # the takedown folded in-window
    versions = list_store_versions(index)
    tags = {m["version"]: m.get("tag") for m in versions}
    assert "pre-takedown-window" in tags.values()
    assert len(versions) == 2  # pinned tag + newest; v1 rotated out
    # the takedown is physically folded: live rows shrank by 5
    from tiki_data_pipeline_spark.sources.files import store_tombstones

    assert store_tombstones(spark, index) is None
