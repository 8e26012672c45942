"""Tests: file sources (JSON envelope, jsonl, atomic parquet) and
multimodal plumbing (binary stats, fake decode, frame sampling)."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from tiki_data_pipeline_spark.operators import multimodal as MM
from tiki_data_pipeline_spark.sources import files as FS


def test_read_product_envelope(spark, tmp_path):
    payload = {
        "total_products": 2,
        "stats": {"success": "2"},
        "products": [
            {"product_id": "1", "name": "A", "price": 100},
            {"product_id": "2", "name": "B", "price": 200},
        ],
    }
    p = tmp_path / "products.json"
    p.write_text(json.dumps(payload))
    df = FS.read_product_envelope(
        spark, str(p), "product_id string, name string, price bigint"
    )
    rows = {r["product_id"]: r["price"] for r in df.collect()}
    assert rows == {"1": 100, "2": 200}


def test_read_jsonl_gzip(spark, tmp_path):
    p = tmp_path / "docs.jsonl.gz"
    with gzip.open(p, "wt") as f:
        for i in range(5):
            f.write(json.dumps({"id": i, "text": f"doc {i}"}) + "\n")
    df = FS.read_jsonl(spark, str(p), "id bigint, text string")
    assert df.count() == 5
    assert df.filter(F.col("id") == 3).collect()[0]["text"] == "doc 3"


def test_write_parquet_atomic_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "out.parquet")
    FS.write_parquet_atomic(df, out)
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert back.agg(F.sum("v")).collect()[0][0] == 9900
    # overwrite is atomic-by-commit: second write fully replaces
    FS.write_parquet_atomic(df.limit(10), out)
    assert spark.read.parquet(out).count() == 10


def test_write_partitioned_prunes(spark, tmp_path):
    df = spark.range(100).withColumn("part", (F.col("id") % 4).cast("int"))
    out = str(tmp_path / "partitioned")
    FS.write_partitioned(df, out, ["part"])
    assert os.path.isdir(os.path.join(out, "part=0"))
    pruned = spark.read.parquet(out).filter(F.col("part") == 1)
    assert pruned.count() == 25
    # partition filter must reach the scan (pruning, not post-filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "part=1" in plan


def test_write_sorted_ranges_are_disjoint(spark, tmp_path):
    from tiki_data_pipeline_spark.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    out = str(tmp_path / "sorted")
    FS.write_sorted(li, out, ["l_shipdate"], n_partitions=4)
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    # per-file min/max ranges must be disjoint (that's what enables
    # row-group skipping)
    ranges = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("l_shipdate").alias("mn"), F.max("l_shipdate").alias("mx"))
        .collect()
    )
    spans = sorted((r["mn"], r["mx"]) for r in ranges)
    for (_, prev_max), (next_min, _) in zip(spans, spans[1:]):
        assert prev_max <= next_min


def test_register_query_views(spark):
    from tiki_data_pipeline_spark.plans.views import register_query_views

    names = register_query_views(
        spark, "/root/testdata/sf0.001", ["vw_daily_sales", "topk_brands"]
    )
    assert names == ["vw_daily_sales", "topk_brands"]
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM vw_daily_sales WHERE revenue > 0"
    ).collect()[0]["n"]
    assert n > 0
    joined = spark.sql(
        "SELECT b.p_brand, d.revenue FROM topk_brands b "
        "CROSS JOIN (SELECT MAX(revenue) AS revenue FROM vw_daily_sales) d LIMIT 3"
    )
    assert joined.count() == 3


def test_compact_parquet(spark, tmp_path):
    out = str(tmp_path / "fragmented")
    # 16 fragments
    spark.range(1000).withColumn("v", F.col("id") * 3).repartition(16).write.parquet(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before >= 8
    FS.compact_parquet(spark, out, target_files=2)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after <= 2
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * 999 * 1000 // 2


def test_media_stats(spark):
    media = MM.synthetic_media(spark, n=12)
    stats = MM.with_media_stats(media)
    rows = stats.collect()
    assert len(rows) == 12
    for r in rows:
        assert r["n_bytes"] == len(r["content"])
        assert len(r["content_md5"]) == 32
        assert len(r["magic"]) == 8  # 4 bytes hex


def test_decode_image_fake(spark):
    media = MM.synthetic_media(spark, n=12)
    decoded = MM.decode_image(media, fake=True)
    rows = decoded.collect()
    assert {r["media_id"] for r in rows} == {
        r["media_id"] for r in media.filter(F.col("media_type") == "image").collect()
    }
    for r in rows:
        assert 0 <= r["mean_intensity"] <= 255


def test_decode_image_real_raises(spark):
    media = MM.synthetic_media(spark, n=6)
    with pytest.raises(Exception, match="NotImplementedError|imaging"):
        MM.decode_image(media, fake=False).collect()


def test_frame_sample(spark):
    media = MM.synthetic_media(spark, n=12)
    frames = MM.frame_sample(media, every_ms=1000)
    per_video = (
        frames.groupBy("media_id").count().collect()
    )
    videos = {r["media_id"]: r["duration_ms"] for r in media.filter(
        F.col("media_type") == "video").collect()}
    assert {r["media_id"] for r in per_video} == set(videos)
    for r in per_video:
        expected = (videos[r["media_id"]] - 1) // 1000 + 1
        assert r["count"] == expected


def test_resize_image_fixed_size_output(spark):
    media = MM.synthetic_media(spark, n=12)
    out = MM.resize_image(media, width=8, height=4).collect()
    images = media.filter("media_type = 'image'").count()
    assert len(out) == images
    for r in out:
        assert r["width"] == 8 and r["height"] == 4
        assert r["content"] is not None and len(r["content"]) == 32
    # deterministic: same input -> same bytes
    again = {r["media_id"]: bytes(r["content"])
             for r in MM.resize_image(media, width=8, height=4).collect()}
    assert {r["media_id"]: bytes(r["content"]) for r in out} == again


def test_audio_features_fake(spark):
    media = MM.synthetic_media(spark, n=12)
    out = {r["media_id"]: r for r in MM.audio_features(media).collect()}
    audios = [r["media_id"] for r in media.filter("media_type = 'audio'").collect()]
    assert sorted(out) == sorted(audios)
    for r in out.values():
        assert r["rms"] is not None and r["rms"] >= 0
        assert r["zero_crossings"] is not None and r["zero_crossings"] >= 0


def test_resize_and_audio_real_raise(spark):
    import pytest as _pytest

    media = MM.synthetic_media(spark, n=6)
    with _pytest.raises(Exception):
        MM.resize_image(media, fake=False).collect()
    with _pytest.raises(Exception):
        MM.audio_features(media, fake=False).collect()


def test_media_embeddings_feed_similarity_stack(spark):
    """Multimodal → similarity composition: the featurizer's output
    shape drops straight into the ANN operators."""
    from tiki_data_pipeline_spark.operators import similarity as SIM
    from tiki_data_pipeline_spark.operators.multimodal import (
        media_embeddings,
        synthetic_media,
    )

    media = synthetic_media(spark, n=48)
    emb = media_embeddings(media)
    rows = emb.collect()
    assert len(rows) == 48
    assert all(len(r["embedding"]) == 64 for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["embedding"] for r in media_embeddings(media).collect()}
    assert {r["media_id"]: r["embedding"] for r in rows} == again
    # composes with the ANN stack unchanged
    topk = SIM.brute_force_topk(
        emb, query_ids=[0, 1], k=3, id_col="media_id", vec_col="embedding"
    ).collect()
    assert len(topk) == 6
    assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in topk)


def test_write_training_shards_ordered_layout(spark, tmp_path):
    """One file per shard, rows inside each file in packing order
    (seq_id, tok_offset ascending), nothing lost."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from tiki_data_pipeline_spark.io import load_table
    from tiki_data_pipeline_spark.sources.files import write_training_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, seq_len=512, n_shards=4)

    shard_dirs = sorted(Path(path).glob("shard=*"))
    assert len(shard_dirs) == 4
    for d in shard_dirs:
        files = list(d.glob("part-*.parquet"))
        assert len(files) == 1, f"{d.name}: {len(files)} files"
        rows = spark.read.parquet(str(files[0])).collect()
        order = [(r["seq_id"], r["tok_offset"]) for r in rows]
        assert order == sorted(order), f"{d.name} not in packing order"
    total = spark.read.parquet(path).count()
    assert total == docs.count()


def test_compact_parquet_recovers_from_stale_old_dir(spark, tmp_path):
    """A crash-leftover '.old' directory must not corrupt the next
    compaction (stale-old discarded when path is live; restored as
    live when the swap died between renames)."""
    import shutil
    from pathlib import Path

    from tiki_data_pipeline_spark.sources.files import compact_parquet

    path = str(tmp_path / "ds")
    spark.range(100).write.parquet(path)
    # simulate crash-after-swap: stale .old from a previous run
    shutil.copytree(path, path + ".old")
    compact_parquet(spark, path, target_files=1)
    assert spark.read.parquet(path).count() == 100
    assert not Path(path + ".old").exists()

    # simulate crash-between-renames: only .old exists
    shutil.move(path, path + ".old")
    compact_parquet(spark, path, target_files=1)
    assert spark.read.parquet(path).count() == 100
    assert not Path(path + ".old").exists()


def test_training_shard_manifest_roundtrip_and_tamper(spark, tmp_path):
    """Export records a per-shard manifest; verification passes on the
    untouched export and fails loudly after a shard file is lost."""
    import shutil
    from pathlib import Path

    import pytest

    from tiki_data_pipeline_spark.io import load_table
    from tiki_data_pipeline_spark.sources.files import (
        verify_training_shards,
        write_training_shards,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    path = str(tmp_path / "shards")
    write_training_shards(spark.createDataFrame(docs.collect()), path, n_shards=4)
    verify_training_shards(spark, path)  # untouched export: OK

    victim = next(Path(path).glob("shard=*/part-*.parquet"))
    victim.unlink()
    with pytest.raises(ValueError, match="diverge"):
        verify_training_shards(spark, path)


def test_training_shards_empty_export(spark, tmp_path):
    """An export that packs no document records an empty manifest and
    verifies, instead of failing to infer a schema from no files."""
    import json

    from tiki_data_pipeline_spark.sources.files import (
        verify_training_shards,
        write_training_shards,
    )

    path = str(tmp_path / "shards")
    write_training_shards(
        spark.createDataFrame([], "doc_id long, text string"), path, n_shards=4
    )
    with open(path + "/_meta.json") as f:
        assert json.load(f) == {
            "kind": "training_shards", "shards": {}, "total": 0
        }
    verify_training_shards(spark, path)
