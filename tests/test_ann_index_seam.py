"""The persisted ANN index families (LSH, IVF, PQ, IVF-PQ) share one
append body and one query admission. These tests pin the contract
every family gets from them: appends are idempotent and keep the
meta row count exact, and a serve admits only queries with a defined
cosine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import similarity as SIM
from tiki_data_pipeline_spark.sources.files import (
    delete_from_store,
    read_store_meta,
    store_data,
)

QIDS = [3, 11, 42, 77, 123]
KINDS = ["lsh", "ivf", "pq", "ivfpq"]


def _write(kind, emb, path):
    if kind == "lsh":
        SIM.write_lsh_index(emb, path)
    elif kind == "ivf":
        SIM.write_ivf_index(emb, path)
    elif kind == "pq":
        SIM.write_pq_index(emb, path)
    else:
        SIM.write_ivfpq_index(emb, path, calibrate=False)


def _append(spark, kind, delta, path):
    if kind == "lsh":
        return SIM.append_lsh_index(delta, path)
    fn = {
        "ivf": SIM.append_ivf_index,
        "pq": SIM.append_pq_index,
        "ivfpq": SIM.append_ivfpq_index,
    }[kind]
    return fn(spark, delta, path)


def _topk(spark, kind, path, queries):
    if kind == "lsh":
        df = SIM.lsh_index_topk(spark, path, queries, k=5)
    elif kind == "ivf":
        df = SIM.ivf_index_topk(spark, path, queries, k=5, nprobe=4)
    elif kind == "pq":
        df = SIM.pq_index_topk(spark, path, queries, k=5)
    else:
        df = SIM.ivfpq_index_topk(spark, path, queries, k=5, nprobe=4)
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module", params=KINDS)
def store(request, spark, sf_dir, tmp_path_factory):
    """One index per kind, built on the even ids with the odd ids
    appended. The idempotency test appends to it; the admission test
    only reads it, so it holds either way."""
    kind = request.param
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path_factory.mktemp(kind) / "index")
    _write(kind, emb.filter(F.col("vec_id") % 2 == 0), path)
    _append(spark, kind, emb.filter(F.col("vec_id") % 2 == 1), path)
    return kind, emb, path


def _one(spark, vec_id, vec):
    return spark.createDataFrame(
        [(vec_id, list(vec))], "vec_id long, embedding array<double>"
    )


def test_append_is_idempotent(spark, store):
    """Re-send the whole corpus plus a delta repeating one id: the
    store keeps one row per id, meta ``n_rows`` equals the row count,
    and the served top-k does not move. A new id sent twice in one
    delta is added once, also with two different vectors, and its
    whole row is built from one of them. A tombstoned id is refused
    until the fold, stored or not."""
    kind, emb, path = store
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    before = _topk(spark, kind, path, queries)

    resent = emb.unionByName(emb.filter(F.col("vec_id") == QIDS[0]))
    added = _append(spark, kind, resent, path)

    def _counts():
        ids = store_data(spark, path).select("id")
        return ids.count(), ids.distinct().count(), read_store_meta(path)["n_rows"]

    n = emb.count()
    assert _counts() == (n, n, n)
    assert added == 0
    assert _topk(spark, kind, path, queries) == before

    twin = emb.filter(F.col("vec_id") == QIDS[0]).select(
        F.lit(10**6).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    assert _append(spark, kind, twin.unionByName(twin), path) == 1
    assert _counts() == (n + 1, n + 1, n + 1)
    if kind == "lsh":
        distinct_vectors = store_data(spark, path).select(F.xxhash64("v")).distinct()
        assert read_store_meta(path)["n_distinct_vectors"] == distinct_vectors.count()

    # one id, two vectors: its row is the row either vector gets on its
    # own (partition key, codes and norm all from the same vector)
    vecs = {r[0]: r[1] for r in queries.collect()}
    pair = _one(spark, 10**6 + 1, vecs[QIDS[1]]).unionByName(
        _one(spark, 10**6 + 1, vecs[QIDS[2]])
    )
    assert _append(spark, kind, pair, path) == 1
    singles = _one(spark, 10**6 + 2, vecs[QIDS[1]]).unionByName(
        _one(spark, 10**6 + 3, vecs[QIDS[2]])
    )
    assert _append(spark, kind, singles, path) == 2
    rows = {
        r["id"]: {**r.asDict(), "id": None}
        for r in store_data(spark, path).filter(F.col("id") > 10**6).collect()
    }
    assert rows[10**6 + 1] in (rows[10**6 + 2], rows[10**6 + 3])
    assert _counts() == (n + 4, n + 4, n + 4)

    # a taken-down id is refused until the fold, stored or not
    victim = spark.createDataFrame([(QIDS[3],), (10**7,)], "id long")
    delete_from_store(spark, path, victim)
    for delta in (emb, _one(spark, 10**7, vecs[QIDS[4]])):
        with pytest.raises(ValueError, match="tombstoned"):
            _append(spark, kind, delta, path)
    assert _counts() == (n + 4, n + 4, n + 4)


def test_serve_admits_only_scoreable_queries(spark, store):
    """A NULL vector, a vector with one NULL element and a zero vector
    have no defined cosine: none of them may appear in a serve's
    output, beside a normal query or alone."""
    kind, emb, path = store
    good = emb.filter(F.col("vec_id") == QIDS[0]).first()["embedding"]
    bad = [
        (900_001, None),
        (900_002, [None] + list(good[1:])),
        (900_003, [0.0] * len(good)),
    ]
    schema = "vec_id long, embedding array<float>"
    mixed = spark.createDataFrame([(QIDS[0], list(good))] + bad, schema)
    got = _topk(spark, kind, path, mixed)
    assert got and {r[0] for r in got} == {QIDS[0]}
    assert all(r[2] is not None for r in got)
    assert _topk(spark, kind, path, spark.createDataFrame(bad, schema)) == []
