"""Connected components vs a driver-side union-find ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators.graph import connected_components, dedup_survivors

SF = "/root/testdata/sf0.001"


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        ri, rj = find(i), find(j)
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark):
    chain = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21), (5, 4)]
    pairs = spark.createDataFrame(chain, "i bigint, j bigint")
    got = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    want = _union_find(chain)
    assert got == want
    # chain 1-2-3-4-5 all label 1
    assert got[5] == 1 and got[4] == 1
    assert got[12] == 10
    assert got[21] == 20


def test_connected_components_long_chain_converges(spark):
    """A diameter-12 path graph must resolve to ONE component — plain
    min-label propagation needs 12 rounds (more than the old cap of
    10); pointer jumping must get there well inside MAX_ITERATIONS."""
    chain = [(i, i + 1) for i in range(1, 13)]  # 1-2-...-13, diameter 12
    pairs = spark.createDataFrame(chain, "i bigint, j bigint")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1}
    assert len(got) == 13


def _components_and_jobs(spark, edges, group):
    """connected_components on ``edges`` → ({node: component}, number
    of Spark jobs the call and its collect submitted)."""
    pairs = spark.createDataFrame(edges, "i bigint, j bigint")
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs against union-find: disjoint cliques (the
    near-dup pair graph's usual shape), a star with duplicate,
    reversed and self pairs, and a 200-node chain that must converge
    inside MAX_ITERATIONS. On the cliques the state build already
    holds the fixpoint, so one round confirms it: a job ceiling of
    12."""
    import random

    rng = random.Random(20)
    ids = rng.sample(range(1, 100_000), 400)
    cliques, at = [], 0
    while at < 360:
        size = rng.randint(2, 8)
        members = ids[at:at + size]
        cliques += [(a, b) for x, a in enumerate(members) for b in members[x + 1:]]
        at += size
    got, jobs = _components_and_jobs(spark, cliques, "cc_cliques")
    assert got == _union_find(cliques)
    assert jobs <= 12, jobs

    hub, leaves = ids[360], ids[361:390]
    star = [(hub, leaf) for leaf in leaves]
    mixed = (
        star
        + rng.sample(star, 10)                        # duplicate pairs
        + [(b, a) for a, b in rng.sample(star, 10)]   # reversed pairs
        + [(leaves[0], leaves[0]), (ids[395], ids[395])]  # self pairs
        + [(ids[390], ids[391]), (ids[392], ids[391])]
    )
    rng.shuffle(mixed)
    got, _ = _components_and_jobs(spark, mixed, "cc_mixed")
    assert got == _union_find(mixed)
    assert got[ids[395]] == ids[395]

    chain = [(n, n + 1) for n in range(1, 200)]
    got, _ = _components_and_jobs(spark, chain, "cc_chain")
    assert got == _union_find(chain)
    assert set(got.values()) == {1} and len(got) == 200


def test_connected_components_raises_when_not_converged(spark):
    import pytest

    chain = [(i, i + 1) for i in range(1, 30)]
    pairs = spark.createDataFrame(chain, "i bigint, j bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_dedup_survivors_on_documents(spark):
    docs = load_table(spark, SF, "documents")
    pairs = DD.jaccard_pairs(DD.shingles(docs).localCheckpoint(), threshold=0.9)
    result = dedup_survivors(docs, pairs)
    n_docs = docs.count()
    survivors = result.filter(F.col("survivor")).count()
    n_pair_nodes = (
        pairs.select(F.col("i").alias("n"))
        .unionByName(pairs.select(F.col("j").alias("n")))
        .distinct()
        .count()
    )
    # every clustered group keeps exactly one: survivors = docs - nodes + components
    comps = connected_components(pairs).select("component").distinct().count()
    assert survivors == n_docs - n_pair_nodes + comps
    # survivors carry the min id of their cluster
    kept_ids = {r["doc_id"] for r in result.filter(F.col("survivor")).collect()}
    for r in pairs.collect():
        assert not (r["i"] in kept_ids and r["j"] in kept_ids)
    assert result.count() == n_docs
