"""Parameter-space fuzz for the LSH / MinHash machinery (r5 verdict
ask #6). Round 5 found a silent probe-radius cap at exactly the
default boundary (probe_masks stopped at radius 2 no matter what was
requested), so the defaults-only parity tests proved nothing about
the rest of the grid. These tests sweep it:

- LSH radius-parity theorem (similarity.py lsh_index_near_dups
  docstring): query-side-only replication at radius 2R yields exactly
  the candidate set of both-sides replication at radius R — a pair
  meets iff Hamming(bucket_a, bucket_b) ≤ 2R. Checked engine-vs-
  engine for n_planes ∈ {8, 16, 24} × R ∈ {1, 2, 3}; on the same
  grid, independently of the engine's bucketing, the in-session pairs
  equal the exact pairs whose oracle-computed codes differ in ≤ 2R
  bits; plus reported-pairs ⊆ exact-pairs with agreeing cosines (an
  LSH path may MISS pairs — never invent or mis-score one).
- MinHash band math: for (k, bands) grids, the persisted-store
  candidate set and est_jaccard must equal a pure-Python
  re-derivation of the band scheme from the signatures, and the
  in-session verified pipeline must return a value-exact subset of
  the exact Jaccard pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# LSH radius parity across the (n_planes, R) grid
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n_planes", [8, 16, 24])
@pytest.mark.parametrize("radius", [1, 2, 3])
def test_lsh_query_side_2r_equals_both_sides_r(spark, tmp_path, n_planes, radius):
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / f"idx_{n_planes}_{radius}")
    SIM.write_lsh_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_planes=n_planes
    )
    batch = emb.filter(F.col("vec_id") % 2 == 1)

    got = {
        (r["new_id"], r["old_id"]): r["cosine_sim"]
        for r in SIM.lsh_index_near_dups(
            spark,
            path,
            batch,
            threshold=0.45,
            emit_radius=2 * radius,
            n_planes=n_planes,
        ).collect()
    }

    both = SIM.near_dup_pairs(
        emb,
        threshold=0.45,
        blocking="lsh",
        n_planes=n_planes,
        emit_radius=radius,
    )
    want = {}
    for r in both.collect():
        i, j = r["i"], r["j"]
        if (i % 2) != (j % 2):  # cross-split pairs only
            new, old = (i, j) if i % 2 == 1 else (j, i)
            want[(new, old)] = r["cosine_sim"]

    assert set(got) == set(want), (
        f"radius-parity broken at n_planes={n_planes} R={radius}: "
        f"only-index={sorted(set(got) - set(want))[:5]} "
        f"only-session={sorted(set(want) - set(got))[:5]}"
    )
    for key in got:
        assert abs(got[key] - want[key]) < 1e-4, key


@pytest.fixture(scope="module")
def exact_pairs_and_vectors(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["i"], r["j"]): r["cosine_sim"]
        for r in SIM.near_dup_pairs(emb, threshold=0.45, blocking="exact").collect()
    }
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    return emb, exact, vecs


def _oracle_codes(vecs, n_planes):
    """Bucket codes by the DuckDB oracle's recipe: a sequential fold
    over per-element md5 plane weights, sign bit per plane."""
    dim = len(next(iter(vecs.values())))
    w = [
        [SIM._plane_weight(p, i) for i in range(1, dim + 1)]
        for p in range(n_planes)
    ]
    codes = {}
    for vid, v in vecs.items():
        code = 0
        for p in range(n_planes):
            acc = 0.0
            for x, wi in zip(v, w[p]):
                acc += x * wi
            if acc > 0:
                code |= 1 << p
        codes[vid] = code
    return codes


@pytest.mark.parametrize("n_planes", [8, 16, 24])
@pytest.mark.parametrize("radius", [1, 2, 3])
def test_lsh_pairs_equal_exact_within_2r_hamming(
    spark, exact_pairs_and_vectors, n_planes, radius
):
    """Independent of every LSH code path: blocking="lsh" at radius R
    returns exactly the exact-join pairs whose bucket codes differ in
    at most 2R bits, with the exact join's cosines."""
    emb, exact, vecs = exact_pairs_and_vectors
    codes = _oracle_codes(vecs, n_planes)
    want = {
        (i, j): c
        for (i, j), c in exact.items()
        if (codes[i] ^ codes[j]).bit_count() <= 2 * radius
    }
    got = {
        (r["i"], r["j"]): r["cosine_sim"]
        for r in SIM.near_dup_pairs(
            emb,
            threshold=0.45,
            blocking="lsh",
            n_planes=n_planes,
            emit_radius=radius,
        ).collect()
    }
    assert set(got) == set(want), (
        f"n_planes={n_planes} R={radius}: "
        f"only-lsh={sorted(set(got) - set(want))[:5]} "
        f"only-exact={sorted(set(want) - set(got))[:5]}"
    )
    for key in got:
        assert abs(got[key] - want[key]) < 1e-4, key


def test_lsh_pairs_are_subset_of_exact_across_grid(spark):
    """LSH may miss pairs (recall < 1) but must never invent or
    mis-score one, at any grid point."""
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["i"], r["j"]): r["cosine_sim"]
        for r in SIM.near_dup_pairs(emb, threshold=0.45, blocking="exact").collect()
    }
    assert exact, "fixture has no near-dup pairs at 0.45"
    for n_planes, radius in [(8, 1), (16, 3), (24, 2)]:
        lsh = {
            (r["i"], r["j"]): r["cosine_sim"]
            for r in SIM.near_dup_pairs(
                emb,
                threshold=0.45,
                blocking="lsh",
                n_planes=n_planes,
                emit_radius=radius,
            ).collect()
        }
        bogus = set(lsh) - set(exact)
        assert not bogus, f"invented pairs at ({n_planes},{radius}): {sorted(bogus)[:5]}"
        for key in lsh:
            assert abs(lsh[key] - exact[key]) < 1e-4, (n_planes, radius, key)


# ---------------------------------------------------------------------------
# MinHash band math across the (k, bands) grid
# ---------------------------------------------------------------------------


def _python_band_oracle(sig_rows, k, bands, threshold):
    """Pure-Python re-derivation of the banding scheme: candidates =
    pairs sharing ≥1 band of r=k/bands consecutive minhash values;
    est_jaccard = fraction of agreeing positions."""
    r = k // bands
    sigs = {row["doc_id"]: [row[f"mh{i}"] for i in range(k)] for row in sig_rows}
    buckets: dict = {}
    for doc, sig in sigs.items():
        for band in range(bands):
            key = (band, tuple(sig[band * r : (band + 1) * r]))
            buckets.setdefault(key, []).append(doc)
    cands = set()
    for docs in buckets.values():
        docs = sorted(docs)
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                cands.add((docs[a], docs[b]))
    out = {}
    for i, j in cands:
        est = sum(x == y for x, y in zip(sigs[i], sigs[j])) / k
        if est >= threshold:
            out[(i, j)] = round(est, 4)
    return out


@pytest.mark.parametrize("k,bands", [(16, 4), (16, 8), (8, 4), (24, 6)])
def test_minhash_store_candidates_match_python_band_oracle(
    spark, tmp_path, k, bands
):
    docs = load_table(spark, SF, "documents")
    store = str(tmp_path / f"store_{k}_{bands}")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    DD.write_minhash_index(even, store, k=k, bands=bands)

    got = {
        (r["new_id"], r["old_id"]): r["est_jaccard"]
        for r in DD.minhash_index_near_dups(
            spark, store, odd, threshold=0.25, k=k, bands=bands
        ).collect()
    }

    sig_rows = [
        r.asDict()
        for r in DD.minhash_signatures(DD.shingles(docs), k=k).collect()
    ]
    oracle = _python_band_oracle(sig_rows, k, bands, threshold=0.25)
    want = {
        (n, o): est
        for (a, b), est in oracle.items()
        for (n, o) in [(a, b), (b, a)]
        if n % 2 == 1 and o % 2 == 0  # batch(new)=odd vs store(old)=even
    }
    assert set(got) == set(want), (
        f"band candidates diverge at k={k} bands={bands}: "
        f"only-engine={sorted(set(got) - set(want))[:5]} "
        f"only-oracle={sorted(set(want) - set(got))[:5]}"
    )
    for key in got:
        assert abs(got[key] - want[key]) < 1e-6, key
    assert got, f"no candidates at k={k} bands={bands} — fixture too weak"


@pytest.mark.parametrize("k,bands", [(16, 8), (8, 2)])
def test_minhash_verified_pipeline_subset_of_exact(spark, k, bands):
    """minhash_lsh_near_dups verifies candidates with exact Jaccard:
    its output must be a value-exact subset of jaccard_pairs at every
    (k, bands), and must include every identical-signature pair."""
    docs = load_table(spark, SF, "documents")
    sh = DD.shingles(docs).localCheckpoint()
    exact = {
        (r["i"], r["j"]): r["jaccard"]
        for r in DD.jaccard_pairs(sh, threshold=0.5).collect()
    }
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in DD.minhash_lsh_near_dups(
            docs, threshold=0.5, k=k, bands=bands, sh=sh
        ).collect()
    }
    bogus = set(got) - set(exact)
    assert not bogus, f"invented pairs at ({k},{bands}): {sorted(bogus)[:5]}"
    for key in got:
        assert got[key] == exact[key], key
    # identical texts agree on every minhash → collide in every band
    assert {p for p, v in exact.items() if v == 1.0} <= set(got)
    assert got, "no verified pairs on the fixture"


def test_probe_masks_full_radius_no_silent_cap():
    """The r5 bug class: probe_masks must honor ANY requested radius
    (binomial-sum cardinality), not silently cap."""
    from math import comb

    for n_planes in (8, 16):
        for radius in range(0, 5):
            masks = SIM.probe_masks(n_planes, radius)
            want = sum(comb(n_planes, r) for r in range(radius + 1))
            assert len(masks) == want, (n_planes, radius)
            assert len(set(masks)) == len(masks)
            assert all(bin(m).count("1") <= radius for m in masks)


# ---------------------------------------------------------------------------
# Store-meta plane resolution + auto plane scaling
# ---------------------------------------------------------------------------


def test_auto_n_planes_scales_with_corpus():
    from math import log2

    assert SIM.auto_n_planes(0) == SIM.N_PLANES
    assert SIM.auto_n_planes(10_000) == SIM.N_PLANES  # small stays at floor
    assert SIM.auto_n_planes(200_000) == 10           # ~200/bucket
    assert SIM.auto_n_planes(2_000_000) == 14
    assert SIM.auto_n_planes(10**12) == 24            # hard cap
    # mean occupancy stays within [100, 400] over the growth range
    for n in (10**6, 10**7, 10**8, 10**9):
        planes = SIM.auto_n_planes(n)
        occ = n / 2**planes
        assert 100 <= occ <= 400 or planes == 24, (n, planes, occ)


def test_serve_resolves_n_planes_from_store_meta(spark, tmp_path):
    """An index built with a non-default plane count must serve
    correctly WITHOUT the caller repeating the plane count — the
    store's _meta.json is the source of truth. Before this fix a
    mismatched caller probed 8-plane codes against a 12-plane index
    and silently lost recall."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx12")
    SIM.write_lsh_index(emb.filter(F.col("vec_id") % 2 == 0), path, n_planes=12)

    batch = emb.filter(F.col("vec_id") % 2 == 1)
    # caller passes NOTHING (default n_planes=8): meta must win
    got = {
        (r["new_id"], r["old_id"])
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=4
        ).collect()
    }
    want = {
        (r["new_id"], r["old_id"])
        for r in SIM.lsh_index_near_dups(
            spark, path, batch, threshold=0.45, emit_radius=4, n_planes=12
        ).collect()
    }
    assert got == want and got, "meta resolution diverged from explicit planes"

    # topk serve path: same resolution
    queries = emb.filter(F.col("vec_id") < 4)
    t1 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_index_topk(spark, path, queries, k=3, emit_radius=2).collect()
    }
    t2 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.lsh_index_topk(
            spark, path, queries, k=3, emit_radius=2, n_planes=12
        ).collect()
    }
    assert t1 == t2 and t1


def test_auto_n_centroids_and_auto_ivf_serving(spark, tmp_path):
    """IVF list count scales ~sqrt(n); an "auto"-built index must
    serve identical top-k to an explicitly-built one with the same
    resolved count (the quantizer is read from _centroids, so no
    caller-side parameter round-trip exists to get wrong)."""
    assert SIM.auto_n_centroids(0) == 16
    assert SIM.auto_n_centroids(100) == 16
    assert SIM.auto_n_centroids(1_000_000) == 1000
    assert SIM.auto_n_centroids(10**9) == 4096

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    resolved = SIM.auto_n_centroids(n)
    p_auto = str(tmp_path / "ivf_auto")
    p_expl = str(tmp_path / "ivf_expl")
    SIM.write_ivf_index(emb, p_auto, n_centroids="auto")
    SIM.write_ivf_index(emb, p_expl, n_centroids=resolved)
    queries = emb.filter(F.col("vec_id") < 4)
    a = sorted(
        map(tuple, SIM.ivf_index_topk(spark, p_auto, queries, k=3).collect())
    )
    b = sorted(
        map(tuple, SIM.ivf_index_topk(spark, p_expl, queries, k=3).collect())
    )
    assert a == b and a


def test_band_params_for_threshold_scurve():
    """Chosen bands must be the divisor of k whose S-curve midpoint
    (1/b)^(1/r) is nearest the threshold, and the mapping must be
    monotone: higher thresholds -> fewer bands (longer bands are more
    selective)."""
    for k in (16, 24):
        divisors = [b for b in range(1, k + 1) if k % b == 0]
        for t in (0.3, 0.5, 0.7, 0.9):
            b = DD.band_params_for_threshold(t, k=k)
            assert k % b == 0
            err = abs((1.0 / b) ** (b / k) - t)
            for other in divisors:
                assert err <= abs((1.0 / other) ** (other / k) - t) + 1e-12
        picks = [DD.band_params_for_threshold(t, k=k) for t in (0.3, 0.6, 0.9)]
        assert picks == sorted(picks, reverse=True), picks


def test_tuned_bands_beat_mistuned_on_planted_pairs(spark):
    """End-to-end S-curve check: at threshold 0.5, the tuned band
    count must catch planted ~0.55-Jaccard pairs that the most
    selective layout (bands=1, midpoint 1.0) misses, while both agree
    on exact duplicates."""
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    # ~0.55 weighted-Jaccard neighbor: rewrite the last 11 words
    near = " ".join(words[:29] + [f"x{i}" for i in range(11)])
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, base), (4, "totally different text here ok")],
        "doc_id long, text string",
    )
    sh = DD.shingles(docs).localCheckpoint()
    tuned = DD.band_params_for_threshold(0.5)  # -> 8 bands of 2
    got_tuned = {
        (r["i"], r["j"])
        for r in DD.minhash_lsh_near_dups(
            docs, threshold=0.3, bands=tuned, sh=sh
        ).collect()
    }
    got_one_band = {
        (r["i"], r["j"])
        for r in DD.minhash_lsh_near_dups(
            docs, threshold=0.3, bands=1, sh=sh
        ).collect()
    }
    assert (1, 3) in got_tuned and (1, 3) in got_one_band  # exact dup always
    assert (1, 2) in got_tuned, "tuned bands missed the planted near pair"
    # the single-band layout's midpoint is 1.0 — it should (almost
    # always, deterministic here) miss the 0.55 pair
    assert (1, 2) not in got_one_band
