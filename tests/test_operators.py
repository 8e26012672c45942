"""Behavioral tests for operators whose outputs have no exact SQL
oracle: approximate aggregates, LSH ANN recall, MinHash recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.io import load_table
from tiki_data_pipeline_spark.operators import dedup as DD
from tiki_data_pipeline_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"


def test_approx_count_distinct_bounds(spark):
    li = load_table(spark, SF, "lineitem")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("p"), F.countDistinct("l_suppkey").alias("s")
    ).collect()[0]
    approx = li.agg(
        F.approx_count_distinct("l_partkey").alias("p"),
        F.approx_count_distinct("l_suppkey").alias("s"),
    ).collect()[0]
    assert abs(approx["p"] - exact["p"]) / exact["p"] < 0.1
    assert abs(approx["s"] - exact["s"]) / exact["s"] < 0.1


def test_percentile_approx_ordering(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99]).alias("q")
    ).collect()[0]["q"]
    assert q[0] < q[1] < q[2]


def test_lsh_ann_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    qids = list(range(10))
    brute = SIM.brute_force_topk(emb, qids, k=5)
    lsh = SIM.lsh_bucketed_topk(emb, qids, k=5)
    truth = {
        (r["query_id"], r["neighbor_id"]) for r in brute.collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    # LSH trades recall for touching 1/2^8 of the corpus; on 64-dim
    # synthetic clusters 8 planes must still find a decent share of
    # the true top-5 (cluster members tend to share buckets).
    recall = len(truth & got) / len(truth)
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"
    # and LSH never invents similarities: every returned pair's score
    # must equal the exact cosine (same arithmetic)
    joined = lsh.alias("l").join(
        brute.alias("b"),
        (F.col("l.query_id") == F.col("b.query_id"))
        & (F.col("l.neighbor_id") == F.col("b.neighbor_id")),
    )
    for r in joined.collect():
        assert abs(r[2] - r[5]) < 1e-9  # cosine_sim columns


def test_ivf_ann_recall_vs_brute_force(spark):
    emb = load_table(spark, SF, "embeddings")
    qids = list(range(10))
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, qids, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(emb, qids, k=5).collect()
    }
    recall = len(truth & got) / len(truth)
    # nprobe=2/16 scans ~1/8 of the corpus; clustered data keeps true
    # neighbors in the probed lists far more often than that
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_minhash_finds_high_jaccard_pairs(spark):
    docs = load_table(spark, SF, "documents")
    exact = DD.jaccard_pairs(DD.shingles(docs).localCheckpoint(), threshold=0.9)
    lsh = DD.minhash_lsh_near_dups(docs, threshold=0.9)
    truth = {(r["i"], r["j"]) for r in exact.collect()}
    got = {(r["i"], r["j"]) for r in lsh.collect()}
    assert got <= truth, "LSH reported a pair below the verified threshold"
    if truth:
        recall = len(truth & got) / len(truth)
        # P[band collision] at j=0.9: 1-(1-0.9^4)^4 ≈ 0.986
        assert recall >= 0.8, f"MinHash-LSH recall too low: {recall}"


def test_lsh_projection_signs_clear_of_zero_and_stable(spark):
    """Bucket-sign parity guard: numpy BLAS matmul (engine) and a
    sequential per-dimension fold (the DuckDB oracle's accumulation
    order) must agree on every projection's SIGN for the fixture
    corpus, and no projection may sit within a float dead-zone of 0 —
    a near-zero projection could flip bucket bits between the two
    accumulation orders and desync oracle parity."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    dim = len(rows[0]["embedding"])
    wmat = np.array(
        [
            [SIM._plane_weight(p, i) for i in range(1, dim + 1)]
            for p in range(SIM.N_PLANES)
        ]
    )
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    proj_blas = m @ wmat.T
    proj_seq = np.zeros_like(proj_blas)
    for d in range(dim):  # oracle-order: accumulate dimension by dimension
        proj_seq += np.outer(m[:, d], wmat[:, d])
    assert (np.sign(proj_blas) == np.sign(proj_seq)).all()
    scale = np.abs(m).sum(axis=1).max()
    assert np.abs(proj_blas).min() > scale * 1e-12, "projection inside dead-zone"


def test_lsh_near_dup_pairs_stable_across_runs(spark):
    """The LSH pair set must be identical across repeated runs (no
    hidden nondeterminism in bucket assignment or per-bucket pairing)."""
    emb = load_table(spark, SF, "embeddings")
    runs = [
        {
            (r["i"], r["j"], r["cosine_sim"])
            for r in SIM.near_dup_pairs(emb, threshold=0.45, blocking="lsh").collect()
        }
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]
    assert runs[0], "LSH produced no pairs on the fixture corpus"


def test_jaccard_pairs_max_df_identity_and_bounding(spark):
    """On a clean corpus (no hot shingles) the capped and exact pair
    sets are identical; on a skewed corpus a single boilerplate
    shingle shared by every doc stops generating quadratic candidates
    once capped."""
    docs = load_table(spark, SF, "documents")
    sh = DD.shingles(docs).localCheckpoint()
    max_df_seen = sh.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    exact = {
        (r["i"], r["j"], r["jaccard"])
        for r in DD.jaccard_pairs(sh, threshold=0.9).collect()
    }
    capped = {
        (r["i"], r["j"], r["jaccard"])
        for r in DD.jaccard_pairs(sh, threshold=0.9, max_df=max_df_seen).collect()
    }
    assert capped == exact  # cap above the max observed df = no-op

    # skewed: 40 unrelated docs all sharing one boilerplate shingle
    rows = [(i, f"unique{i}a unique{i}b unique{i}c boiler plate footer") for i in range(40)]
    skew = spark.createDataFrame(rows, "doc_id bigint, text string")
    ssh = DD.shingles(skew).localCheckpoint()
    uncapped = DD.jaccard_pairs(ssh, threshold=0.0)
    bounded = DD.jaccard_pairs(ssh, threshold=0.0, max_df=5)
    # the hot shingle ('boiler plate footer' trigram family) links all
    # 40 docs pairwise when uncapped; capped drops those candidates
    assert uncapped.count() == 40 * 39 / 2
    assert bounded.count() == 0


def test_simhash_is_deterministic(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    a = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    assert a == b
    assert all(0 <= v < 2**32 for v in a.values())


def test_lsh_blocked_near_dup_subset_recall(spark):
    """LSH-blocked pair join reports only true pairs (exact cosine
    verified) and keeps recall ≥ 0.7 vs the exact join: radius-2
    emission covers every pair whose bucket codes differ in ≤ 4 of 8
    bits."""
    emb = load_table(spark, SF, "embeddings")
    exact = SIM.near_dup_pairs(emb, threshold=0.45)
    lsh = SIM.near_dup_pairs(emb, threshold=0.45, blocking="lsh")
    truth = {(r["i"], r["j"]) for r in exact.collect()}
    got = {(r["i"], r["j"]) for r in lsh.collect()}
    assert got <= truth, "LSH blocking invented a pair"
    if truth:
        recall = len(truth & got) / len(truth)
        assert recall >= 0.7, f"LSH-blocked recall collapsed: {recall}"


def test_simhash_pigeonhole_matches_allpairs(spark):
    """The blocked equi-join pair scan must find exactly the pairs the
    naive all-pairs scan finds (pigeonhole completeness), and its plan
    must not contain a nested-loop join."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    sigs = DD.simhash_signatures(docs).localCheckpoint()
    naive = (
        sigs.select(F.col("doc_id").alias("i"), F.col("simhash").alias("sig_i"))
        .join(
            sigs.select(
                F.col("doc_id").alias("j"), F.col("simhash").alias("sig_j")
            ),
            F.col("i") < F.col("j"),
        )
        .withColumn(
            "hamming", F.bit_count(F.col("sig_i").bitwiseXOR(F.col("sig_j")))
        )
        .filter(F.col("hamming") <= 3)
        .select("i", "j", "hamming")
    )
    blocked = DD.simhash_near_dups(docs, max_hamming=3)
    truth = {(r["i"], r["j"], r["hamming"]) for r in naive.collect()}
    got = {(r["i"], r["j"], r["hamming"]) for r in blocked.collect()}
    assert got == truth
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_train_degenerate_inputs(spark):
    """Empty corpora / all-null embeddings / k=0 return an empty
    centroid table instead of crashing in the Lloyd loop."""
    import numpy as np

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert SIM.ivf_train(empty, k=4).count() == 0
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<float>"
    )
    assert SIM.ivf_train(nulls, k=4).count() == 0
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert SIM.ivf_train(one, k=4).count() == 1  # k' = min(k, n)
    # pure-numpy core: empty matrix and k<=0 both yield empty output
    assert SIM.lloyd_centroids(np.zeros((0, 8)), 4).shape == (0, 8)
    assert SIM.lloyd_centroids(np.zeros((3, 8)), 0).shape == (0, 8)


def test_minhash_index_incremental_matches_in_session_bands(spark, tmp_path):
    """Incremental dedup against the persisted MinHash index must
    produce EXACTLY the cross-split candidates the in-session band
    join produces (same signatures, same band scheme), with the
    estimator bounded to [0, 1] and 1.0 for an identical re-crawl."""
    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "mh_idx")
    DD.write_minhash_index(corpus, path)

    got = DD.minhash_index_near_dups(spark, path, batch, threshold=0.0)
    got_rows = {(r["new_id"], r["old_id"]): r["est_jaccard"] for r in got.collect()}

    # in-session reference: band join across the two splits
    sh = DD.shingles(docs).localCheckpoint()
    bands = DD.lsh_band_signatures(DD.minhash_signatures(sh))
    left = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("old_id"), "band", "band_sig"
    )
    right = bands.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("new_id"), "band", "band_sig"
    )
    want = {
        (r["new_id"], r["old_id"])
        for r in left.join(right, ["band", "band_sig"]).select("new_id", "old_id").distinct().collect()
    }
    assert set(got_rows) == want
    assert all(0.0 <= v <= 1.0 for v in got_rows.values())
    # every candidate shares ≥1 full band = ≥ r of k minhash positions
    r_rows = DD.MINHASH_K // DD.LSH_BANDS
    assert all(v >= r_rows / DD.MINHASH_K for v in got_rows.values())

    # identical re-crawled text under a new odd id scores exactly 1.0
    sample = corpus.select("text").limit(1).collect()[0]["text"]
    recrawl = spark.createDataFrame([(99991, sample)], "doc_id long, text string")
    hit = DD.minhash_index_near_dups(spark, path, recrawl, threshold=0.99)
    assert {r["est_jaccard"] for r in hit.collect()} == {1.0}


def test_minhash_index_layout_partitioned_by_band(spark, tmp_path):
    """Index layout: one directory per band (partition pruning unit),
    full signature carried on every band row (one-join serving)."""
    from pathlib import Path

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "mh_idx")
    DD.write_minhash_index(docs, path)
    band_dirs = sorted(p.name for p in Path(path).iterdir() if p.name.startswith("band="))
    assert band_dirs == [f"band={b}" for b in range(DD.LSH_BANDS)]
    first = spark.read.parquet(path).limit(1).collect()[0]
    assert len(first["sig"]) == DD.MINHASH_K


def test_incremental_dedup_status_all_three_statuses(spark, tmp_path):
    """Exact-first staging: an identical re-crawl is exact_dup (never
    near_dup, even though its signatures also collide), a mutated copy
    is near_dup with the right matched_id, novel text is unique."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform "
        "victor whiskey xray yankee zulu one two three four five six seven "
        "eight nine ten"
    )
    corpus = spark.createDataFrame(
        [
            (2, base),
            (4, "completely different corpus content about spark adaptive execution"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    DD.write_minhash_index(corpus, path)
    batch = spark.createDataFrame(
        [
            # exact: same text modulo case/whitespace normalization
            (11, "  " + base.upper() + " "),
            # near: one word changed in a 36-token doc (J ≈ 0.92)
            (13, base.replace("seven", "modified")),
            # unique: nothing in common
            (15, "unrelated telemetry about shuffle partitions and broadcast joins"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["status"], r["matched_id"])
        for r in DD.incremental_dedup_status(spark, path, batch, threshold=0.3).collect()
    }
    assert rows[11] == ("exact_dup", 2)
    assert rows[13] == ("near_dup", 2)
    assert rows[15] == ("unique", None)


def test_hot_band_cap_skips_boilerplate_buckets(spark, tmp_path):
    """A band signature shared by more stored docs than the cap is
    excluded from near-dup candidate generation (quadratic fan-out
    guard); normal buckets are unaffected, and the identical-text
    mass is still caught by the exact stage."""
    boiler = "standard legal disclaimer text repeated verbatim on every single page"
    uniq = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
        "lima mike november oscar papa quebec romeo sierra tango uniform"
    )
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(2, 42, 2)] + [(100, uniq)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    DD.write_minhash_index(corpus, path)
    n_hot = DD.rebuild_hot_bands(spark, path, cap=5)
    assert n_hot >= 1  # the boilerplate buckets crossed the cap

    batch = spark.createDataFrame(
        [(201, boiler), (203, uniq.replace("tango", "x"))],
        "doc_id long, text string",
    )
    pairs = DD.minhash_index_near_dups(spark, path, batch, threshold=0.3).collect()
    got = {(r["new_id"], r["old_id"]) for r in pairs}
    assert all(i != 201 for i, _ in got), "hot bucket not skipped"
    assert (203, 100) in got, "normal bucket wrongly affected"
    # the boilerplate doc is still caught — by the exact stage
    status = {
        r["doc_id"]: r["status"]
        for r in DD.incremental_dedup_status(spark, path, batch).collect()
    }
    assert status[201] == "exact_dup"
    assert status[203] == "near_dup"


def test_duplicate_span_stats_planted_boilerplate(spark):
    """Span-level dedup signal: two docs sharing an 8+-token
    boilerplate footer inside otherwise-distinct text must show the
    shared windows as dup spans; a fully distinct doc shows zero; a
    doc shorter than the span width reports (0, 0, 0.0)."""
    footer = "all rights reserved contact us at support example dot com today"  # 11 tokens
    a = "completely original first document body text here " + footer
    b = "second unrelated page with different words entirely " + footer
    c = "nothing shared with anybody else in this tiny corpus at all ok"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, "too short")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_span_frac"])
        for r in DD.duplicate_span_stats(docs, span=8).collect()
    }
    # 11-token shared footer → 4 shared 8-token windows per doc
    assert got[1][0] == len(a.split()) - 7
    assert got[1][1] == 4 and got[2][1] == 4
    assert got[3] == (len(c.split()) - 7, 0, 0.0)
    assert got[4] == (0, 0, 0.0)
    assert 0 < got[1][2] < 1


def test_remove_duplicate_spans_planted_boilerplate(spark):
    """Span-level dedup REMOVAL: the shared 11-token footer must be
    cut from both carriers (exactly the footer tokens — windows
    straddling into distinct context have df=1 and stay), the
    distinct doc and the sub-span doc pass through untouched with
    normalized text, and every doc comes back exactly once."""
    footer = "all rights reserved contact us at support example dot com today"
    a = "completely original first document body text here " + footer
    b = "second unrelated page with different words entirely " + footer
    c = "nothing shared with anybody else in this tiny corpus at all ok"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, "Too  SHORT")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["cleaned_text"],
            r["n_tokens"],
            r["n_tokens_removed"],
            r["removed_frac"],
        )
        for r in DD.remove_duplicate_spans(docs, span=8, min_df=2).collect()
    }
    assert len(got) == 4
    assert got[1][0] == "completely original first document body text here"
    assert got[2][0] == "second unrelated page with different words entirely"
    assert got[1][1:] == (len(a.split()), 11, round(11 / len(a.split()), 4))
    assert got[2][2] == 11
    # untouched docs: normalized (lower/trim/single-space) passthrough
    assert got[3] == (c, len(c.split()), 0, 0.0)
    assert got[4] == ("too short", 2, 0, 0.0)


def test_remove_duplicate_spans_min_run_keeps_short_cuts_long(spark):
    """Variable-length extension (r9): with min_run set, a LONG
    planted boilerplate block (its covered run >= min_run) is cut
    while a SHORT duplicated phrase (covered run = one window's span,
    below min_run) survives; min_run <= span reproduces the
    every-covered-token behavior exactly."""
    short = "please subscribe to our newsletter for updates today"  # 8 toks
    long_block = " ".join(f"legal{i}" for i in range(30))  # 30-token footer
    a = "alpha unique body one with original words here " + short
    b = "beta other page totally different content text now " + short
    c = "gamma carrier of the long boilerplate block starts " + long_block
    d = "delta another carrier with its own opening words " + long_block
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_tokens_removed"])
        for r in DD.remove_duplicate_spans(
            docs, span=8, min_df=2, min_run=20
        ).collect()
    }
    # short shared phrase: covered run is 8 tokens < 20 -> kept
    assert got[1] == (a, 0)
    assert got[2] == (b, 0)
    # long boilerplate: covered run is 30 tokens >= 20 -> cut
    assert got[3] == ("gamma carrier of the long boilerplate block starts", 30)
    assert got[4] == ("delta another carrier with its own opening words", 30)

    # min_run <= span is the identity extension: same rows as default
    base = sorted(
        map(tuple, DD.remove_duplicate_spans(docs, span=8, min_df=2).collect())
    )
    runs8 = sorted(
        map(
            tuple,
            DD.remove_duplicate_spans(
                docs, span=8, min_df=2, min_run=8
            ).collect(),
        )
    )
    assert base == runs8


def test_remove_duplicate_spans_whole_doc_removed(spark):
    """A document that IS the boilerplate (verbatim duplicate) loses
    every token: cleaned_text collapses to the empty string with
    removed_frac 1.0."""
    t = "one two three four five six seven eight"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_tokens_removed"], r["removed_frac"])
        for r in DD.remove_duplicate_spans(docs, span=8, min_df=2).collect()
    }
    assert got[1] == ("", 8, 1.0)
    assert got[2] == ("", 8, 1.0)


def test_incremental_dedup_status_null_text_is_no_text(spark, tmp_path):
    """A NULL-text doc can never match either stage (no fingerprint,
    no shingles); statusing it 'unique' would let the ingest sink
    store an unmatchable null-fp row. It must come back 'no_text';
    empty/whitespace-only texts still exact-match via fingerprint."""
    import shutil

    store_docs = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot"), (2, "")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ntstore")
    shutil.rmtree(path, ignore_errors=True)
    DD.write_minhash_index(store_docs, path)
    batch = spark.createDataFrame(
        [
            (10, "alpha bravo charlie delta echo foxtrot"),  # exact dup
            (11, None),                                       # no text
            (12, ""),                                         # exact dup of 2
            (13, "completely novel words here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["matched_id"])
        for r in DD.incremental_dedup_status(spark, path, batch).collect()
    }
    assert got[10] == ("exact_dup", 1)
    assert got[11] == ("no_text", None)
    assert got[12] == ("exact_dup", 2)
    assert got[13][0] == "unique"
    assert len(got) == 4


def test_semantic_dedup_planted_fixture(spark):
    """SemDeDup semantics on a hand-built corpus: exact/near twins in
    the same cluster collapse to the lowest id, far-apart clusters
    never interact, NULL/zero-norm vectors surface as no_vector."""
    rows = [
        # cluster around +x: 1 kept; 2 and 5 are near-twins of 1
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (5, [0.998, 0.02, 0.0, 0.0]),
        # cluster around +y: 3 kept; 7 near-twin of 3
        (3, [0.0, 1.0, 0.0, 0.0]),
        (7, [0.01, 0.999, 0.0, 0.0]),
        # lone vector near -z: kept (cluster of one)
        (9, [0.0, 0.0, -1.0, 0.0]),
        # degenerate rows
        (10, None),
        (11, [0.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.semantic_dedup(emb, threshold=0.9, n_centroids=3).collect()
    }
    assert len(got) == len(rows)
    assert got[1] == ("kept", None)
    assert got[2] == ("semantic_dup", 1)
    assert got[5] == ("semantic_dup", 1)  # min id, not nearest (2)
    assert got[3] == ("kept", None)
    assert got[7] == ("semantic_dup", 3)
    assert got[9] == ("kept", None)
    assert got[10] == ("no_vector", None)
    assert got[11] == ("no_vector", None)


def test_semantic_dedup_matches_within_cluster_bruteforce(spark):
    """Against the real fixture corpus: per-vector decision equals a
    numpy brute-force of the same rule (lowest-id cluster-mate with
    round(cos, 4) >= t) under the same deterministic quantizer."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    cents = SIM.ivf_train(emb, k=8)
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.semantic_dedup(
            emb, threshold=0.3, centroids=cents, row_block=7
        ).collect()
    }
    rows = sorted(
        emb.filter(F.col("embedding").isNotNull()).collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1)
    valid = nrm > 0
    cmat = np.array([r["cv"] for r in sorted(cents.collect(), key=lambda r: r["cid"])])
    d = -2.0 * (m @ cmat.T) + (cmat * cmat).sum(axis=1)
    cid = np.argmin(d, axis=1)
    nm = m[valid] / nrm[valid, None]
    vids, vcid = ids[valid], cid[valid]
    cos = np.round(nm @ nm.T, 4)
    for k, i in enumerate(vids):
        mates = (vcid == vcid[k]) & (vids < i) & (cos[k] >= 0.3)
        want = ("semantic_dup", int(vids[mates].min())) if mates.any() else ("kept", None)
        assert got[int(i)] == want, i
    for k, i in enumerate(ids):
        if not valid[k]:
            assert got[int(i)] == ("no_vector", None)


def test_ivf_semantic_dedup_status_planted(spark, tmp_path):
    """Delta-vs-store SemDeDup against a persisted IVF index: twins
    of store vectors are flagged with the best store match, vectors
    in an empty/foreign cluster are unique, degenerate vectors are
    no_vector, and batch rows never match each other."""
    store_rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # same cluster as 0
        (4, [0.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 0.0, 1.0, 0.0]),
    ]
    store = spark.createDataFrame(
        store_rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf_store")
    SIM.write_ivf_index(store, path, n_centroids=3)
    batch = spark.createDataFrame(
        [
            (1, [0.9995, 0.005, 0.0, 0.0]),  # twin of 0 AND 2 → best match
            (3, [0.0, 0.999, 0.01, 0.0]),    # twin of 4
            (5, [0.0, 0.0, -1.0, 0.0]),      # anti-parallel: cos = -1 → unique
            (7, [0.7, 0.7, 0.0, 0.0]),       # between clusters → below 0.99
            (9, None),
            (11, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.ivf_semantic_dedup_status(
            spark, path, batch, threshold=0.99
        ).collect()
    }
    assert len(got) == 6
    assert got[1][0] == "semantic_dup" and got[1][1] in (0, 2)
    assert got[3] == ("semantic_dup", 4)
    assert got[5] == ("unique", None)
    assert got[7] == ("unique", None)
    assert got[9] == ("no_vector", None)
    assert got[11] == ("no_vector", None)


def test_ivf_semantic_dedup_status_matches_bruteforce(spark, tmp_path):
    """Fixture corpus: the per-vector decision equals a numpy model of
    the rule (best even-store cluster-mate with round(cos,6) >= t
    under the store's frozen quantizer)."""
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_even")
    SIM.write_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    got = {
        r["vec_id"]: (r["status"], r["matched_id"])
        for r in SIM.ivf_semantic_dedup_status(
            spark, path, batch, threshold=0.3
        ).collect()
    }
    cents = sorted(
        spark.read.parquet(path + "/_centroids").collect(),
        key=lambda r: r["cid"],
    )
    cmat = np.array([r["cv"] for r in cents], dtype=np.float64)

    def assign(m):
        d = -2.0 * (m @ cmat.T) + (cmat * cmat).sum(axis=1)
        return np.argmin(d, axis=1)

    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows if r["embedding"] is not None])
    m = np.array(
        [r["embedding"] for r in rows if r["embedding"] is not None],
        dtype=np.float64,
    )
    nrm = np.linalg.norm(m, axis=1)
    ok = nrm > 0
    ids, m, nrm = ids[ok], m[ok], nrm[ok]
    cid = assign(m)
    nm = m / nrm[:, None]
    is_store, is_batch = ids % 2 == 0, ids % 2 == 1
    n_checked = 0
    for k in np.nonzero(is_batch)[0]:
        mates = is_store & (cid == cid[k])
        cos = np.round(nm[mates] @ nm[k], 6)
        qual = cos >= 0.3
        if qual.any():
            # best match: highest cosine, ties → lowest id (ids are
            # ascending inside the mates slice)
            best = np.lexsort((ids[mates][qual], -cos[qual]))[0]
            want = ("semantic_dup", int(ids[mates][qual][best]))
        else:
            want = ("unique", None)
        assert got[int(ids[k])] == want, ids[k]
        n_checked += 1
    assert n_checked > 0


def test_remove_duplicate_lines_boilerplate_cut(spark):
    """Lines duplicated across >=2 docs are cut (trim-variant
    spellings collapse to one key); blank lines and unique lines
    survive in original order; untouched docs pass through with text
    byte-identical; a pure-boilerplate doc collapses to ''."""
    docs = spark.createDataFrame(
        [
            (1, "keep me\nSHARED FOOTER\nbody one"),
            (2, "body two\n  SHARED FOOTER  \nkeep me too"),
            (3, "SHARED FOOTER"),
            (4, "Untouched Doc\n\nwith blank line"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["cleaned_text"],
            r["n_lines"],
            r["n_lines_removed"],
            r["removed_frac"],
        )
        for r in DD.remove_duplicate_lines(docs, min_df=2).collect()
    }
    assert len(got) == 4
    assert got[1] == ("keep me\nbody one", 3, 1, round(1 / 3, 4))
    assert got[2] == ("body two\nkeep me too", 3, 1, round(1 / 3, 4))
    assert got[3] == ("", 1, 1, 1.0)
    # untouched: ORIGINAL text (case/blank line preserved), no rewrite
    assert got[4] == ("Untouched Doc\n\nwith blank line", 3, 0, 0.0)


def test_remove_duplicate_lines_blank_lines_never_dup(spark):
    """Blank lines appear in many docs but are never counted as
    duplicates — paragraph structure survives the cut."""
    docs = spark.createDataFrame(
        [(1, "alpha\n\nbeta"), (2, "gamma\n\ndelta")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in DD.remove_duplicate_lines(docs, min_df=2).collect()
    }
    assert got == {1: "alpha\n\nbeta", 2: "gamma\n\ndelta"}


def test_incremental_line_removal_store_lifecycle(spark, tmp_path):
    """Line-df store lifecycle: a batch line matching stored
    boilerplate is cut by corpus df alone; a line born duplicated
    WITHIN the batch is cut only when count_batch=True; appending the
    batch's counts makes a later singleton carrier get cut too; and
    compaction folds delta rows to one per line hash."""
    store_docs = spark.createDataFrame(
        [(1, "body one\nshared footer"), (2, "body two\nshared footer")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "linedf")
    DD.write_line_df_store(store_docs, path)

    batch = spark.createDataFrame(
        [
            (10, "fresh body ten\nshared footer"),
            (11, "new promo line\neleven body"),
            (12, "new promo line\ntwelve body"),
            (13, "totally unique thirteen"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_lines_removed"])
        for r in DD.incremental_line_removal(spark, path, batch).collect()
    }
    assert got[10] == ("fresh body ten", 1)  # store df=2 cuts it
    assert got[11] == ("eleven body", 1)  # batch-internal df=2
    assert got[12] == ("twelve body", 1)
    assert got[13] == ("totally unique thirteen", 0)

    # without batch self-counting, only the stored boilerplate is cut
    solo = {
        r["doc_id"]: r["n_lines_removed"]
        for r in DD.incremental_line_removal(
            spark, path, batch, count_batch=False
        ).collect()
    }
    assert solo == {10: 1, 11: 0, 12: 0, 13: 0}

    # decide -> append -> a later SINGLE carrier of 'new promo line'
    # is now cut by store df alone
    DD.append_line_df_store(batch, path)
    later = spark.createDataFrame(
        [(20, "new promo line\nlater body")], "doc_id long, text string"
    )
    got2 = DD.incremental_line_removal(spark, path, later, count_batch=False)
    assert got2.collect()[0]["cleaned_text"] == "later body"

    # compaction: one row per lh, same summed df
    before = spark.read.parquet(path)
    tot = {r["lh"]: r["s"] for r in before.groupBy("lh").agg(F.sum("df").alias("s")).collect()}
    assert before.count() > len(tot)  # delta rows exist pre-compact
    DD.compact_line_df_store(spark, path)
    after = spark.read.parquet(path)
    assert after.count() == len(tot)
    assert {r["lh"]: r["df"] for r in after.collect()} == tot
    # decisions unchanged post-compact
    got3 = DD.incremental_line_removal(spark, path, later, count_batch=False)
    assert got3.collect()[0]["cleaned_text"] == "later body"


def test_fan_out_small_only_when_under_parallelism(spark):
    """fan_out_small spreads a single-split input to the cluster
    parallelism but leaves an already-wide input untouched (the
    at-scale no-op guarantee — no full-corpus shuffle there)."""
    from tiki_data_pipeline_spark.io import fan_out_small

    par = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame([(i,) for i in range(100)], "id long").coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    spread = fan_out_small(narrow)
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 100
    wide = spark.range(100).repartition(par + 4)
    assert fan_out_small(wide) is wide


def test_span_family_xxhash64_mode_matches_md5_results(spark):
    """The production hash opt-in (hash_mode="xxhash64", the DSIR
    family's 18x-cheaper idiom brought to the span family): window
    identity comes from a 30-bit token hash either way, so dup/keep
    DECISIONS — and therefore every output row — must be identical to
    the md5 oracle-parity mode on a real corpus (chance collisions
    ~n^2/2^31 are negligible at test scale and conservative at any
    scale)."""
    footer = "all rights reserved contact us at support example dot com today"
    rows = [
        (i, f"document body {i} with its own distinct words " + footer)
        for i in range(20)
    ] + [(100, "entirely unique text with nothing shared at all right here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    stats_md5 = sorted(
        map(tuple, DD.duplicate_span_stats(docs, span=8).collect())
    )
    stats_xx = sorted(
        map(
            tuple,
            DD.duplicate_span_stats(docs, span=8, hash_mode="xxhash64").collect(),
        )
    )
    assert stats_xx == stats_md5

    rm_md5 = sorted(
        map(tuple, DD.remove_duplicate_spans(docs, span=8, min_df=2).collect())
    )
    rm_xx = sorted(
        map(
            tuple,
            DD.remove_duplicate_spans(
                docs, span=8, min_df=2, hash_mode="xxhash64"
            ).collect(),
        )
    )
    assert rm_xx == rm_md5

    # the variable-length (min_run) extension too
    run_md5 = sorted(
        map(
            tuple,
            DD.remove_duplicate_spans(
                docs, span=8, min_df=2, min_run=11
            ).collect(),
        )
    )
    run_xx = sorted(
        map(
            tuple,
            DD.remove_duplicate_spans(
                docs, span=8, min_df=2, min_run=11, hash_mode="xxhash64"
            ).collect(),
        )
    )
    assert run_xx == run_md5

    import pytest

    with pytest.raises(ValueError, match="hash_mode"):
        DD.duplicate_span_stats(docs, hash_mode="sha1").collect()


def test_span_fold_arrow_kernel_matches_sql_fold(spark):
    """The Arrow/numpy rolling-hash kernel (fold="arrow", the default
    hot path since r13) must produce WINDOW HASHES identical to the
    interpreted SQL fold (fold="sql", the oracle-translation
    reference) — not merely the same decisions: both folds compute
    the exact same polynomial in exact integer arithmetic, so every
    span-family oracle stays value-hash-checked end to end with the
    kernel on the Spark side. Covers the batch-concatenation edges:
    docs shorter than the span (zero windows), exactly span long
    (one window), empty text, and adjacent docs whose flat-array
    windows must never leak across the boundary."""
    from pyspark.sql import functions as F

    footer = "all rights reserved contact us at support example dot com today"
    rows = (
        [
            (i, f"document body {i} with its own distinct words " + footer)
            for i in range(12)
        ]
        + [
            (100, "short doc"),                      # < span: no windows
            (101, "exactly eight tokens sit in this tiny doc"),  # == span
            (102, ""),                               # empty text
            (103, "entirely unique text with nothing shared at all here"),
        ]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # window-hash-level parity: the raw per-doc hash arrays agree
    base = DD._with_span_inputs(docs, "doc_id", "text")
    both = base.select(
        "doc_id",
        DD._span_windows(F.col("_hs"), 8, "sql").alias("a"),
        DD._span_windows(F.col("_hs"), 8, "arrow").alias("b"),
    ).collect()
    for r in both:
        assert list(r["a"]) == list(r["b"]), f"doc {r['doc_id']} diverged"
    assert any(len(r["a"]) == 0 for r in both)   # sub-span docs exercised
    assert any(len(r["a"]) == 1 for r in both)   # exactly-span doc

    # operator-level parity on both public consumers
    for fn, kw in (
        (DD.duplicate_span_stats, {}),
        (DD.remove_duplicate_spans, {"min_df": 2}),
        (DD.remove_duplicate_spans, {"min_df": 2, "min_run": 12}),
    ):
        a = sorted(map(tuple, fn(docs, span=8, fold="sql", **kw).collect()))
        b = sorted(map(tuple, fn(docs, span=8, fold="arrow", **kw).collect()))
        assert a == b


def test_incremental_span_removal_against_store(spark, tmp_path):
    """The span family's incremental form (r13): a persisted span-df
    store decides a NEW batch without re-reading corpus text. A batch
    doc sharing an 8-token window with the stored corpus loses exactly
    that window's tokens; a fresh doc passes untouched; within-batch
    duplicated windows are caught on arrival (count_batch); the store
    is never mutated by the decision."""
    from pyspark.sql import functions as F

    footer = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, "stored document one body " + footer),
            (2, "stored document two other words " + footer),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "spanstore")
    DD.write_span_df_store(corpus, store, span=8)

    batch = spark.createDataFrame(
        [
            # shares the stored footer window -> cut
            (11, "fresh eleven content here " + footer),
            # entirely fresh -> untouched
            (12, "totally novel words that nothing else carries at all"),
            # within-batch twins (novel vs store) -> both cut via batch df
            (13, "one two three four five six seven eight closing words here"),
            (14, "pre one two three four five six seven eight post tail"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_tokens_removed"])
        for r in DD.incremental_span_removal(spark, store, batch).collect()
    }
    assert out[11] == ("fresh eleven content here", 8)
    assert out[12][1] == 0
    assert out[13][1] >= 8 and "closing words here" in out[13][0]
    assert out[14][1] >= 8 and out[14][0].startswith("pre")
    # the decision did not mutate the store
    from tiki_data_pipeline_spark.sources.files import store_data

    df_sum = store_data(spark, store).agg(F.sum("df")).collect()[0][0]
    # count_batch=False: within-batch twins no longer cut, store hit still is
    out2 = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in DD.incremental_span_removal(
            spark, store, batch, count_batch=False
        ).collect()
    }
    assert out2[11] == 8 and out2[13] == 0 and out2[14] == 0
    assert store_data(spark, store).agg(F.sum("df")).collect()[0][0] == df_sum


def test_span_df_store_append_delete_compact_lifecycle(spark, tmp_path):
    """Additive lifecycle of the span-df store: append makes a new
    batch's windows count toward later decisions; delete (negative
    counts, ledger-guarded) withdraws a doc's evidence and a replayed
    delete is a no-op; compaction folds to one row per hash and drops
    zeroed windows; geometry mismatches raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tiki_data_pipeline_spark.sources.files import store_data

    footer = "alpha beta gamma delta epsilon zeta eta theta"
    base = spark.createDataFrame(
        [(1, "stored one body " + footer)], "doc_id long, text string"
    )
    store = str(tmp_path / "spanstore")
    DD.write_span_df_store(base, store, span=8)

    probe = spark.createDataFrame(
        [(21, "probe text before " + footer)], "doc_id long, text string"
    )
    # store df 1 + batch df 1 = 2 -> cut
    r = DD.incremental_span_removal(spark, store, probe).collect()[0]
    assert r["n_tokens_removed"] == 8
    # store-only evidence is 1 -> no cut without the batch's own count
    r = DD.incremental_span_removal(
        spark, store, probe, count_batch=False
    ).collect()[0]
    assert r["n_tokens_removed"] == 0

    # append a second carrier: store df reaches 2 -> cut without batch df
    DD.append_span_df_store(
        spark.createDataFrame(
            [(2, "appended two body " + footer)], "doc_id long, text string"
        ),
        store,
    )
    r = DD.incremental_span_removal(
        spark, store, probe, count_batch=False
    ).collect()[0]
    assert r["n_tokens_removed"] == 8

    # delete one carrier -> df back to 1 -> no cut; replay is a no-op
    victim = spark.createDataFrame(
        [(2, "appended two body " + footer)], "doc_id long, text string"
    )
    assert DD.delete_span_df_store(victim, store) == 1
    assert DD.delete_span_df_store(victim, store) == 0  # ledger replay guard
    r = DD.incremental_span_removal(
        spark, store, probe, count_batch=False
    ).collect()[0]
    assert r["n_tokens_removed"] == 0

    # compaction folds deltas and preserves decisions
    DD.compact_span_df_store(spark, store)
    per_hash = (
        store_data(spark, store).groupBy("h").count().filter("count > 1").count()
    )
    assert per_hash == 0
    assert store_data(spark, store).filter(F.col("df") <= 0).count() == 0
    r = DD.incremental_span_removal(spark, store, probe).collect()[0]
    assert r["n_tokens_removed"] == 8

    # geometry pinning: a line store is not a span store
    with _pytest.raises(ValueError):
        DD.incremental_span_removal(spark, str(tmp_path / "nope"), probe)


def test_jaccard_pairs_strategies_bit_identical(spark):
    """r14: jaccard_pairs grew a strategy router (broadcast self-join
    vs single-shuffle posting lists vs measured auto). All three
    routes must emit bit-identical pairs — same (i, j) set, same
    rounded jaccard — at any threshold, with and without max_df."""
    docs = load_table(spark, SF, "documents")
    sh = DD.shingles(docs).localCheckpoint()
    for thr in (0.1, 0.7):
        by_strategy = [
            sorted(
                (r["i"], r["j"], r["jaccard"])
                for r in DD.jaccard_pairs(sh, threshold=thr, strategy=s).collect()
            )
            for s in ("join", "grouped", "auto")
        ]
        assert by_strategy[0] == by_strategy[1] == by_strategy[2], thr
        assert by_strategy[0], f"no pairs at thr={thr} — fixture too weak"
    # max_df is a pre-pair candidate cap: the join route filters on a
    # grouped count, the grouped route on posting-list size — same set
    capped = [
        sorted(
            (r["i"], r["j"], r["jaccard"])
            for r in DD.jaccard_pairs(
                sh, threshold=0.1, max_df=5, strategy=s
            ).collect()
        )
        for s in ("join", "grouped")
    ]
    assert capped[0] == capped[1]


def test_classify_error_first_match_priority(spark):
    """r14: classify_error was rebuilt as one flat CASE chain. The
    iterative form's semantics — first match wins, permanent patterns
    checked before retryable — must survive the rewrite, including on
    messages that match BOTH families."""
    from tiki_data_pipeline_spark.operators import quarantine as Q

    cases = {
        "404 not found while retrying after timeout": "permanent",
        "connection reset by peer": "retryable",
        "invalid json at byte 7": "permanent",
        "HTTP 429 rate limit, body was malformed": "permanent",
        "total mystery": "unknown",
        "503 service unavailable": "retryable",
    }
    df = spark.createDataFrame([(m,) for m in cases], "error string")
    got = {
        r["error"]: r["cls"]
        for r in df.select(
            "error", Q.classify_error(F.col("error")).alias("cls")
        ).collect()
    }
    assert got == cases


def test_classify_error_plan_stays_linear(spark):
    """r14 regression guard: the pre-rewrite fold embedded the prior
    CASE tree twice per rule (2^9 expression copies, ~100 kB plan).
    The flat chain is linear — each pattern's RLIKE appears a bounded
    number of times in the optimized plan even when the classification
    is referenced by several downstream columns."""
    from tiki_data_pipeline_spark.operators import quarantine as Q

    df = spark.createDataFrame(
        [("timeout", 0), ("404", 1)], "error string, retry_count int"
    )
    plan = Q.route_failures(df)._jdf.queryExecution().optimizedPlan().toString()
    n_rules = len(Q.PERMANENT_PATTERNS) + len(Q.RETRYABLE_PATTERNS)
    # error_class + two decision branches each reference the CASE once
    assert plan.count("RLIKE") <= 4 * n_rules, plan.count("RLIKE")
    assert len(plan) < 20_000, len(plan)


def test_precomputed_sigs_equal_inline_path(spark, tmp_path):
    """r14: serves and builds can share one signature pass via the
    ``sigs=`` parameter. Passing precomputed signatures must change
    NOTHING about the result — same status rows from
    incremental_dedup_status, same candidate pairs from
    minhash_index_near_dups, byte-equivalent store from
    write_minhash_index."""
    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    corpus_sh = DD.shingles(corpus).localCheckpoint()
    corpus_sigs = DD.minhash_signatures(corpus_sh).localCheckpoint()
    p_inline = str(tmp_path / "idx_inline")
    p_shared = str(tmp_path / "idx_shared")
    DD.write_minhash_index(corpus, p_inline)
    DD.write_minhash_index(corpus, p_shared, sigs=corpus_sigs)

    batch_sh = DD.shingles(batch).localCheckpoint()
    batch_sigs = DD.minhash_signatures(batch_sh).localCheckpoint()

    pairs_inline = {
        (r["new_id"], r["old_id"], r["est_jaccard"])
        for r in DD.minhash_index_near_dups(
            spark, p_inline, batch, threshold=0.0
        ).collect()
    }
    pairs_shared = {
        (r["new_id"], r["old_id"], r["est_jaccard"])
        for r in DD.minhash_index_near_dups(
            spark, p_shared, batch, threshold=0.0, sh=batch_sh, sigs=batch_sigs
        ).collect()
    }
    assert pairs_inline == pairs_shared
    assert pairs_inline, "no cross-split candidates — fixture too weak"

    st_inline = {
        (r[0], r[1], r[2])
        for r in DD.incremental_dedup_status(spark, p_inline, batch).collect()
    }
    st_shared = {
        (r[0], r[1], r[2])
        for r in DD.incremental_dedup_status(
            spark, p_shared, batch, sh=batch_sh, sigs=batch_sigs
        ).collect()
    }
    assert st_inline == st_shared

    # r14: the fps= parameter (precomputed content fingerprints) must
    # change nothing either — including the no_text status, which the
    # fps path derives from fp IS NULL instead of text IS NULL
    null_doc = spark.createDataFrame(
        [(999_999, None)], "doc_id bigint, text string"
    )
    batch_n = batch.select("doc_id", "text").unionByName(null_doc)
    batch_n_sigs = DD.minhash_signatures(
        DD.shingles(batch_n, distinct=False)
    ).localCheckpoint()
    batch_n_fps = batch_n.select(
        "doc_id", DD._content_fingerprint("text").alias("fp")
    ).localCheckpoint()
    st_plain = {
        (r[0], r[1], r[2])
        for r in DD.incremental_dedup_status(spark, p_inline, batch_n).collect()
    }
    st_fps = {
        (r[0], r[1], r[2])
        for r in DD.incremental_dedup_status(
            spark, p_shared, batch_n, sigs=batch_n_sigs, fps=batch_n_fps
        ).collect()
    }
    assert st_plain == st_fps
    assert (999_999, "no_text", None) in st_fps


def test_dup_occurrences_matches_join_form(spark):
    """The r15 fused-window df (_dup_occurrences) must select exactly
    the rows the r14 distinct-aggregate + join selected: occurrences
    whose hash appears in >= min_df DISTINCT docs (intra-doc repeats
    count once toward df but every occurrence row is kept)."""
    from pyspark.sql import functions as F

    rows = []
    # hash 1: docs 1,2 (df=2); hash 2: doc 1 twice (df=1, intra-doc
    # repeat); hash 3: docs 2,3,3 (df=2 with a repeat in doc 3);
    # hash 4: doc 4 only (df=1)
    for i, (d, h) in enumerate(
        [(1, 1), (2, 1), (1, 2), (1, 2), (2, 3), (3, 3), (3, 3), (4, 4)]
    ):
        rows.append((d, i, h))
    occ = spark.createDataFrame(rows, "doc_id long, s long, span_hash long")
    got = sorted(
        map(tuple, DD._dup_occurrences(occ, "doc_id", 2).collect())
    )
    dup_hashes = (
        occ.select("doc_id", "span_hash").distinct()
        .groupBy("span_hash").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2).select("span_hash")
    )
    want = sorted(map(tuple, occ.join(dup_hashes, "span_hash")
                      .select("doc_id", "s", "span_hash").collect()))
    got = sorted((d, s, h) for (d, s, h) in got)
    assert got == want and len(got) == 5


def test_dup_occurrences_null_id_is_one_doc(spark):
    """A NULL doc id counts as ONE document toward a span's df, as in
    the distinct-aggregate form: a span repeated inside one NULL-id
    doc has df=1, and a span shared by a NULL-id doc and another doc
    has df=2."""
    from pyspark.sql import functions as F

    rows = [(None, 0, 5), (None, 1, 5), (None, 2, 6), (7, 3, 6), (8, 4, 9)]
    occ = spark.createDataFrame(rows, "doc_id long, s long, span_hash long")
    got = sorted(
        map(tuple, DD._dup_occurrences(occ, "doc_id", 2).collect()),
        key=lambda r: r[1],
    )
    dup_hashes = (
        occ.select("doc_id", "span_hash").distinct()
        .groupBy("span_hash").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2).select("span_hash")
    )
    want = sorted(
        map(tuple, occ.join(dup_hashes, "span_hash")
            .select("doc_id", "s", "span_hash").collect()),
        key=lambda r: r[1],
    )
    assert got == want == [(None, 2, 6), (7, 3, 6)]
