"""Semantic tests for the curation operators — hand-built inputs with
known answers, complementing the oracle-parity checks in
test_oracle_queries.py."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tiki_data_pipeline_spark.operators import curation as CU
from tiki_data_pipeline_spark.operators import dedup as DD


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_contamination_counts_shared_grams(spark):
    # doc 0 (benchmark, id%20==0) shares its full text with doc 21;
    # doc 22 is disjoint.
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma delta", "en"),
            (21, "alpha beta gamma delta", "en"),
            (22, "one two three four five", "en"),
        ],
    )
    sh = DD.shingles(docs)
    out = {
        r["doc_id"]: r.asDict()
        for r in CU.contamination_stats(sh, F.col("doc_id") % 20 == 0).collect()
    }
    assert set(out) == {21, 22}  # benchmark doc itself excluded
    assert out[21]["n_contaminated"] == out[21]["n_grams"] == 2
    assert out[21]["is_contaminated"] == 1
    assert out[22]["n_contaminated"] == 0 and out[22]["is_contaminated"] == 0


def test_repetition_flags(spark):
    docs = _docs(
        spark,
        [
            (1, "spam spam spam spam spam", "en"),  # one token repeated
            (2, "the quick brown fox jumps", "en"),  # all distinct
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in CU.repetition_stats(docs).collect()}
    assert out[1]["flag_repetitive"] == 1
    assert out[1]["top_bigram_count"] == out[1]["n_bigrams"] == 4
    assert out[2]["flag_repetitive"] == 0
    assert out[2]["n_distinct_tokens"] == out[2]["n_tokens"] == 5


def test_repetition_filter_short_and_empty_docs(spark):
    """Docs with fewer than 2 tokens get no stats row, in the plain
    select and in the corpus pipeline's anti-join, where the flag filter
    is pushed below the ``size >= 2`` guard and the bigram expression
    may be evaluated on them first (it must not index out of range)."""
    long_rep = " ".join(["spam"] * 200)
    docs = _docs(
        spark,
        [
            (1, None, "en"),
            (2, "", "en"),
            (3, "   ", "en"),
            (4, "one", "en"),
            (5, "a a", "en"),
            (6, long_rep, "en"),
            (7, "the quick brown fox jumps", "en"),
        ],
    )
    rep = CU.repetition_stats(docs)
    out = {r["doc_id"]: r.asDict() for r in rep.collect()}
    assert set(out) == {5, 6, 7}
    assert (out[5]["n_tokens"], out[5]["n_distinct_tokens"]) == (2, 1)
    assert out[5]["n_bigrams"] == out[5]["top_bigram_count"] == 1
    assert out[5]["flag_repetitive"] == 1
    assert out[6]["n_bigrams"] == out[6]["top_bigram_count"] == 199
    assert out[6]["flag_repetitive"] == 1
    assert out[7]["flag_repetitive"] == 0

    flagged = rep.filter(F.col("flag_repetitive") == 1).select("doc_id")
    kept = docs.join(flagged, "doc_id", "left_anti")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3, 4, 7]


def test_stratified_sample_rate_bounds_and_determinism(spark):
    rows = [(i, f"doc number {i}", "en" if i % 2 else "fr") for i in range(200)]
    docs = _docs(spark, rows)
    # rate 0 -> stratum vanishes; rate 10 -> stratum fully kept
    kept = CU.stratified_sample(docs, {"en": 0, "fr": 10}).collect()
    assert all(r["lang"] == "fr" for r in kept)
    assert len(kept) == 100
    # deterministic: identical output across runs
    a = sorted(r["doc_id"] for r in CU.stratified_sample(docs, {"en": 5}).collect())
    b = sorted(r["doc_id"] for r in CU.stratified_sample(docs, {"en": 5}).collect())
    assert a == b


def test_pack_sequences_offsets_contiguous(spark):
    rows = [(i, " ".join(["tok"] * (5 + i % 7)), "en") for i in range(60)]
    docs = _docs(spark, rows)
    out = CU.pack_sequences(docs, seq_len=16, n_shards=4).collect()
    assert len(out) == 60
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["tok_offset"])
        # stream starts at 0 and every doc starts where the previous ended
        assert shard_rows[0]["tok_offset"] == 0
        for prev, cur in zip(shard_rows, shard_rows[1:]):
            assert cur["tok_offset"] == prev["tok_offset"] + prev["n_tokens"]
        for r in shard_rows:
            assert r["seq_id"] == r["tok_offset"] // 16


def test_mix_weights_inverse_to_stratum_size(spark):
    docs = _docs(
        spark,
        [(1, "a b c d", "en"), (2, "a b c d", "en"), (3, "x y z w", "fr")],
    )
    out = {
        r["lang"]: r.asDict()
        for r in CU.mix_weights(docs, {"en": 500000, "fr": 500000}).collect()
    }
    # total 12 tokens; en has 8, fr has 4 -> weights 12*0.5/8 and 12*0.5/4
    assert out["en"]["weight_ppm"] == 750000
    assert out["fr"]["weight_ppm"] == 1500000


def test_mix_weights_exact_beyond_bigint_overflow(spark):
    """At 100 TB-regime token counts (1e13 per stratum) the
    total×ppm product exceeds 2^63; the DECIMAL path must match exact
    Python integer math, not overflow or round through a double."""
    counts = {"en": 100_000_000_000_123, "vi": 70_000_000_000_077, "fr": 3_000_001}
    ppm = {"en": 400_000, "vi": 350_000, "fr": 250_000}
    rows = [(i, lang, n) for i, (lang, n) in enumerate(counts.items())]
    docs = spark.createDataFrame(rows, "doc_id int, lang string, n_tokens bigint")
    out = {
        r["lang"]: r.asDict()
        for r in CU.mix_weights(docs, ppm, tokens_col="n_tokens").collect()
    }
    total = sum(counts.values())
    assert total * max(ppm.values()) > 2**63  # the overflow regime
    for lang, n in counts.items():
        assert out[lang]["stratum_tokens"] == n
        assert out[lang]["weight_ppm"] == (total * ppm[lang]) // n, lang


def test_redact_pii_tokens_and_counts(spark):
    from tiki_data_pipeline_spark import fixtures as FX
    from pyspark.sql import functions as F

    docs = FX.pii_docs_df(spark)
    out = {r["doc_id"]: r.asDict() for r in CU.redact_pii(docs).collect()}
    assert out[9001]["n_email"] == 1 and out[9001]["n_phone"] == 1
    assert out[9002]["n_url"] == 1 and out[9002]["n_email"] == 1
    assert out[9003]["n_phone"] == 2
    assert out[9004] == {
        "doc_id": 9004, "n_url": 0, "n_email": 0, "n_phone": 0,
        "redacted_md5": out[9004]["redacted_md5"],
    }
    # the actual redacted text carries the typed tokens and no raw PII
    redacted = F.col("text")
    for _, pat, token in CU.PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    texts = {
        r["doc_id"]: r["red"]
        for r in docs.select("doc_id", redacted.alias("red")).collect()
    }
    assert "<EMAIL>" in texts[9001] and "<PHONE>" in texts[9001]
    assert "nguyen.van@example.com" not in texts[9001]
    assert "<URL>" in texts[9002] and "shop.example.vn" not in texts[9002]
    assert texts[9003].count("<PHONE>") == 2


def test_word_entropy_extremes(spark):
    docs = _docs(
        spark,
        [(1, "a a a a", "en"), (2, "a b c d", "en")],
    )
    out = {r["doc_id"]: r["entropy_bits"] for r in CU.word_entropy(docs).collect()}
    assert out[1] == 0.0
    assert math.isclose(out[2], 2.0, abs_tol=1e-9)


def test_stratified_sample_rate_monotonic(spark):
    """Same hash, higher rate -> strict superset: h*10 < 3*2^56 implies
    h*10 < 8*2^56, so raising a stratum's rate only ADDS documents —
    the property that makes deterministic-hash sampling re-tunable
    without reshuffling previously selected data."""
    rows = [(i, f"token salad {i}", "en") for i in range(300)]
    docs = _docs(spark, rows)
    low = {r["doc_id"] for r in CU.stratified_sample(docs, {"en": 3}).collect()}
    high = {r["doc_id"] for r in CU.stratified_sample(docs, {"en": 8}).collect()}
    assert low < high


def test_redact_pii_idempotent_on_redacted_text(spark):
    """Redaction tokens contain no digits/@/scheme, so re-redacting
    already-redacted text is a fixpoint (safe to re-run the scrub)."""
    from tiki_data_pipeline_spark import fixtures as FX
    from pyspark.sql import functions as F

    docs = FX.pii_docs_df(spark)
    redacted = F.col("text")
    for _, pat, token in CU.PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    once = docs.select("doc_id", redacted.alias("text"))
    twice_expr = F.col("text")
    for _, pat, token in CU.PII_PATTERNS:
        twice_expr = F.regexp_replace(twice_expr, pat, token)
    pairs = once.select("doc_id", "text", twice_expr.alias("text2")).collect()
    for r in pairs:
        assert r["text"] == r["text2"], r["doc_id"]


def test_dsir_weights_favor_target_distribution(spark):
    """DSIR sanity: documents FROM the target slice (en) must score a
    higher mean log-weight than the rest, and Gumbel-top-k selection
    must enrich the sample's en-share above the corpus base rate."""
    from tiki_data_pipeline_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    target = docs.filter(F.col("lang") == "en")
    w = CU.dsir_log_weights(docs, target, n_buckets=256).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    means = {
        r["is_en"]: r["m"]
        for r in w.filter(F.col("log_weight").isNotNull())
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    }
    assert means[True] > means[False]

    n_docs = docs.count()
    base_rate = target.count() / n_docs
    sample = CU.dsir_sample(docs, target, n=50, n_buckets=256).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    got = sample.count()
    assert got == 50
    en_share = sample.filter(F.col("lang") == "en").count() / got
    assert en_share > base_rate


def test_dsir_sample_precomputed_weights_parity(spark, tmp_path):
    """dsir_sample(weights=...) must return row-identical results to
    the self-featurizing path (the r8 verdict ask: pay featurization
    once per corpus, not once per consumer), and the persisted
    weights store round-trips with its n_buckets pinned — serving it
    under a different feature-space parameter raises."""
    import pytest

    from tiki_data_pipeline_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    target = docs.filter(F.col("lang") == "en")

    w = CU.dsir_log_weights(docs, target, n_buckets=256)
    a = sorted(
        map(tuple, CU.dsir_sample(docs, target, n=25, n_buckets=256).collect())
    )
    b = sorted(
        map(
            tuple,
            CU.dsir_sample(docs, target, n=25, n_buckets=256, weights=w).collect(),
        )
    )
    assert a == b

    path = str(tmp_path / "dsir_w")
    CU.write_dsir_weights_store(w, path, n_buckets=256)
    served = CU.read_dsir_weights_store(spark, path, n_buckets=256)
    c = sorted(
        map(
            tuple,
            CU.dsir_sample(
                docs, target, n=25, n_buckets=256, weights=served
            ).collect(),
        )
    )
    assert a == c
    with pytest.raises(Exception):
        CU.read_dsir_weights_store(spark, path, n_buckets=1024)


def test_source_frequency_cap_keeps_at_most_cap(spark):
    """Every source keeps exactly min(cap, size) docs; ranks are a
    permutation of 1..size per source; the lottery is deterministic
    across invocations."""
    rows = [(i, f"doc {i}", "src%d" % (i % 3)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = CU.source_frequency_cap(docs, cap=4, source_col="source")
    per = {
        r["source"]: (r["n"], r["kept_n"], r["rank_set"])
        for r in out.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("kept").alias("kept_n"),
            F.sort_array(F.collect_list("src_rank")).alias("rank_set"),
        )
        .collect()
    }
    for src, (n, kept_n, ranks) in per.items():
        assert kept_n == min(4, n), src
        assert ranks == list(range(1, n + 1)), src
    again = CU.source_frequency_cap(docs, cap=4, source_col="source")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_shard_assignment_partitions_and_positions(spark):
    """Shards cover [0, n_shards); positions are 1..size within each
    shard; the assignment is deterministic and total (every doc
    exactly once); sizes are hash-balanced (no empty shard at 400/8)."""
    docs = spark.range(400).withColumnRenamed("id", "doc_id")
    out = CU.shard_assignment(docs, 8).collect()
    assert len(out) == 400
    assert {r["doc_id"] for r in out} == set(range(400))
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(8))
    for s, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), s


def test_quantile_profile_exact_known_values(spark):
    """p50 of 1..4 token docs is interpolated 2.5 tokens; exact and
    approx modes agree on the median of a tiny distinct-value set."""
    from tiki_data_pipeline_spark.operators import textstats as TS

    rows = [
        (1, "a", "en"),
        (2, "a b", "en"),
        (3, "a b c", "en"),
        (4, "a b c d", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = TS.quantile_profile(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_docs"] == 4
    assert r["tokens_p50"] == 2.5
    assert r["tokens_p25"] == 1.75
    # char counts: 1, 3, 5, 7 -> p50 = 4.0
    assert r["chars_p50"] == 4.0
    approx = TS.quantile_profile(docs, exact=False).collect()[0]
    assert approx["tokens_p50"] in (2.0, 2.5, 3.0)  # sketch picks a sample


def test_apply_mix_budget_and_exclusion(spark):
    """A stratum under its allotment is kept whole (rate 1e6); a
    stratum over it is sampled near its token budget; absent strata
    are excluded; reruns are identical."""
    rows = (
        [(i, "w " * 20, "big") for i in range(200)]
        + [(1000 + i, "w " * 10, "small") for i in range(5)]
        + [(2000 + i, "w " * 10, "out") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = CU.apply_mix(docs, {"big": 500_000, "small": 500_000}, 2000)
    per = {
        r["lang"]: (r["toks"], r["rate"])
        for r in out.groupBy("lang")
        .agg(F.sum("n_tokens").alias("toks"), F.first("rate_ppm").alias("rate"))
        .collect()
    }
    assert "out" not in per
    # small: allotment 1000 tokens > its 50 -> kept whole at rate 1e6
    assert per["small"] == (50, 1_000_000)
    # big: 4000 corpus tokens sampled toward a 1000-token allotment
    assert per["big"][1] == 250_000
    assert 0 < per["big"][0] < 4000
    again = CU.apply_mix(docs, {"big": 500_000, "small": 500_000}, 2000)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_dsir_xxhash64_mode_distribution_parity(spark, tmp_path):
    """The production hash mode ("xxhash64", pure JVM codegen — no
    md5 hex render per gram) assigns DIFFERENT buckets than md5, so
    parity is distributional, not bitwise: target-slice documents
    must outscore the rest under both modes, the two modes' top-k
    selections must substantially agree, and the weights-store meta
    pins the mode so consumers cannot silently mix feature spaces."""
    import pytest

    from tiki_data_pipeline_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    target = docs.filter(F.col("lang") == "en")

    def mean_by_slice(w):
        return {
            r["is_en"]: r["m"]
            for r in w.join(docs.select("doc_id", "lang"), "doc_id")
            .filter(F.col("log_weight").isNotNull())
            .groupBy((F.col("lang") == "en").alias("is_en"))
            .agg(F.avg("log_weight").alias("m"))
            .collect()
        }

    wx = CU.dsir_log_weights(docs, target, n_buckets=256, hash="xxhash64")
    mx = mean_by_slice(wx)
    assert mx[True] > mx[False]

    k = 50
    top_md5 = {
        r["doc_id"]
        for r in CU.dsir_sample(docs, target, n=k, n_buckets=256).collect()
    }
    top_xx = {
        r["doc_id"]
        for r in CU.dsir_sample(
            docs, target, n=k, n_buckets=256, hash="xxhash64"
        ).collect()
    }
    # same estimator over the same corpus with a different uniform
    # hash family: the selections must mostly agree
    assert len(top_md5 & top_xx) >= int(0.6 * k), (len(top_md5 & top_xx), k)

    path = str(tmp_path / "dsir_wxx")
    CU.write_dsir_weights_store(wx, path, n_buckets=256, hash="xxhash64")
    assert (
        CU.read_dsir_weights_store(
            spark, path, n_buckets=256, hash="xxhash64"
        ).count()
        == wx.count()
    )
    with pytest.raises(ValueError, match="hash"):
        CU.read_dsir_weights_store(spark, path, n_buckets=256, hash="md5")

    with pytest.raises(ValueError, match="hash mode"):
        CU.dsir_log_weights(docs, target, hash="crc32")
