"""Training-data curation operators: benchmark decontamination,
repetition (Gopher-style) filters, deterministic stratified sampling,
sequence packing, and corpus mix weighting.

These are the corpus-preparation steps a large-scale pretraining
pipeline runs AFTER dedup (``operators/dedup.py``) and text scoring
(``operators/textstats.py``): remove eval-set contamination, drop
degenerate repetitive documents, rebalance languages/sources, and
pack documents into fixed-length training sequences.

Scale design:

- **Decontamination** — the benchmark n-gram set is tiny (eval suites
  are MBs) next to the corpus, so it is broadcast; the corpus-side
  shingle scan stays map-side and only matching grams reach the
  per-doc count shuffle. No O(corpus × benchmark) anywhere.
- **Repetition stats** — pure per-row array expressions (no explode,
  no shuffle): duplicate-token and top-bigram fractions come from
  higher-order functions over the token array, so the filter is a
  narrow map at any scale.
- **Stratified sampling** — a deterministic md5-hash Bernoulli per
  stratum: map-side filter, zero shuffle, reproducible across runs
  and engines (no RNG state).
- **Sequence packing** — a global cumulative sum would serialize on
  one window partition; instead documents are hash-sharded and packed
  per shard (standard practice — each shard is an independent token
  stream), so the window runs at shard parallelism.

All hashes derive from md5 so the DuckDB oracles reproduce them
bit-for-bit. Flags are emitted as INTEGER 0/1 and fractions as
integer comparisons (no float thresholds to disagree on).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 56 bits of md5 — headroom for ×10 rate math without bigint overflow.
_H56_MAX = 1 << 56


def md5_h56(col: Column, salt: str) -> Column:
    """Deterministic 56-bit uniform hash of ``salt:value`` — identical
    in DuckDB via try_cast('0x' || substring(md5(...),1,14) AS BIGINT)."""
    key = F.concat(F.lit(salt + ":"), col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 14), 16, 10).cast("bigint")


def contamination_stats(
    sh: DataFrame,
    bench_pred: Column,
    id_col: str = "doc_id",
    threshold_pct: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct n-gram shingles appear in ANY benchmark document.

    ``sh`` is a distinct (doc_id, shingle) set (``dedup.shingles``);
    ``bench_pred`` partitions it into benchmark (True) vs corpus.
    A document is contaminated when ≥ ``threshold_pct`` % of its
    grams are benchmark grams (integer comparison, no float).

    Reference analogue: the reference pipeline's seen-URL / crawl
    blocklist joins (src/pipelines/crawl/crawl_products_detail.py);
    semantics here follow public benchmark-overlap decontamination
    practice (GPT-3 appendix C style n-gram overlap).
    """
    bench = F.broadcast(sh.filter(bench_pred).select("shingle").distinct())
    corpus = sh.filter(~bench_pred)
    totals = corpus.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        corpus.join(bench, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint")
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            F.col("n_grams").cast("bigint").alias("n_grams"),
            n_cont.alias("n_contaminated"),
            (n_cont * 100 >= F.col("n_grams") * threshold_pct)
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def _adjacent_pairs(arr: Column, f) -> Column:
    """``[f(arr[i], arr[i+1]) for i]``: ``arr`` zipped with its own
    tail. ``arr``'s elements must not be NULL.

    Every lambda reads only its own parameters. The obvious
    ``transform(sequence(1, n-1), i -> f(element_at(arr, i), ...))``
    reads ``arr`` from inside the lambda, and when a filter on a
    derived column is pushed through the projection that materialized
    ``arr``, the optimizer inlines ``arr``'s defining expression (a
    regex ``split`` of the whole text) into the lambda: one full
    re-tokenize per element. Here ``arr`` appears twice, as plain
    arguments, so however it is inlined each row evaluates it twice,
    and nesting (pairs of pairs) costs 4×, not the 16× of two
    ``size``-bounded slices. The tail is one shorter, so ``zip_with``
    pads the last pair with NULL and ``array_compact`` drops it. An
    empty or 1-element array yields ``[]`` (no out-of-range index for
    a hoisted subexpression to trip on) and NULL yields NULL."""
    tail = F.filter(arr, lambda x, i: i > 0)
    return F.array_compact(
        F.zip_with(arr, tail, lambda a, b: F.when(b.isNotNull(), f(a, b)))
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality stats, computed per-row with
    higher-order array functions (narrow map, no shuffle):

    - duplicate-token fraction: 1 - distinct/total tokens;
    - top-bigram fraction: occurrences of the most frequent bigram
      over all bigrams.

    ``flag_repetitive`` (0/1) trips when duplicate tokens ≥ 50% or
    the top bigram actually repeats (count ≥ 2) AND covers ≥ 20% of
    bigrams — integer comparisons; the count≥2 guard keeps short
    all-distinct documents (where 1 of 4 bigrams is already 25%)
    from tripping on noise.

    Bigrams come from :func:`_adjacent_pairs`. A filter on
    ``flag_repetitive`` (the corpus pipeline's anti-join) is pushed
    below both projections with ``toks`` inlined, so any lambda that
    read ``toks`` would re-split the text once per bigram, O(tokens²)
    per row; and the bigram expression may be hoisted ahead of the
    ``size >= 2`` guard, so it must be safe on empty and 1-token docs.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(id_col, toks.alias("toks")).filter(F.size("toks") >= 2)
    t = F.col("toks")
    grams = _adjacent_pairs(t, lambda a, b: F.concat_ws(" ", a, b))
    base = base.withColumn("grams", grams)
    g = F.col("grams")
    # Most-frequent-bigram count = longest equal run in the SORTED gram
    # list: O(n log n) per row, vs the O(distinct·n) quadratic scan a
    # per-gram filter would do (~100× on 120-token documents).
    top_bigram = F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_tokens = F.size(t).cast("bigint")
    n_distinct = F.size(F.array_distinct(t)).cast("bigint")
    n_bigrams = F.size(g).cast("bigint")
    top = top_bigram.cast("bigint")
    return base.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        n_bigrams.alias("n_bigrams"),
        top.alias("top_bigram_count"),
        (
            ((n_tokens - n_distinct) * 2 >= n_tokens)
            | ((top >= 2) & (top * 5 >= n_bigrams))
        )
        .cast("int")
        .alias("flag_repetitive"),
    )


def stratified_sample(
    docs: DataFrame,
    rates_tenths: dict[str, int],
    strata_col: str = "lang",
    default_tenths: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified Bernoulli sample: keep a row when its
    56-bit md5 hash falls under the stratum's rate (in tenths, so the
    keep test is exact integer math: h*10 < rate*2^56).

    Used to rebalance a corpus (e.g. downsample a dominant language)
    reproducibly — same rows survive on every run and in the oracle.
    """
    h = md5_h56(F.col(id_col), "strat")
    rate = F.lit(default_tenths)
    for k, v in sorted(rates_tenths.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return docs.filter(h * 10 < rate.cast("bigint") * _H56_MAX)


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequence packing: hash-shard documents into ``n_shards``
    independent token streams, order each stream deterministically by
    hash, and assign every document the training sequence its first
    token lands in (offset // seq_len over a per-shard running sum).

    Shard-local windows keep the cumulative sum parallel — a single
    global ORDER BY would bottleneck one task at 100 TB.
    """
    h = md5_h56(F.col(id_col), "pack")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).cast(
        "bigint"
    )
    base = docs.select(
        F.col(id_col),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        h.alias("h"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / seq_len).alias("seq_id"),
    )


def mix_weights(
    docs: DataFrame,
    target_ppm: dict[str, int],
    strata_col: str = "lang",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus mixing weights: per stratum, the sampling weight (ppm,
    integer) that would reshape the token distribution to the target
    shares. weight_ppm = total_tokens * target_ppm // stratum_tokens.

    The per-stratum aggregate is one map-side-combinable shuffle; the
    grand total is a window over the handful of stratum rows.

    The total×ppm product is computed in DECIMAL, not BIGINT: at the
    100 TB regime total_tokens exceeds 9.2e12 and ``total * ppm``
    overflows 2^63 (and BIGINT/BIGINT division in Spark is DOUBLE,
    losing exactness past 2^53). decimal(30,0)·decimal(7,0) =
    decimal(38,0) holds the product exactly.

    ``tokens_col`` takes a precomputed per-doc token count (the
    production shape — counts come out of the tokenizer run); when
    omitted, whitespace tokens of ``text_col`` are counted inline.
    """
    if tokens_col is not None:
        n_tokens = F.col(tokens_col).cast("bigint")
    else:
        n_tokens = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).cast(
            "bigint"
        )
    per = docs.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("stratum_tokens"),
    )
    target = F.lit(0)
    for k, v in sorted(target_ppm.items()):
        target = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(target)
    tok_dec = F.col("stratum_tokens").cast("decimal(20,0)")
    total = F.sum(tok_dec).over(Window.partitionBy())  # decimal(30,0)
    # `div` (integral division) over decimals is exact; floor(a / b)
    # would round through a lossy decimal quotient first.
    return per.withColumn("_num", total * target.cast("decimal(7,0)")).select(
        strata_col,
        "n_docs",
        "stratum_tokens",
        F.expr("_num div stratum_tokens").cast("bigint").alias("weight_ppm"),
    )


def word_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram entropy (bits), a CCNet-style degenerate-
    text signal: H = log2(n) - sum(c·log2 c)/n over token counts.

    Computed per-row from the token array (narrow, no shuffle); the
    counts are summed in SORTED distinct-token order so Spark and the
    oracle add the identical float sequence, then rounded to 4dp.

    The counts are the run lengths of the sorted token array: run
    boundaries are where adjacent sorted tokens differ, and a count is
    the gap between consecutive boundaries. Every lambda reads only its
    own parameters, so a filter on ``entropy_bits`` that the optimizer
    pushes below the projection (inlining the ``split`` into the plan)
    still tokenizes each row O(1) times; the cost is a few O(n log n)
    sorts (the sorted array is an argument of nested
    :func:`_adjacent_pairs`), not an O(vocab·n) per-distinct-token
    scan.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(id_col, toks.alias("toks")).filter(F.size("toks") >= 1)
    t = F.col("toks")
    breaks = _adjacent_pairs(F.array_sort(t), lambda a, b: a != b)
    edges = F.concat(F.array(F.lit(True)), breaks, F.array(F.lit(True)))
    bounds = F.array_compact(F.transform(edges, lambda e, i: F.when(e, i)))
    counts = _adjacent_pairs(bounds, lambda a, b: (b - a).cast("double"))
    s = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + c * F.log2(c),
    )
    n = F.size(t).cast("double")
    return base.select(
        id_col,
        F.size(t).cast("int").alias("n_tokens"),
        F.round(F.log2(n) - s / n, 4).alias("entropy_bits"),
    )


# PII redaction patterns — conservative syntax valid in BOTH Java
# regex (Spark) and RE2 (DuckDB oracle): no lookarounds, no \b around
# non-word chars. Applied URL → email → phone so an address inside a
# URL is consumed by the URL token first.
PII_PATTERNS = [
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9 .-]{7,14}[0-9]", "<PHONE>"),
]


def redact_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_text: bool = False,
) -> DataFrame:
    """PII scrub for training corpora: URLs, emails and phone-shaped
    number runs replaced by typed tokens, with per-doc counts of the
    tokens ACTUALLY INSERTED (counted on the redacted text, so the
    counts reconcile with the output: an email consumed by an earlier
    URL replacement counts once, as a URL; the trade is that a raw
    document already containing a literal ``<URL>``-style token string
    counts it as redacted). Pure JVM
    regexp_replace/regexp_count column expressions — no UDF, fully
    parallel, no shuffle. ``keep_text=True`` adds the redacted text
    itself (the corpus-pipeline shape); the default emits only its
    md5 (the compact audit/oracle shape)."""
    redacted = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    counts = [
        F.regexp_count(redacted, F.lit(token)).cast("int").alias(f"n_{name}")
        for name, _, token in PII_PATTERNS
    ]
    extra = [redacted.alias("redacted_text")] if keep_text else []
    return docs.select(
        id_col,
        *counts,
        F.md5(redacted).alias("redacted_md5"),
        *extra,
    )


# ------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169). Hashed-n-gram bag features; a document's log
# importance weight is sum_b count_b * ln(p_target[b] / p_raw[b])
# over its feature buckets, with the two bucket distributions
# estimated (Laplace-smoothed) from the raw corpus and a target
# corpus. Selection = Gumbel-top-k over the log weights — here the
# Gumbel noise is derived from md5(doc_id), so selection is
# deterministic and reproducible across engines.
#
# Scale shape: featurization is one narrow pass per corpus (split +
# higher-order bigram expression + explode → one map-side-combined
# groupBy per corpus onto n_buckets rows). The bucket table is tiny
# (n_buckets rows) and broadcast back onto the per-doc bucket counts;
# the per-doc weight is one more combine-friendly groupBy. Selection
# is orderBy().limit() = distributed TakeOrdered, never a global
# window.


def _dsir_grams(text: Column) -> Column:
    """Unigrams + bigrams of the whitespace-lowered token stream.
    ``toks`` is an inline ``split``, not a column: the bigrams come
    from :func:`_adjacent_pairs`, whose lambda never reads ``toks``,
    so each row splits its text O(1) times."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    bigrams = _adjacent_pairs(toks, lambda a, b: F.concat(a, F.lit("_"), b))
    return F.concat(toks, bigrams)


def _dsir_featurizer(hash: str, n_buckets: int, text_col: str):
    """DSIR featurization for one ``hash`` mode as ``(prep, buckets)``:
    ``prep(d, *cols)`` is the PREP projection (``cols``, ``_has_text``
    and what the bucket expression reads, materialized so nothing
    expensive is re-evaluated per element) and ``buckets()`` is the
    per-doc bucket-array EXPRESSION over prep's output.

    They are split because the two consumers in
    :func:`dsir_log_weights` need different shapes: bucketize
    materializes ``_bkts`` as a column (the raw corpus is
    localCheckpointed right after, so its explode reads arrays from
    memory), while the TARGET distribution explodes the expression
    directly — explode(<attribute>) trips InferFiltersFromGenerate,
    which inlines the full featurize into a size()>0 filter and pushes
    it below the fan-out repartition: the whole target corpus then
    hashes on ONE core (the same trap the span family documents in
    dedup.py)."""
    if hash == "md5":
        def prep(d: DataFrame, *cols) -> DataFrame:
            return d.select(
                *cols,
                F.col(text_col).isNotNull().alias("_has_text"),
                F.coalesce(F.col(text_col), F.lit("")).alias("_txt"),
            )

        def buckets() -> Column:
            return F.transform(
                _dsir_grams(F.col("_txt")),
                # int, not bigint: buckets < n_buckets, and the
                # materialized arrays are the featurize pass's whole
                # memory footprint — half-width halves the spill
                lambda g: F.pmod(
                    md5_h56(g, "dsir"), F.lit(n_buckets)
                ).cast("int"),
            )
    elif hash == "xxhash64":
        # The fast mode avoids materializing GRAM STRINGS entirely:
        # each token is xxhash64'd once (salted), unigram buckets are
        # pmod of that long, and bigram buckets hash the two adjacent
        # token LONGS natively (xxhash64 is variadic over columns) —
        # no per-bigram string concat, half the string hashing, and
        # no overflow-prone arithmetic (ANSI mode would throw on a
        # long multiply). The token-hash array is materialized as a
        # real column first so the bigram pairs read it instead of
        # re-evaluating the hash transform.
        def prep(d: DataFrame, *cols) -> DataFrame:
            toks = F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            )
            return d.select(
                *cols,
                F.col(text_col).isNotNull().alias("_has_text"),
                F.transform(
                    toks,
                    lambda t: F.xxhash64(F.concat(F.lit("dsir:"), t)),
                ).alias("_th"),
            )

        def buckets() -> Column:
            th = F.col("_th")
            uni = F.transform(
                th, lambda h: F.pmod(h, F.lit(n_buckets)).cast("int")
            )
            big = _adjacent_pairs(
                th,
                lambda a, b: F.pmod(F.xxhash64(a, b), F.lit(n_buckets)).cast(
                    "int"
                ),
            )
            return F.concat(uni, big)
    else:
        raise ValueError(f"unknown DSIR hash mode: {hash!r}")
    return prep, buckets


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash: str = "md5",
) -> DataFrame:
    """Per-document DSIR log importance weight of ``docs`` (the raw
    corpus) toward ``target``'s hashed-n-gram distribution:
    ``(doc_id, log_weight)``, log_weight rounded to 4 decimals
    (per-bucket log-ratios rounded to 9 first so both engines sum the
    same addends). A NULL-text document has no features and carries
    log_weight NULL — surfaced, not silently zero.

    ``hash`` picks the gram→bucket function. ``"md5"`` (default) is
    the cross-engine-checkable family every oracle query pins.
    ``"xxhash64"`` is the production-scale mode: tokens are hashed
    once with the variadic JVM builtin and bigram buckets hash the
    two adjacent token LONGS — no bigram string is ever materialized
    and no md5 hex render/parse runs. Measured 2.3× faster than md5
    (6.2 → 2.7 s for 50k docs on 4 CPUs). The 5.7× (500k docs) once
    quoted here was taken while md5 mode re-split the whole text
    once per bigram; at 50k docs that trap made md5 32 s, 11.7× the
    xxhash64 time. Bucket assignments differ
    between modes (both uniform), so DSIR's distribution estimates
    agree statistically, not bitwise: weights stores pin the mode in
    meta and consumers must not mix them."""
    # Two narrow passes, ZERO wide shuffles. Pass 1 (per corpus): the
    # bucket DISTRIBUTION — explode + groupBy(bucket) map-side-combines
    # down to ≤n_buckets rows per task before the exchange, so the
    # shuffle is ~KB no matter the corpus size. The ≤n_buckets-row
    # log-ratio table then collects to the driver and becomes a
    # LITERAL array indexed by bucket id (O(1) element_at — a map
    # literal would linear-scan per lookup). Pass 2: per-doc weights
    # are a pure per-row expression — distinct buckets × occurrence
    # count × lw[bucket] — so document text never shuffles at all.
    # The addend set (cnt·lw per distinct bucket, log-ratios rounded
    # to 9 first) is exactly the oracle's; only summation order
    # differs, which the round-to-4 contract already absorbs.
    # (The previous shape aggregated (id, bucket, cnt) bags — a
    # corpus-sized exchange that was 10× the cost of the math.)
    # Featurization is split into a PREP projection and the
    # bucket-array EXPRESSION; see _dsir_featurizer for why.
    prep, buckets = _dsir_featurizer(hash, n_buckets, text_col)

    # the raw corpus is featurized ONCE: the materialized per-doc
    # bucket arrays (≈ tokens × 2 ints/doc, tiny next to text) feed
    # both the bucket distribution and the per-doc weights — the
    # md5-per-gram hashing is the dominant cost at scale, so it must
    # not run once per consumer. A small corpus read as ONE file
    # split would featurize on one core (md5 is CPU-bound) — fan it
    # out first; at scale input splits ≥ parallelism and this is a
    # no-op, so the full-corpus text shuffle never happens there.
    from tiki_data_pipeline_spark.io import fan_out_small

    spark = docs.sparkSession
    docs = fan_out_small(docs)
    target = fan_out_small(target)
    def bucketize(d: DataFrame, *cols) -> DataFrame:
        return prep(d, *cols).select(
            *cols, "_has_text", buckets().alias("_bkts")
        )

    raw = bucketize(docs, F.col(id_col)).localCheckpoint()

    def dist(d: DataFrame, name: str) -> DataFrame:
        # raw is checkpointed: the inferred size-filter reads
        # materialized arrays, not the featurize expression
        return (
            d.select(F.explode("_bkts").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    # target distribution: generator over the EXPRESSION (see
    # _dsir_featurizer — attribute explode would single-core
    # the target featurize via the pushed inferred filter)
    tgt_dist = (
        prep(target)
        .select(F.explode(buckets()).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )

    totals = {
        int(r["bucket"]): (r["c_raw"] or 0, r["c_tgt"] or 0)
        for r in dist(raw, "c_raw")
        .join(tgt_dist, "bucket", "full")
        .na.fill({"c_raw": 0, "c_tgt": 0})
        .collect()
    }
    n_raw = sum(c for c, _ in totals.values())
    n_tgt = sum(c for _, c in totals.values())
    import math

    lw = [
        round(
            math.log((totals.get(b, (0, 0))[1] + 1.0) / (n_tgt + n_buckets))
            - math.log((totals.get(b, (0, 0))[0] + 1.0) / (n_raw + n_buckets)),
            9,
        )
        for b in range(n_buckets)
    ]
    # Arrow-batched weight kernel, NOT higher-order functions: HOF
    # lambdas evaluate interpreted (outside whole-stage codegen), and
    # a distinct-buckets × occurrence-count formulation walks the
    # expression tree O(d²) times per row — measured ~2.6 ms/doc,
    # 10× the whole rest of the pipeline. numpy does the same math
    # (bincount ⊙ lw = the oracle's cnt·lw addends per distinct
    # bucket, plus exact-zero terms that cannot change a float sum)
    # in ~30 µs/doc.
    import numpy as np

    lw_np = np.array(lw, dtype=np.float64)
    k_buckets = n_buckets

    @F.pandas_udf("double")
    def _weight(bkts: pd.Series) -> pd.Series:
        out = np.empty(len(bkts), dtype=np.float64)
        for i, b in enumerate(bkts):
            arr = np.asarray(b, dtype=np.int64)
            out[i] = (
                float(np.bincount(arr, minlength=k_buckets) @ lw_np)
                if arr.size
                else 0.0
            )
        return pd.Series(out)

    return raw.select(
        F.col(id_col),
        F.when(
            F.col("_has_text"), F.round(_weight(F.col("_bkts")), 4)
        ).alias("log_weight"),
    )


def dsir_sample(
    docs: DataFrame,
    target: DataFrame,
    n: int,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: DataFrame | None = None,
    hash: str = "md5",
) -> DataFrame:
    """Gumbel-top-``n`` DSIR selection: sampling without replacement
    with inclusion odds ∝ exp(log_weight) (the Gumbel-max trick),
    made deterministic by deriving the Gumbel noise from
    md5('dsir_g:' || doc_id). Returns ``(doc_id, log_weight,
    sample_key)`` for the selected documents; NULL-weight (no-text)
    docs are never selected. orderBy().limit() keeps selection a
    distributed TakeOrdered.

    ``weights`` — a precomputed ``(id_col, log_weight)`` DataFrame
    (from :func:`dsir_log_weights` or
    :func:`read_dsir_weights_store`) — skips featurization entirely:
    the md5-per-gram pass is the dominant DSIR cost (one full corpus
    read), so a corpus must pay it once, not once per consumer (the
    r8 bench showed the two registry DSIR queries re-featurizing
    back-to-back). Selection from precomputed weights touches no
    text at all."""
    u = (md5_h56(F.col(id_col).cast("string"), "dsir_g") + 0.5) / F.lit(
        float(_H56_MAX)
    )
    gumbel = -F.log(-F.log(u))
    if weights is None:
        weights = dsir_log_weights(
            docs, target, n_buckets, id_col, text_col, hash=hash
        )
    return (
        weights.select(id_col, "log_weight")
        .filter(F.col("log_weight").isNotNull())
        .withColumn("sample_key", F.round(F.col("log_weight") + gumbel, 4))
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(n)
    )


def write_dsir_weights_store(
    weights: DataFrame, path: str, n_buckets: int = 1024, hash: str = "md5"
) -> None:
    """Persist a :func:`dsir_log_weights` result as a reusable store
    (the r8 verdict's "a 100 TB user must never pay featurization
    twice"): parquet rows + pinned meta recording the feature-space
    parameter, so a consumer serving from the store cannot silently
    mix weights computed under a different ``n_buckets``."""
    from tiki_data_pipeline_spark.sources.files import write_store_meta

    weights.write.mode("overwrite").parquet(path)
    write_store_meta(
        path,
        {
            "kind": "dsir_weights",
            "n_buckets": int(n_buckets),
            "hash": hash,
            "n_docs": int(weights.count()),
        },
    )


def read_dsir_weights_store(
    spark, path: str, n_buckets: int | None = None, hash: str | None = None
) -> DataFrame:
    """Serve a persisted DSIR weights table; ``n_buckets`` and
    ``hash`` (when the caller knows what feature space it expects)
    are checked against the store meta and a mismatch raises instead
    of silently reweighting with incompatible features. Stores
    written before the ``hash`` pin are md5 by construction."""
    from tiki_data_pipeline_spark.sources.files import (
        check_store_meta,
        read_store_meta,
    )

    expected = {"kind": "dsir_weights"}
    if n_buckets is not None:
        expected["n_buckets"] = int(n_buckets)
    check_store_meta(path, expected)
    if hash is not None:
        actual = (read_store_meta(path) or {}).get("hash", "md5")
        if actual != hash:
            raise ValueError(
                f"DSIR weights store at {path} was built with "
                f"hash={actual!r}, caller expects {hash!r}"
            )
    return spark.read.parquet(path)


def source_frequency_cap(
    docs: DataFrame,
    cap: int,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """RefinedWeb-style per-source frequency cap: keep at most ``cap``
    documents per source, chosen by a deterministic md5 lottery
    (hash-ordered, id tie-break — reproducible across runs and
    engines, no RNG state). Returns every input row annotated with
    its lottery rank and a 0/1 ``kept`` flag so callers can audit
    what a hard filter would drop before dropping it.

    Shape at 100 TB: one shuffle on ``source`` for the rank window.
    Source cardinality is typically millions (domains), so partitions
    stay balanced; a single mega-source is exactly what the cap
    exists to cut, and its window group holds at most the pre-cap
    rows of ONE source — bounded by that source's size, not the
    corpus. The reference's crawl planner rate-limits per seller the
    same way (frequency governance, not quality scoring)."""
    h = md5_h56(F.col(id_col), "srccap")
    w = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    return docs.select(
        id_col,
        source_col,
        F.row_number().over(w).alias("src_rank"),
    ).withColumn(
        "kept", (F.col("src_rank") <= cap).cast("integer")
    )


def shard_assignment(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    data writing: every document gets a shard in ``[0, n_shards)``
    and a position within its shard, both derived from an md5 hash of
    the id — the classic "shuffle once, read sequentially" layout a
    trainer expects, reproducible across runs and engines.

    Returns ``(id, shard, pos)`` with ``pos`` 1-based in hash order.

    Shape at 100 TB: one shuffle keyed by ``shard``; within-shard
    positions come from a row_number window per shard, so each shard
    is ordered by ONE task — pick ``n_shards`` so a shard's (id,
    hash) pairs fit an executor (e.g. 100 TB of docs → tens of
    thousands of shards), which is also what keeps downstream
    shard files trainer-sized. The hash lottery makes shard sizes
    uniform to O(√(n/shards)) without a global sort."""
    h = md5_h56(F.col(id_col), "shard")
    w = Window.partitionBy("shard").orderBy("_h", F.col(id_col))
    return (
        docs.select(F.col(id_col), h.alias("_h"))
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def apply_mix(
    docs: DataFrame,
    target_ppm: dict[str, int],
    token_budget: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """The APPLIED half of :func:`mix_weights`: deterministically
    sample the corpus down to ``token_budget`` total tokens mixed to
    ``target_ppm`` shares per stratum — the step that turns a mix
    decision into an actual training subset. Per stratum the keep
    rate is ``min(1, budget·ppm/10⁶ / stratum_tokens)`` (a stratum
    smaller than its target allotment is kept whole — the budget is a
    ceiling, not an upsampler); rows survive an exact-integer md5
    Bernoulli at that rate. Strata absent from ``target_ppm`` get
    share 0 and are excluded — the mix DEFINES the corpus.

    Returns kept rows as ``(id, stratum, n_tokens, rate_ppm)``.

    Shape at 100 TB: one map-side-combinable aggregate over narrow
    (stratum, n_tokens) rows, the tiny per-stratum rate table
    broadcast back, then a map-side filter — text never shuffles.
    All rate math is DECIMAL (budget·ppm and h·10⁶ both pass 2^63 at
    the 100 TB regime; see mix_weights) and reproducible across
    engines — no RNG state, rerun-stable for restartable jobs."""
    if tokens_col is not None:
        n_tokens = F.col(tokens_col).cast("bigint")
    else:
        n_tokens = F.size(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).cast("bigint")
    base = docs.select(
        F.col(id_col),
        F.col(strata_col),
        n_tokens.alias("n_tokens"),
        md5_h56(F.col(id_col), "mix").alias("_h"),
    )
    ppm = F.lit(0)
    for k, v in sorted(target_ppm.items()):
        ppm = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(ppm)
    rates = (
        base.groupBy(strata_col)
        .agg(F.sum("n_tokens").alias("_stratum_tokens"))
        .withColumn("_ppm", ppm.cast("bigint"))
        .select(
            strata_col,
            F.least(
                F.lit(1_000_000).cast("bigint"),
                F.expr(
                    f"(CAST({token_budget} AS DECIMAL(20,0))"
                    " * CAST(_ppm AS DECIMAL(7,0)))"
                    " div CAST(_stratum_tokens AS DECIMAL(20,0))"
                ).cast("bigint"),
            ).alias("rate_ppm"),
        )
    )
    keep = F.col("_h").cast("decimal(17,0)") * F.lit(1_000_000).cast(
        "decimal(7,0)"
    ) < F.col("rate_ppm").cast("decimal(7,0)") * F.lit(_H56_MAX).cast(
        "decimal(17,0)"
    )
    return (
        base.join(F.broadcast(rates), strata_col)
        .filter(keep)
        .select(id_col, strata_col, "n_tokens", "rate_ppm")
    )
