"""Deduplication operators for LLM data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard (BASELINE.json north-star set).

Scale design:

- **Exact** — one hash-groupBy shuffle on the fingerprint; at 100 TB
  this is the cheapest possible full-dedup (shuffle carries only
  (hash, doc_id) pairs after map-side projection).
- **n-gram Jaccard (exact pairs)** — inverted-index join on shingles:
  only documents sharing ≥1 shingle ever meet, avoiding the O(n²)
  cross join. Hot shingles create skew → AQE skew-join handles it;
  a stopword-shingle filter is the escape hatch at extreme scale.
- **MinHash+LSH** — the scale path: k=16 signatures → b=4 bands of
  r=4; candidate pairs share a full band (P[collide] = 1-(1-j^4)^4),
  then exact Jaccard verifies candidates. The band join shuffles only
  (band_sig, doc_id) pairs — this is what survives 100 TB, because
  candidate count ≈ true-duplicate count, not n².
- **SimHash** — 32-bit signature per document in one aggregation;
  near-dup = Hamming distance ≤ d on signatures (self-join on
  signature prefix buckets at scale; exact pair scan here).

All hashes derive from md5 (first 15 hex chars → signed bigint) so
the DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_K = 16  # number of hash functions
LSH_BANDS = 4  # bands of r = K/BANDS rows each


def band_params_for_threshold(threshold: float, k: int = MINHASH_K) -> int:
    """Pick the band count whose LSH S-curve midpoint sits closest to
    the target Jaccard threshold: with b bands of r = k/b rows, the
    candidate probability for a pair at similarity s is
    1 − (1 − s^r)^b, which crosses ~50% near s ≈ (1/b)^(1/r) (MMDS
    ch.3). Tuning bands to the query threshold is what keeps both
    error directions small — too many bands floods the verify stage
    with low-similarity candidates, too few misses pairs just above
    the threshold. Returns the best divisor of k (the default 4×16
    layout sits at ≈0.71, tuned for the 0.5–0.7 thresholds the
    registry queries use)."""
    best_bands, best_err = 1, float("inf")
    for bands in range(1, k + 1):
        if k % bands:
            continue
        r = k // bands
        midpoint = (1.0 / bands) ** (1.0 / r)
        err = abs(midpoint - threshold)
        if err < best_err:
            best_bands, best_err = bands, err
    return best_bands


SIMHASH_BITS = 32


def _md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint — identical in
    DuckDB via try_cast('0x' || substring(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _md5_long32(col: Column) -> Column:
    """``_md5_long(col) mod 2**32`` — hex chars 8–15 of the digest
    (16**8 ≡ 0 mod 2**32, so the leading 7 chars cannot contribute).
    Bit-identical to ``_md5_long(col) & mask`` for ANY mask < 2**32,
    which covers every masked caller (``_H0_MASK``/``_TOKEN_MASK`` are
    2**30−1); ``conv`` over 8 hex chars instead of 15 measures ~20%
    cheaper per row (r15 microbench: 0.395 → 0.316 s/4M rows, zero
    mismatches on the full frame). Callers that need the full 60-bit
    value (rolling ``% ROLLING_MOD``, line hashes) keep
    :func:`_md5_long`."""
    return F.conv(F.substring(F.md5(col), 8, 8), 16, 10).cast("bigint")


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document, distinct by default.

    The token array is materialized as a column BEFORE the transform
    lambda references it — an inline ``split()`` expression would be
    re-evaluated per ``element_at`` call inside the lambda (3 regex
    splits per shingle ≈ 10× slower at scale).

    ``distinct=False`` skips the dedup exchange — one full shuffle of
    the exploded shingle set. Correct ONLY for consumers invariant to
    duplicate shingles (MinHash: MIN over repeated equal hashes is
    unchanged); Jaccard set counts NEED the distinct.
    """
    with_toks = docs.select(
        id_col, F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("toks")
    ).filter(F.size("toks") >= n)
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k) for k in range(n)]
        ),
    )
    out = with_toks.select(id_col, F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def _content_fingerprint(text_col: str) -> Column:
    """md5 of case/whitespace-normalized text — the exact-dup identity
    shared by exact_dedup, the corpus pipelines and the persisted
    fingerprint store (DuckDB twin: md5(trim(regexp_replace(
    lower(text), '\\s+', ' ', 'g'))))."""
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-text fingerprint: one survivor
    (min id) per distinct content + copy count."""
    fp = _content_fingerprint(text_col)
    return (
        docs.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def jaccard_pairs(
    sh: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    max_df: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1
    shingle (inverted index, no cross product).

    ``max_df`` caps the inverted index: shingles appearing in more
    than ``max_df`` documents are dropped BEFORE pair generation (and
    from the per-doc counts, so Jaccard stays self-consistent over the
    reduced shingle space). A shingle shared by d docs emits d² pair
    rows — one boilerplate phrase across 1M docs is a 10^12-row join
    — so at scale the cap is what keeps candidates bounded; it's the
    stop-word discipline of near-dup detection. Default None = exact.

    ``strategy`` picks the pair-generation plan (both produce
    bit-identical results — same pairs, same rounded values):

    - ``"join"`` — the inverted-index self-join. When the shingle
      relation fits ``spark.sql.autoBroadcastJoinThreshold`` Spark
      executes it as a broadcast join with ZERO exchanges — the best
      plan at small scale (interleaved A/B at sf0.1: 2.62 vs 3.60 s
      inside corpus_dedup_staged). Too big to broadcast, it becomes
      a double shuffle of the full shingle-string set.
    - ``"grouped"`` — ONE shuffle of the shingle strings (groupBy
      shingle → sorted posting list), pairs emitted JVM-side via two
      chained generates (posexplode + tail-slice explode, O(list)
      peak memory per row, never O(list²)). Halves the heaviest
      exchange once the shingle set is past broadcast size — the
      100 TB shape (guide §2.3/§2.4; A/B on a non-broadcastable
      shingle set: 3.17 → 1.15 s).
    - ``"auto"`` — measure, then choose (guide §3.1: pick the join
      strategy from REAL sizes, not estimates): one small agg job
      over ``sh`` (count + avg shingle length) estimates the relation
      bytes; at or under the session's broadcast threshold → "join",
      else "grouped". The probe re-evaluates ``sh``'s lineage, so
      pass a checkpointed/cached frame (every registry caller does)
      or pick a strategy explicitly for single-shot lazy input.
    """
    if strategy == "auto":
        stats = sh.agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(F.length("shingle")).alias("_w"),
        ).collect()[0]
        try:
            bcast = int(
                sh.sparkSession.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            )
        except ValueError:  # unit-suffixed setting ("64MB") — be safe
            bcast = -1
        est = (stats["_n"] or 0) * ((stats["_w"] or 0.0) + 20.0)
        strategy = "join" if (bcast > 0 and est <= bcast) else "grouped"
    if strategy == "join":
        if max_df is not None:
            keep = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("shingle")
            )
            sh = sh.join(keep, "shingle", "left_semi")
        counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
        a = sh.select(F.col(id_col).alias("i"), "shingle")
        b = sh.select(F.col(id_col).alias("j"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        ids = sh.groupBy("shingle").agg(
            F.array_sort(F.collect_list(id_col)).alias("_ids")
        )
        if max_df is not None:
            ids = ids.filter(F.size("_ids") <= max_df)
            # per-doc sizes over the SAME reduced shingle space (the
            # cap drops capped shingles from the counts too); id rows
            # are far narrower than shingle strings, so this recount
            # exchange is cheaper than the semi-join the row form
            # needed
            counts = (
                ids.select(F.explode("_ids").alias(id_col))
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_shingles"))
            )
        else:
            counts = sh.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_shingles")
            )
        common = (
            ids.select(F.col("_ids"), F.posexplode("_ids").alias("_pos", "i"))
            .select(
                "i",
                F.explode(
                    F.slice(F.col("_ids"), F.col("_pos") + 2, F.size("_ids"))
                ).alias("j"),
            )
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    na = counts.select(F.col(id_col).alias("i"), F.col("n_shingles").alias("n_i"))
    nb = counts.select(F.col(id_col).alias("j"), F.col("n_shingles").alias("n_j"))
    jac = F.col("n_common") / (F.col("n_i") + F.col("n_j") - F.col("n_common"))
    return (
        common.join(na, "i")
        .join(nb, "j")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


# Universal-hash MinHash family: h_i(x) = (a_i·h0(x) + b_i) mod P with
# h0 = 30 bits of md5 (one md5 per shingle, not per (seed, shingle)),
# P Mersenne-prime 2^31−1, a_i/b_i derived deterministically from md5
# so the DuckDB oracle reproduces them. Products stay < 2^61 (no
# overflow in either engine).
MINHASH_PRIME = 2147483647
_H0_MASK = (1 << 30) - 1


def _minhash_params(k: int) -> list[tuple[int, int]]:
    import hashlib

    params = []
    for i in range(k):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) % (MINHASH_PRIME - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16) % MINHASH_PRIME
        params.append((a, b))
    return params


def _minhash_h0() -> Column:
    """The 30-bit base hash ``h0`` of a ``shingle`` row."""
    return (_md5_long32(F.col("shingle")).bitwiseAND(F.lit(_H0_MASK))).alias("h0")


def _minhash_mins(k: int) -> list[Column]:
    """The k MinHash aggregates ``mh0..mh{k-1}`` over an ``h0`` column
    (:func:`_minhash_h0`), shared by every signature aggregation."""
    # one SQL parse per min column instead of ~6 py4j round trips of
    # Column algebra each: serve CONSTRUCTION is driver-side py4j
    # chatter (r15 profile: 0.18 → 0.045 s per call, results
    # identical) — at k=16 this is built for every minhash serve
    return [
        F.expr(f"min((h0 * {a}L + {b}L) % {MINHASH_PRIME}L) AS mh{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]


def minhash_signatures(sh: DataFrame, k: int = MINHASH_K, id_col: str = "doc_id") -> DataFrame:
    """k MinHash values per document in ONE aggregation: k min
    columns over the universal-hash family (no seed explosion)."""
    return sh.select(id_col, _minhash_h0()).groupBy(id_col).agg(*_minhash_mins(k))


def _band_stack_expr(bands: int, k: int) -> str:
    """``stack(...) AS (band, band_sig)`` SQL expression unpivoting a
    wide mh0..mh{k-1} signature row into (band, band_sig) pairs."""
    if k % bands:
        raise ValueError(
            f"k={k} must be divisible by bands={bands} — a truncated "
            "band scheme silently changes the collision probability"
        )
    r = k // bands
    # stack(bands, band0, sig0, band1, sig1, ...) unpivots the wide row
    stack_args = []
    for band in range(bands):
        sig_expr = "concat_ws(','," + ",".join(
            f"cast(mh{band * r + j} as string)" for j in range(r)
        ) + ")"
        stack_args.append(f"{band}")
        stack_args.append(sig_expr)
    return f"stack({bands}, {', '.join(stack_args)}) AS (band, band_sig)"


def lsh_band_signatures(
    sigs: DataFrame, bands: int = LSH_BANDS, k: int = MINHASH_K, id_col: str = "doc_id"
) -> DataFrame:
    """(doc, band, band_sig) rows: each band concatenates its r
    minhash columns — a stack over the wide signature row, no second
    aggregation."""
    return sigs.selectExpr(id_col, _band_stack_expr(bands, k))


def minhash_lsh_near_dups(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH pipeline: shingle → minhash → band → bucket
    join → exact-Jaccard verification of candidates. Pass a
    pre-materialized ``sh`` to share the shingle set across queries.
    ``bands="auto"`` tunes the band count to the threshold via
    :func:`band_params_for_threshold` (the default stays the fixed
    registry layout — persisted stores pin their own band scheme in
    ``_meta.json``, so auto applies to in-session runs only).

    ONE ``groupBy(id)`` yields each doc's k MinHash columns and its
    shingle set; a candidate pair's Jaccard is
    ``size(array_intersect)`` over the two sets — exact shingle
    strings, so no hash collision can inflate it."""
    if bands == "auto":
        bands = band_params_for_threshold(threshold, k)
    if sh is None:
        # collect_set dedups, so the shingle distinct exchange is skipped
        sh = shingles(docs, n=n, id_col=id_col, text_col=text_col, distinct=False)
    sigs = (
        sh.select(id_col, "shingle", _minhash_h0())
        .groupBy(id_col)
        .agg(*_minhash_mins(k), F.collect_set("shingle").alias("_sh"))
    )
    bands_df = lsh_band_signatures(sigs, bands=bands, k=k, id_col=id_col)
    left = bands_df.select(F.col(id_col).alias("i"), "band", "band_sig")
    right = bands_df.select(F.col(id_col).alias("j"), "band", "band_sig")
    candidates = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("i"), F.col("_sh").alias("_a"))
    sb = sigs.select(F.col(id_col).alias("j"), F.col("_sh").alias("_b"))
    n_common = F.size(F.array_intersect("_a", "_b"))
    jac = n_common / (F.size("_a") + F.size("_b") - n_common)
    return (
        candidates.join(sa, "i")
        .join(sb, "j")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def write_minhash_index(
    docs: DataFrame,
    path: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> None:
    """Persist a MinHash band index of an existing corpus so later
    batches can near-dedup against it WITHOUT re-reading the corpus
    text (reference runs full-corpus dedup per crawl,
    deduplicator.py; the persisted form is the incremental
    100 TB shape — same signatures, built once).

    Layout: one row per (band, doc) — ``(band, band_sig, id, sig)``
    with the full k-value signature carried on every band row, written
    partitioned by ``band``. The 4× signature duplication trades ~64
    extra bytes/doc/band for a ONE-JOIN serve path: candidate
    generation and signature-similarity scoring happen on the same
    row, so serving scans the index once with no second join back to
    a signature table. ~200 bytes/doc vs ~5 KB of text ⇒ the index
    scan is ~25× cheaper than re-shingling the corpus, and the shuffle
    carries only band rows, never text.

    ``sigs`` (precomputed :func:`minhash_signatures` of a superset of
    ``docs``) lets several stores of the same corpus — e.g. the posix
    and manifest lifecycle twins — share ONE hash pass.
    """
    _write_minhash_store(
        docs, path, "overwrite", n, k, bands, id_col, text_col, sigs=sigs
    )


def append_minhash_index(
    docs: DataFrame,
    path: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
) -> None:
    """Append new documents' band rows + fingerprints to an existing
    store (continuous-ingest shape: each accepted delta extends the
    store the next delta dedups against). The store's build parameters
    are validated from its ``_meta.json`` — appending with a different
    (n, k, bands) would mix incomparable signatures and silently break
    scoring. Plain-parquet append is at-least-once on task retry;
    production puts the store in a lakehouse table
    (``merge.merge_into_sql`` renders the transactional twin) where
    the append is an idempotent MERGE on ``id``."""
    from tiki_data_pipeline_spark.sources.files import (
        check_store_meta,
        reject_tombstoned,
    )

    check_store_meta(path, {"kind": "minhash", "n": n, "k": k, "bands": bands})
    reject_tombstoned(docs.sparkSession, path, docs, id_col)
    _write_minhash_store(docs, path, "append", n, k, bands, id_col, text_col, sh=sh)


def _write_minhash_store(
    docs: DataFrame,
    path: str,
    mode: str,
    n: int,
    k: int,
    bands: int,
    id_col: str,
    text_col: str,
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> None:
    if sigs is not None:
        # precomputed signatures may cover a superset — semi-join down
        sigs = sigs.join(docs.select(id_col), id_col, "semi")
    else:
        if sh is None:
            # non-distinct: MinHash MIN is invariant to duplicate
            # shingles, so the dedup exchange would be a wasted shuffle
            sh = shingles(
                docs, n=n, id_col=id_col, text_col=text_col, distinct=False
            )
        else:
            # precomputed shingles may cover a superset (e.g. the whole
            # micro-batch when only its unique subset is appended)
            sh = sh.join(docs.select(id_col), id_col, "semi")
        sigs = minhash_signatures(sh, k=k, id_col=id_col)
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(k)])
    rows = sigs.select(
        F.col(id_col).alias("id"),
        sig_arr.alias("sig"),
        *[F.col(f"mh{i}") for i in range(k)],
    ).selectExpr("id", "sig", _band_stack_expr(bands, k))
    from tiki_data_pipeline_spark.sources.files import (
        store_put,
        store_sub_exists,
        store_sub_partitioned,
    )

    # co-locate each band before the partitioned write (tasks × bands
    # small files otherwise — same rationale as the LSH embedding
    # index); store_put routes posix/manifest per the store's backend
    store_put(rows, path, mode, partition_by="band")
    # exact-fingerprint sidecar (underscore prefix = invisible to the
    # band-row reader, the _centroids pattern): lets a later batch do
    # exact-first staged dedup against the same store. Written AFTER
    # the main tree (an overwrite above would clobber it). Bucketed by
    # a 64-way id hash (``fpb=``) so fold_tombstones rewrites only the
    # buckets that hold victims instead of the whole sidecar — the
    # same O(affected) maintenance discipline as the band/cid trees.
    # Appends sniff the existing layout: a legacy flat sidecar keeps
    # appending flat (a mixed flat+partitioned tree would not read).
    legacy_flat = (
        mode == "append"
        and store_sub_exists(path, "_fingerprints")
        and not store_sub_partitioned(path, "_fingerprints", "fpb")
    )
    fps = docs.select(
        F.col(id_col).alias("id"), _content_fingerprint(text_col).alias("fp")
    )
    from tiki_data_pipeline_spark.sources.files import fp_bucket

    if legacy_flat:
        store_put(fps, path, mode, sub="_fingerprints")
    else:
        store_put(
            fps.withColumn("fpb", fp_bucket(F.col("id"))),
            path,
            mode,
            partition_by="fpb",
            sub="_fingerprints",
        )
    if mode == "overwrite":
        from tiki_data_pipeline_spark.sources.files import write_store_meta

        write_store_meta(
            path, {"kind": "minhash", "n": n, "k": k, "bands": bands}
        )
        rebuild_hot_bands(docs.sparkSession, path)


HOT_BAND_CAP = 10_000


def rebuild_hot_bands(spark, path: str, cap: int = HOT_BAND_CAP) -> int:
    """Recompute the ``_hot_bands`` sidecar: band signatures shared by
    more than ``cap`` stored documents. A hot bucket is boilerplate
    (identical headers, templated pages) whose candidate fan-out is
    QUADRATIC in bucket size — one 1M-doc bucket × a 1k-doc delta is
    1e9 candidate rows; exact-first staging already catches the
    identical-text mass, so the near stage skips these buckets
    (:func:`minhash_index_near_dups` anti-joins the sidecar).
    Run at build (automatic) and periodically after appends (the
    sidecar goes stale as buckets grow — a maintenance companion to
    ``compact_store``). Returns the number of hot signatures."""
    from tiki_data_pipeline_spark.sources.files import (
        apply_tombstones,
        store_data,
        store_put,
    )

    hot = (
        apply_tombstones(store_data(spark, path), path)
        .groupBy("band", "band_sig")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select("band", "band_sig")
        # materialize once: the aggregation feeds both the write and
        # the returned count — without this it would run twice
        .localCheckpoint()
    )
    # coalesce(1): an empty result must still write one schema-bearing
    # file, or the serve-side read of the sidecar fails inference
    store_put(hot, path, "overwrite", sub="_hot_bands", coalesce=1)
    return hot.count()


def minhash_index_near_dups(
    spark,
    index_path: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: match a NEW batch of documents against
    a corpus previously persisted with :func:`write_minhash_index`,
    returning ``(new_id, old_id, est_jaccard)`` pairs with estimated
    Jaccard ≥ ``threshold``. Pass precomputed ``sh`` (shingles of a
    superset of ``new_docs``) to share one explode pass across the
    decision and append stages of an ingest epoch, or precomputed
    ``sigs`` (:func:`minhash_signatures` of a superset) to skip the
    shingle+hash pipeline entirely — signatures are a pure function
    of each document alone, so a caller running several serves over
    the same batch (e.g. the as-of + live halves of a time-travel
    audit) hashes once and semi-joins per serve.

    Only the batch is shingled/minhashed; the corpus contributes its
    stored band rows. Candidates come from a band equi-join (shuffle
    carries band rows only) and are scored by signature agreement —
    ``est_jaccard = |{i : mh_i equal}| / k`` — the unbiased MinHash
    Jaccard estimator, so no shingle set of the corpus side is ever
    needed. The batch side is typically ≪ the index; AQE picks a
    broadcast join when it fits and a skew-split shuffle when it
    doesn't — no manual hint so a huge backfill batch can't OOM the
    driver.
    """
    if sigs is not None:
        sigs = sigs.join(new_docs.select(id_col), id_col, "semi")
    else:
        if sh is None:
            # see _write_minhash_store: MinHash is duplicate-invariant
            sh = shingles(
                new_docs, n=n, id_col=id_col, text_col=text_col, distinct=False
            )
        else:
            sh = sh.join(new_docs.select(id_col), id_col, "semi")
        sigs = minhash_signatures(sh, k=k, id_col=id_col)
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(k)])
    batch = sigs.select(
        F.col(id_col).alias("new_id"),
        sig_arr.alias("new_sig"),
        *[F.col(f"mh{i}") for i in range(k)],
    ).selectExpr("new_id", "new_sig", _band_stack_expr(bands, k))
    from tiki_data_pipeline_spark.sources.files import (
        apply_tombstones,
        store_data,
        store_sub,
    )

    hot = store_sub(spark, index_path, "_hot_bands")
    if hot is not None:
        # skip boilerplate buckets (quadratic fan-out; see
        # rebuild_hot_bands) — the hot set is tiny by construction,
        # broadcast is free
        batch = batch.join(F.broadcast(hot), ["band", "band_sig"], "anti")
    # retired ids (takedowns, re-crawl retractions) must stop matching
    # the moment they are deleted — anti-join the tombstone sidecar
    # (no-op plan when no deletes are pending)
    index = apply_tombstones(store_data(spark, index_path), index_path)
    pairs = (
        index.join(batch, ["band", "band_sig"])
        .filter(F.col("id") != F.col("new_id"))  # re-crawled same doc
        # a pair colliding in several bands scores identically on each
        # row — keep one (same-key rows carry the same signatures)
        .dropDuplicates(["new_id", "id"])
    )
    n_match = F.aggregate(
        F.zip_with("new_sig", "sig", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            "new_id",
            F.col("id").alias("old_id"),
            F.round(n_match / F.lit(float(k)), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_index_near_dups_verified(
    spark,
    index_path: str,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dedup with EXACT verification: candidates come
    from the persisted band index (cheap, batch-side-only hashing),
    but instead of the signature estimate, the exact n-gram Jaccard is
    computed — re-reading corpus text ONLY for the candidate old-side
    docs (a semi-join; O(candidates), not O(corpus)). This gives the
    full in-session path's precision at delta cost: the right tool
    when the corpus text is still accessible and decisions must be
    exact (``minhash_index_near_dups`` is the text-free fallback).
    Returns ``(new_id, old_id, jaccard)`` with jaccard ≥ threshold.
    """
    # ONE tokenize+explode pass over the batch feeds both consumers:
    # the candidate stage's MinHash signatures (duplicate-invariant,
    # takes the raw stream) and the exact-verification side (set
    # semantics, distinct() of the same materialized rows) — the
    # previous shape ran the shingle pipeline twice per serve (r14)
    sh_all = shingles(
        new_docs, n=n, id_col=id_col, text_col=text_col, distinct=False
    ).localCheckpoint(eager=False)
    # (r14 probe note: checkpointing cand / sh_new / sh_old — each is
    # consumed 2-3× and the plan scans raw text 8× — LOST the
    # interleaved A/B 2.218 → 2.655 s at sf0.1: three materialization
    # barriers serialize subtrees that otherwise execute in parallel,
    # and every duplicated scan here is batch- or candidate-bounded.
    # Recorded so it is not retried; contrast the line family, where
    # the same pattern at 9-13 duplicated scans of heavier per-scan
    # work WON by 15-19%.)
    cand = minhash_index_near_dups(
        spark, index_path, new_docs, threshold=0.0, n=n, k=k, bands=bands,
        id_col=id_col, text_col=text_col, sh=sh_all,
    ).select("new_id", "old_id")
    sh_new = sh_all.distinct()
    # corpus side: only candidate old docs are ever shingled
    old_docs = corpus_docs.join(
        cand.select(F.col("old_id").alias(id_col)).distinct(), id_col, "semi"
    )
    sh_old = shingles(old_docs, n=n, id_col=id_col, text_col=text_col)
    a = sh_new.select(F.col(id_col).alias("new_id"), "shingle")
    b = sh_old.select(F.col(id_col).alias("old_id"), "shingle")
    common = (
        cand.join(a, "new_id")
        .join(b, ["old_id", "shingle"])  # equi-join key: hash join, no NLJ
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sh_new.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_new")).select(
        F.col(id_col).alias("new_id"), "n_new"
    )
    nb = sh_old.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_old")).select(
        F.col(id_col).alias("old_id"), "n_old"
    )
    jac = F.col("n_common") / (F.col("n_new") + F.col("n_old") - F.col("n_common"))
    return (
        common.join(na, "new_id")
        .join(nb, "old_id")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


def incremental_dedup_status(
    spark,
    index_path: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Staged incremental dedup of a new batch against a persisted
    corpus store (:func:`write_minhash_index`): exact-fingerprint
    match FIRST (cheap md5 equi-join against the ``_fingerprints``
    sidecar), MinHash near-dup SECOND on the remainder only — the
    exact-first order that makes the expensive stage see the smallest
    input at 100 TB (same staging as ``corpus_dedup_staged``).

    ``fps`` (optional) is a precomputed ``(id_col, fp)`` frame for the
    batch — fingerprints, like MinHash signatures, are a pure function
    of each document alone, so a caller running several serves over
    the same batch (the as-of + live halves of a time-travel audit)
    normalizes+hashes the text ONCE and hands each serve the
    materialized result. ``fp`` must be NULL exactly for NULL texts
    (the contract of :func:`_content_fingerprint`), and ``fps`` must
    be a PROJECTION of ``new_docs`` — one row per batch id, built from
    the same frame: when ``fps`` is given it drives the output row set
    (an id missing from ``fps`` disappears; an extra id gets a status
    without its text), and the text-rehydration join is inner by
    design. Every in-repo caller builds ``fps`` as
    ``new_docs.select(id, fp)``; external callers own that invariant.

    Returns one row per batch doc: ``(id, status, matched_id)`` with
    status ∈ {exact_dup, near_dup, unique, no_text} (``no_text`` =
    NULL text: no fingerprint, no shingles — the document twin of
    similarity's ``no_vector``); ``matched_id`` is the
    lowest-id exact match, else the best near match (highest
    est_jaccard, ties → lowest id), else NULL. Batch-vs-corpus only —
    within-batch duplicates are the in-session ``exact_dedup`` /
    ``minhash_lsh_near_dups`` job run on the batch itself.
    """
    from pyspark.sql import Window as W

    # text is only re-read downstream when the caller did NOT hand us
    # precomputed signatures/shingles (the near stage then shingles the
    # post-exact remainder itself)
    need_text = sigs is None and sh is None
    if fps is not None:
        batch = fps.select(F.col(id_col), F.col("fp"))
    else:
        batch = new_docs.select(
            F.col(id_col), F.col(text_col),
            _content_fingerprint(text_col).alias("fp"),
        )
    from tiki_data_pipeline_spark.sources.files import (
        apply_tombstones,
        store_sub,
    )

    store_fps = store_sub(spark, index_path, "_fingerprints")
    if store_fps is None:
        raise ValueError(
            f"store at {index_path} has no _fingerprints sidecar - not a "
            "minhash index store"
        )
    store = apply_tombstones(store_fps, index_path).select(
        # alias: the caller's id_col may itself be named "id"
        F.col("id").alias("_store_id"), "fp"
    )
    # (r14 probe note: checkpointing this tiny frame — it is consumed
    # three times, and the serve plan re-runs the fingerprint pass and
    # store join per reference, 6 batch scans — LOST the interleaved
    # A/B 1.737 → 2.020 s at sf0.1: the materialization barrier
    # serializes work the duplicated subtrees otherwise run in
    # parallel, and every duplicated scan is BATCH-bounded, never
    # corpus-sized. Recorded so it is not retried.)
    exact = (
        batch.join(store, "fp")
        .groupBy(id_col)
        .agg(F.min("_store_id").alias("matched_id"))
        .withColumn("status", F.lit("exact_dup"))
    )
    fresh = batch.join(exact.select(id_col), id_col, "left_anti").select(
        *([id_col, text_col] if (need_text and fps is None) else [id_col])
    )
    if need_text and fps is not None:
        fresh = fresh.join(new_docs.select(id_col, text_col), id_col)
    near_pairs = minhash_index_near_dups(
        spark, index_path, fresh, threshold=threshold, n=n, k=k, bands=bands,
        id_col=id_col, text_col=text_col, sh=sh, sigs=sigs,
    )
    # best match per doc: partitioned by doc — candidate fan-out per
    # doc ≈ its true near-dup count, so the window never sees a
    # corpus-sized partition
    w = W.partitionBy("new_id").orderBy(F.col("est_jaccard").desc(), F.col("old_id"))
    near = (
        near_pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("new_id").alias(id_col),
            F.col("old_id").alias("matched_id"),
            F.lit("near_dup").alias("status"),
        )
    )
    hits = exact.select(id_col, "status", "matched_id").unionByName(
        near.select(id_col, "status", "matched_id")
    )
    return (
        # a NULL text has no fingerprint and no shingles — neither
        # stage can ever match it, and "unique" would invite the
        # ingest sink to store an unmatchable null-fp row per epoch;
        # status it no_text, the document twin of similarity's
        # no_vector (whitespace-only/short texts are NOT this case:
        # they still carry an exact fingerprint)
        (
            # fp is NULL exactly when text is — with a materialized fps
            # frame the flag costs nothing and new_docs' text is never
            # re-scanned for it
            fps.select(id_col, F.col("fp").isNull().alias("_no_text"))
            if fps is not None
            else new_docs.select(
                id_col, F.col(text_col).isNull().alias("_no_text")
            )
        )
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("status"),
                F.when(F.col("_no_text"), F.lit("no_text")).otherwise(
                    F.lit("unique")
                ),
            ).alias("status"),
            "matched_id",
        )
    )


# Rabin-Karp polynomial rolling hash: base/modulus sized so every
# intermediate (acc·B + h) stays < 2^52 — exact in BIGINT and in
# doubles, hence identical in Spark and DuckDB.
ROLLING_BASE = 1_000_003
ROLLING_MOD = 2147483647  # 2^31 − 1
_TOKEN_MASK = (1 << 30) - 1


def rolling_fingerprint(
    docs: DataFrame,
    sketch_k: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh: DataFrame | None = None,
) -> DataFrame:
    """Document fingerprinting via rolling hashes:

    - ``content_fp`` — polynomial rolling hash folded over the whole
      normalized token sequence (one pass, order-sensitive): the
      whole-document identity fingerprint.
    - ``sketch`` — bottom-k of the per-n-gram hashes: a fixed-size
      resemblance sketch (two documents' sketches overlap roughly in
      proportion to their shingle Jaccard), the winnowing-style
      fingerprint used to pre-cluster near-dups without pairwise work.

    Both are pure column expressions — the scan shuffles only
    (doc_id, fp, k·bigint) rows.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok_hashes = F.transform(
        toks, lambda t: _md5_long32(t).bitwiseAND(F.lit(_TOKEN_MASK))
    )
    content_fp = F.aggregate(
        tok_hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * ROLLING_BASE + h) % ROLLING_MOD,
    )
    with_fp = docs.select(id_col, content_fp.alias("content_fp"))
    if sh is None:
        sh = shingles(docs, n=n, id_col=id_col, text_col=text_col)
    sketches = (
        sh.select(
            id_col, (_md5_long(F.col("shingle")) % ROLLING_MOD).alias("h")
        )
        .groupBy(id_col)
        .agg(
            F.slice(F.array_sort(F.collect_set("h")), 1, sketch_k).alias("sketch")
        )
    )
    return with_fp.join(sketches, id_col, "left")


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document over distinct lowercase tokens.

    One aggregation with 32 conditional-sum columns (one per bit)
    instead of exploding every token 32× — the shuffle carries
    n_tokens rows with 32 ints, not 32·n_tokens rows, and there is a
    single groupBy instead of two.
    """
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    tok = docs.select(id_col, F.explode(toks).alias("token"))
    hashed = tok.select(id_col, _md5_long(F.col("token")).alias("h"))
    # (r14 probe note: a branch-free variant — sum the raw bit and
    # compare 2·ones > n — measured 23% faster on the aggregation in
    # isolation but 35% SLOWER with the assembly projection attached;
    # the ±1 CASE form below won the full-context A/B, so it stays)
    bit_sums = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"_s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agged = hashed.groupBy(id_col).agg(*bit_sums)
    simhash = sum(
        (
            F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for b in range(SIMHASH_BITS)
        ),
        F.lit(0).cast("bigint"),
    )
    return agged.select(id_col, simhash.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: the 32-bit signature splits into
    ``max_hamming + 1`` bit-blocks; two signatures differing in
    ≤ max_hamming bits must agree on at least one whole block, so an
    equi-join on ``(block_idx, block_val)`` finds every qualifying
    pair while touching only same-block candidates — the shuffle
    carries (block, id, sig) rows, not the O(n²) cross product a
    non-equi ``i < j`` self-join degenerates to. A pair colliding on
    several blocks is kept only at its LOWEST equal block (a pure
    column predicate over the two signatures), so no distinct shuffle
    is needed before the exact-popcount verification.
    """
    # the self-join below consumes the signature frame on BOTH sides;
    # without a checkpoint each side re-runs the whole tokenize + md5 +
    # 32-bit-sum aggregation pipeline (the expensive half of the query)
    # — materialize the tiny (id, simhash) frame once (r14, guide §1.2
    # "don't compute things you throw away" / §3.3 materialize shared
    # join inputs)
    sigs = simhash_signatures(
        docs, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    n_blocks = max_hamming + 1
    block_bits = SIMHASH_BITS // n_blocks
    mask = (1 << block_bits) - 1
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("block_idx"),
                        F.shiftright(F.col("simhash"), blk * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for blk in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.block_idx", "blk.block_val")
    a = blocks.select(
        F.col(id_col).alias("i"),
        F.col("simhash").alias("sig_i"),
        "block_idx",
        "block_val",
    )
    b = blocks.select(
        F.col(id_col).alias("j"),
        F.col("simhash").alias("sig_j"),
        "block_idx",
        "block_val",
    )
    def _blk(sig: Column, blk: int) -> Column:
        return F.shiftright(sig, blk * block_bits).bitwiseAND(F.lit(mask))

    earlier_equal = F.lit(False)
    for blk in range(n_blocks - 1):
        earlier_equal = earlier_equal | (
            (F.col("block_idx") > blk)
            & (_blk(F.col("sig_i"), blk) == _blk(F.col("sig_j"), blk))
        )
    candidates = (
        a.join(b, ["block_idx", "block_val"])
        .filter((F.col("i") < F.col("j")) & ~earlier_equal)
        .select("i", "j", "sig_i", "sig_j")
    )
    ham = F.bit_count(F.col("sig_i").bitwiseXOR(F.col("sig_j")))
    return (
        candidates.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


def _span_token_hash(t: Column, hash_mode: str) -> Column:
    """Masked 30-bit token hash for the span family. ``md5`` is the
    oracle-parity default (DuckDB computes the identical value, so
    every registry query stays hash-checked end to end); ``xxhash64``
    is the production opt-in — same dup/keep decisions (any uniform
    30-bit hash yields the same window identities modulo ~n²/2³¹
    chance collisions), a fraction of the per-token CPU (the measured
    md5 constant is the span family's remaining headroom; the DSIR
    family's xxhash64 mode bought 18× there). Pinned by a
    md5-vs-xxhash64 result-parity test instead of a SQL oracle."""
    if hash_mode == "md5":
        return _md5_long32(t).bitwiseAND(F.lit(_TOKEN_MASK))
    if hash_mode == "xxhash64":
        return F.pmod(F.xxhash64(t), F.lit(_TOKEN_MASK + 1))
    raise ValueError(f"unknown span hash_mode {hash_mode!r}")


def _with_span_inputs(
    docs: DataFrame, id_col: str, text_col: str, hash_mode: str = "md5"
) -> DataFrame:
    """``(id, _toks, _hs)`` per document — whitespace tokens of the
    lower/trim-normalized text and their masked md5 hashes —
    MATERIALIZED as real columns in their own Project. This is a
    performance barrier, not a convenience: the window fold below is
    a higher-order function (CodegenFallback, interpreted, no
    subexpression elimination), so if the token-hash array were an
    inline subtree, ``slice(tok_hashes, i, span)`` would re-evaluate
    the whole split+md5 transform for EVERY window start — O(T²) md5
    per document (measured 15.3 s → 0.7 s on 5k × 54-token docs; a
    10k-token page would do 10⁸ md5 calls). As attributes under the
    consuming Generate/Project, each array is computed once per row;
    Catalyst does not inline a child Project into a generator
    expression.

    Inputs are fanned out first (``io.fan_out_small``): the hash
    transform is CPU-bound, and a small corpus read as one file
    split would otherwise hash on a single core."""
    from tiki_data_pipeline_spark.io import fan_out_small

    docs = fan_out_small(docs)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.transform(
            toks, lambda t: _span_token_hash(t, hash_mode)
        ).alias("_hs"),
    )


def _span_hash_array(hs: Column, span: int) -> Column:
    """Per-start rolling span hashes over a MATERIALIZED token-hash
    array column (see :func:`_with_span_inputs` for why it must be an
    attribute): 1-based starts, the cross-engine polynomial family of
    :func:`rolling_fingerprint` — exact in BIGINT and doubles, hence
    identical in Spark and DuckDB.

    This is the SQL-expression form — a higher-order fold per window
    start (CodegenFallback, interpreted), O(tokens × span)
    interpreted ops per document. It remains the oracle-translation
    reference and the parity baseline; the hot path is
    :func:`_span_hash_kernel` (same polynomial, exact same values,
    vectorized) — r12 measured the interpreted fold, not the token
    hashing, as the span family's wall (xxhash64 bought only 1.56×
    at 5M docs)."""
    return F.when(
        F.size(hs) >= span,
        F.transform(
            F.sequence(F.lit(1), F.size(hs) - (span - 1)),
            lambda i: F.aggregate(
                F.slice(hs, i, span),
                F.lit(0).cast("bigint"),
                lambda a, b: (a * ROLLING_BASE + b) % ROLLING_MOD,
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _span_hash_kernel(span: int):
    """Arrow-vectorized twin of :func:`_span_hash_array`: the same
    polynomial rolling hash (base ``ROLLING_BASE`` mod
    ``ROLLING_MOD``, exact integer arithmetic — H < 2³¹ so
    H·B + h < 2⁵² fits int64 with headroom), computed as ``span``
    numpy passes over the batch's CONCATENATED token hashes instead
    of one interpreted fold per window position. Cross-document
    windows are never formed: each document slices exactly its own
    ``len − span + 1`` window hashes back out of the flat result.

    Value-identical to the SQL form by construction (pinned by
    test_operators' parity test), so every span-family oracle stays
    hash-checked end to end with the kernel on the Spark side. The
    vectorization precedent is the DSIR bincount⊙lw kernel
    (curation.py); like there, Python is entered once per Arrow
    batch, not once per window.

    pandas is imported here, not at module top: the span family's
    default fold needs it, but merely importing operators.dedup (or
    running the pure-Catalyst families) must not — ``fold="sql"``
    keeps every span query runnable on a pandas-less executor."""
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover - env without pandas
        raise ImportError(
            "the span family's fold='arrow' kernel needs pandas/pyarrow; "
            "pass fold='sql' to run on plain Catalyst expressions"
        ) from e
    # pandas_udf resolves the (PEP 563 string) type hints against the
    # MODULE globals, so the lazy import must be visible there too
    globals().setdefault("pd", pd)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def roll(hs: pd.Series) -> pd.Series:
        import numpy as np

        arrs = [
            np.asarray(a, dtype=np.int64)
            if a is not None
            else np.empty(0, dtype=np.int64)
            for a in hs
        ]
        lens = [a.size for a in arrs]
        flat = (
            np.concatenate(arrs) if sum(lens) else np.empty(0, np.int64)
        )
        if flat.size >= span:
            wtot = flat.size - span + 1
            h = np.zeros(wtot, dtype=np.int64)
            for j in range(span):
                h = (h * ROLLING_BASE + flat[j : j + wtot]) % ROLLING_MOD
        else:
            h = np.empty(0, np.int64)
        out = []
        off = 0
        for n in lens:
            w = n - span + 1
            out.append(h[off : off + w] if w > 0 else np.empty(0, np.int64))
            off += n
        return pd.Series(out)

    return roll


def _span_windows(hs: Column, span: int, fold: str) -> Column:
    """The window-hash array under either fold implementation —
    identical values (pinned by parity test), different engines:
    ``arrow`` = the numpy kernel (the hot path), ``sql`` = the
    interpreted higher-order fold (oracle-translation reference)."""
    if fold == "arrow":
        return _span_hash_kernel(span)(hs)
    if fold == "sql":
        return _span_hash_array(hs, span)
    raise ValueError(f"unknown span fold implementation {fold!r}")


def _span_warr(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    hash_mode: str,
    span: int,
    fold: str,
) -> tuple[DataFrame, DataFrame]:
    """``(inputs, warr)`` — the lazy ``(id, _toks, _hs)`` projection
    plus ``warr = (id, _wh)``: each document's rolling window-hash
    array, MATERIALIZED once via ``localCheckpoint(eager=False)``.
    This is the span family's single-hash-pass barrier (r14): both
    consumers of the window hashes (the document-frequency aggregate
    and the coverage/occurrence stream) read the materialized array
    instead of re-running the tokenize → token-hash → rolling-kernel
    pipeline, which r13 measured as the family's remaining wall once
    the interpreted fold was gone (two deliberate hash passes ≈ the
    171.6 s vs ~115 s single-pass floor at 5M docs).

    Only the hashes are stored — ~8 B per window, partition-local
    blocks (no shuffle introduced), small enough to cache at stress
    scale (a first cut also checkpointed ``_toks`` and blew the 8 GB
    harness heap: deserialized token arrays are ~10× the text bytes;
    the cut tail instead re-derives tokens from the lazy ``inputs``,
    a plain split with no hashing — cheap, and exactly what the
    r8–r13 shape did anyway). The r10 InferFiltersFromGenerate trap
    (expensive expressions inlined into an inferred ``size()>0``
    filter) cannot reappear over ``warr``: its generators run over a
    materialized attribute of the checkpointed scan. Caveat
    (cluster): localCheckpoint blocks die with their executor; the
    span operators are batch jobs a scheduler retries, so lost-block
    reruns are acceptable — the alternative (reliable checkpoint to
    the cluster FS) costs a distributed write of the same bytes."""
    inputs = _with_span_inputs(docs, id_col, text_col, hash_mode)
    warr = inputs.select(
        F.col(id_col),
        _span_windows(F.col("_hs"), span, fold).alias("_wh"),
    ).localCheckpoint(eager=False)
    return inputs, warr


def _dup_occurrences(
    occ: DataFrame, id_col: str, min_df: int
) -> DataFrame:
    """Rows of ``occ`` (one row per span-hash OCCURRENCE, any extra
    columns carried through) whose ``span_hash`` occurs in at least
    ``min_df`` DISTINCT documents — computed on one hash-partitioned
    exchange with window functions instead of a distinct-hash
    aggregate joined back against the stream (guide §2.4: two
    same-keyed consumers share one exchange). Within each hash
    partition, rows sort by (hash, id); a lag marker flags each
    document's first row, and the marker's partition-wide sum is the
    hash's distinct-document count. Equal ids are adjacent after the
    sort, so intra-document repeats contribute one marker (df counts
    documents) while every occurrence row is kept. The marker is
    NULL-safe: a NULL id counts as one document, like the distinct
    it replaces — the partition's first row is always new, and a row
    is new after it only when its id differs NULL-safely."""
    from pyspark.sql import Window as W

    wp = W.partitionBy("span_hash")
    wo = wp.orderBy(id_col)
    first = F.row_number().over(wo) == 1
    same = F.lag(id_col).over(wo).eqNullSafe(F.col(id_col))
    return (
        occ.withColumn("_new", F.when(first | ~same, 1).otherwise(0))
        .withColumn("_df", F.sum("_new").over(wp))
        .filter(F.col("_df") >= min_df)
        .drop("_new", "_df")
    )


def duplicate_span_stats(
    docs: DataFrame,
    span: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "md5",
    fold: str = "arrow",
) -> DataFrame:
    """Corpus-wide exact-substring duplication signal (the span-level
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): hash every ``span``-token window with
    the cross-engine polynomial rolling hash (ROLLING_BASE/MOD — same
    family as :func:`rolling_fingerprint`, exact in BIGINT and
    doubles), count each window hash's document frequency corpus-wide,
    and report per document ``(n_spans, n_dup_spans, dup_span_frac)``
    where a dup span is a window whose hash occurs in ≥2 distinct
    documents. High dup_span_frac flags boilerplate/templated text
    that document-level dedup misses because the surrounding text
    differs.

    Shape at 100 TB (r15 fused-inventory form): ONE evaluation of the
    tokenize → token-hash → rolling-kernel pipeline, materialized as
    the per-doc window-hash array (:func:`_span_warr`), then ONE
    exchange of the occurrence stream — hash-partitioned by
    ``span_hash`` — over which document frequency is computed IN
    PLACE with window functions (:func:`_dup_occurrences`): a lag
    marker flags each hash's first row per document, its partition
    sum is the distinct-document count, and rows of hashes with
    df ≥ 2 flow straight into the per-doc aggregation. The r14 shape
    derived a df table from a second (distinct-hash) exchange and
    SortMergeJoined it back against the occurrence stream — two full
    corpus-order exchanges plus both SMJ sorts; the fused window
    keeps one (5M-doc A/B, same session: join 83.9–123.3 s vs window
    57.1–96.2 s, identical aggregates). ``n_spans`` stays plain array
    length. Window count is linear in corpus tokens; a ``span``-token
    window at the default 8 keeps the hash space dense enough that
    chance collisions (~n²/2³¹ for n distinct windows) stay
    negligible at test scale and are CONSERVATIVE (a collision can
    only over-report duplication; production at trillions of windows
    widens the hash).
    """
    _, warr = _span_warr(docs, id_col, text_col, hash_mode, span, fold)
    occ = warr.select(F.col(id_col), F.explode("_wh").alias("span_hash"))
    dup_occ = (
        _dup_occurrences(occ, id_col, min_df=2)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"))
    )
    per = warr.select(
        F.col(id_col), F.size("_wh").cast("long").alias("n_spans")
    ).join(dup_occ, id_col, "left")
    return (
        docs.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.when(F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("n_dup_spans"), F.lit(0))
                    / F.col("n_spans"),
                    4,
                )
            )
            .alias("dup_span_frac"),
        )
    )

def remove_duplicate_spans(
    docs: DataFrame,
    span: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_run: int | None = None,
    hash_mode: str = "md5",
    fold: str = "arrow",
) -> DataFrame:
    """Span-level dedup, the REMOVAL half (Lee et al. 2022 §4 — the
    half training pipelines actually apply; :func:`duplicate_span_stats`
    is the inventory half): cut every token covered by an
    exact-duplicate ``span``-token window (one whose rolling hash
    occurs in ≥ ``min_df`` distinct documents) and re-emit the
    cleaned text. Returns one row per input document:
    ``(id, cleaned_text, n_tokens, n_tokens_removed, removed_frac)``
    where ``cleaned_text`` is the surviving tokens of the
    lower/trim-normalized text joined by single spaces (normalized
    for EVERY doc, touched or not, so output text is uniform).

    ``min_run`` (r9, the variable-length extension): merge adjacent
    covered positions into maximal duplicated RUNS first and cut only
    runs of at least ``min_run`` tokens — the fixed-window
    approximation of deduplicate-text-datasets' length-thresholded
    suffix-array semantics (remove long verbatim boilerplate; keep
    short incidental n-gram collisions like common phrases). A run is
    a gaps-and-islands group over covered positions, so consecutive
    duplicated windows chain into one span regardless of which
    partner document duplicates each window. ``None`` keeps the
    every-covered-token behavior (a single window's run is already
    ``span`` long, so ``min_run <= span`` is equivalent to it).

    Shape at 100 TB: the window inventory and coverage interval math
    shuffle only (doc_id, position/hash) longs — same as the stats
    half. Token TEXT is shuffled exactly once, and only for documents
    that actually lose a span (cleaned text must be reassembled in
    token order); the untouched majority — the common case on a
    deduplicated corpus — passes through as a narrow projection with
    no shuffle at all. Coverage is computed relationally (explode the
    ≤``span``-long position range of each duplicated window, then
    distinct) rather than per-row interval masks: a boilerplate-heavy
    document's cost stays linear in its covered tokens instead of
    quadratic in (tokens × duplicated windows).

    Reference analogue: the transformer's name/description cleaning
    cuts KNOWN boilerplate phrases per row
    (src/pipelines/transform/transformer.py:600-753); this operator
    learns the boilerplate corpus-wide from span document frequency.
    """
    # ONE evaluation of the tokenize→hash→kernel pipeline (r14): the
    # window-hash array is materialized once (:func:`_span_warr`) and
    # both consumers — the df aggregate and the coverage stream —
    # read the stored array. The r8–r13 shape deliberately ran TWO
    # hash passes because the then-measured alternative (a shared
    # inventory EXCHANGE) added a full occurrence-stream shuffle
    # (two-pass 40.8 s vs shared-exchange 87.4 s at 500k docs); the
    # materialized array is the third option that beats both — no
    # occurrence shuffle (partition-local blocks) AND no second hash
    # pass, which the r13 kernel left as the family's wall (171.6 s
    # vs ~115 s floor at 5M docs).
    inputs, warr = _span_warr(docs, id_col, text_col, hash_mode, span, fold)
    wins = (
        warr.select(
            F.col(id_col),
            F.posexplode("_wh").alias("_p0", "span_hash"),
        )
        # 1-based window start, matching the hash family's slice index
        .select(id_col, (F.col("_p0") + 1).alias("s"), "span_hash")
    )
    # corpus-wide document frequency fused onto the occurrence
    # stream's own exchange (r15, guide §2.4): window-count distinct
    # docs per hash in place and keep rows with df >= min_df — the
    # r14 shape aggregated a distinct-hash df table on a second
    # exchange and SortMergeJoined it back (both SMJ sorts + one more
    # full corpus-order exchange; see duplicate_span_stats' A/B).
    return _cut_covered_spans(
        inputs,
        wins,
        None,
        span,
        min_run,
        id_col,
        dup_wins=_dup_occurrences(wins, id_col, min_df),
    )


def _cut_covered_spans(
    inputs: DataFrame,
    wins: DataFrame,
    dup_hashes: DataFrame | None,
    span: int,
    min_run: int | None,
    id_col: str,
    dup_wins: DataFrame | None = None,
) -> DataFrame:
    """The coverage→cut tail shared by :func:`remove_duplicate_spans`
    (corpus-wide df) and :func:`incremental_span_removal` (persisted
    store df + within-batch df): expand each duplicated window into
    its ≤``span`` covered positions, optionally keep only maximal
    runs of ≥ ``min_run`` tokens, and re-emit cleaned text with
    per-doc accounting. Text shuffles only for affected docs.

    Duplicated occurrences arrive EITHER as ``dup_wins`` (already
    df-filtered rows — the corpus case, where the window-function df
    shares the occurrence stream's exchange) OR as ``wins`` plus a
    ``dup_hashes`` set to inner-join (the incremental case, whose df
    table folds in a persisted store sidecar the stream cannot
    window over)."""
    covered = (
        (dup_wins if dup_wins is not None else wins.join(dup_hashes, "span_hash"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.lit(span - 1))
            ).alias("p"),
        )
        .distinct()
    )
    if min_run is not None and min_run > span:
        # gaps-and-islands: p - row_number() is constant within a
        # maximal consecutive run. The window partitions by document
        # and runs over its COVERED positions only (≤ the doc's token
        # count) — never corpus-wide, so no global-window stage.
        from pyspark.sql import Window as W

        grp = F.col("p") - F.row_number().over(
            W.partitionBy(id_col).orderBy("p")
        )
        covered = (
            covered.withColumn("_g", grp)
            .withColumn(
                "_run",
                F.count(F.lit(1)).over(W.partitionBy(id_col, "_g")),
            )
            .filter(F.col("_run") >= min_run)
            .select(id_col, "p")
        )
    # materialize the covered-position frame ONCE: it feeds three
    # consumers (affected-id anti-join, affected-id semi-join, the
    # (id, p) cut join) and without the barrier the ENTIRE inventory
    # subtree — posexplode of the window-hash arrays, the full
    # occurrence-stream shuffle into the df join, the (id, p)
    # distinct and both min_run windows — is planned and executed
    # PER CONSUMER (r15 executed-plan capture at 5M docs: two full
    # copies, 17 Exchanges / 6 SortMergeJoins → 7 / 3 with the
    # barrier). Narrow (id, p) longs only, same pattern as the
    # line-dedup family (guide §2.4 / §5 localCheckpoint to cut
    # lineage); r15 at 5M docs, clean alternating subprocesses on one
    # host: 246.0 s (r14 shape) → 111.7–140.0 s (barrier + fused
    # window df) with identical aggregates.
    covered = covered.localCheckpoint(eager=False)
    affected_ids = covered.select(id_col).distinct()
    normalized = inputs.select(id_col, "_toks")
    untouched = normalized.join(affected_ids, id_col, "left_anti").select(
        id_col,
        F.array_join("_toks", " ").alias("cleaned_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_tokens_removed"),
    )
    tokpos = (
        normalized.join(affected_ids, id_col, "left_semi")
        # _outer: semantically identical here (every affected doc has
        # ≥ span tokens, so no empty arrays exist to preserve) but
        # OUTER generators get no inferred size()>0 filter —
        # InferFiltersFromGenerate would inline the token split into
        # a filter pushed below the fan-out repartition and
        # re-tokenize the whole corpus on one core (the same trap the
        # span-hash generators dodge by taking expressions)
        .select(
            F.col(id_col), F.posexplode_outer("_toks").alias("_p0", "token")
        )
        .select(id_col, (F.col("_p0") + 1).alias("p"), "token")
    )
    cleaned = (
        tokpos.join(
            covered.withColumn("_cov", F.lit(1)), [id_col, "p"], "left"
        )
        .groupBy(id_col)
        .agg(
            # collect_list drops the NULLs the when() leaves on
            # covered positions; array_sort orders the structs by
            # their leading field p — token order survives the shuffle
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_cov").isNull(),
                                F.struct(F.col("p"), F.col("token")),
                            )
                        )
                    ),
                    lambda x: x["token"],
                ),
                " ",
            ).alias("cleaned_text"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count("_cov").cast("long").alias("n_tokens_removed"),
        )
    )
    return untouched.unionByName(cleaned).select(
        id_col,
        "cleaned_text",
        "n_tokens",
        "n_tokens_removed",
        F.round(F.col("n_tokens_removed") / F.col("n_tokens"), 4).alias(
            "removed_frac"
        ),
    )


def remove_duplicate_lines(
    docs: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level LINE dedup, removal form (C4 §2.2 / Gopher /
    RefinedWeb line-wise filtering): drop every line whose trimmed
    text occurs in ≥ ``min_df`` distinct documents, re-emit the
    surviving lines joined by ``\\n`` in original order. Returns one
    row per input document:
    ``(id, cleaned_text, n_lines, n_lines_removed, removed_frac)``.
    Blank lines (empty after trim) never count as duplicates and are
    always kept, so paragraph structure survives. The span-granular
    sibling is :func:`remove_duplicate_spans`; line granularity is
    the cheap first pass real pipelines run before it.

    Shape at 100 TB: document frequency is aggregated over a 56-bit
    line hash, so both shuffles (the df groupBy and the dup-key join
    back) carry (hash, doc_id) longs, never line text. Documents
    that lose no line — the common case — pass through as a
    left-anti projection with their ORIGINAL text untouched and no
    text shuffle at all; only affected documents have their lines
    reassembled (array_sort over a collect_list of (pos, line)
    structs, one shuffle keyed by doc id).

    Reference analogue: the transformer strips fixed boilerplate
    phrases per row (src/pipelines/transform/transformer.py:600-753);
    this learns boilerplate lines corpus-wide from document frequency.
    """
    lines = _doc_lines(docs, id_col, text_col)
    # materialize the narrow dup-key set once: it is consumed by BOTH
    # halves of the cut (the affected-id probe and the per-line flag
    # join), and each un-materialized reference re-ran the whole
    # explode+hash+groupBy pipeline over raw text — the plan scanned
    # the documents table 9× (r14; guide §1.2 "don't compute things
    # you throw away"). Only hashes are stored, never text.
    dup_keys = (
        lines.filter(F.col("lh").isNotNull())
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("line_df"))
        .filter(F.col("line_df") >= min_df)
        .select("lh")
        .localCheckpoint(eager=False)
    )
    return _cut_dup_lines(docs, lines, dup_keys, id_col, text_col)


def _doc_lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode documents into ``(id, p, line, lh)`` rows — 1-based
    position, raw line text, and the 56-bit hash of the TRIMMED line
    (NULL for blank lines, which never participate in dedup)."""
    from tiki_data_pipeline_spark.operators.curation import md5_h56

    return docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_p0", "line"),
    ).select(
        id_col,
        (F.col("_p0") + 1).alias("p"),
        "line",
        F.when(
            F.trim(F.col("line")) != "",
            md5_h56(F.trim(F.col("line")), "line"),
        ).alias("lh"),
    )


def _line_df_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(lh, df)`` — per trimmed-line hash, the number of documents
    carrying it: the additive rows of a line-df store."""
    return (
        _doc_lines(docs, id_col, text_col)
        .filter(F.col("lh").isNotNull())
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
    )


def _cut_dup_lines(
    docs: DataFrame,
    lines: DataFrame,
    dup_keys: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared removal half of the line-dedup family: cut every line
    whose hash is in ``dup_keys``, reassemble affected documents in
    position order, pass untouched documents through with their
    ORIGINAL text and no text shuffle."""
    # ids only — scale-safe to materialize at any corpus size; its two
    # consumers (the untouched anti-join and the cleaned semi-join)
    # otherwise each re-derive it from a fresh raw-text scan
    affected = (
        lines.join(dup_keys, "lh", "left_semi")
        .select(id_col)
        .distinct()
        .localCheckpoint(eager=False)
    )
    untouched = docs.join(affected, id_col, "left_anti").select(
        id_col,
        F.col(text_col).alias("cleaned_text"),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
        F.lit(0).cast("long").alias("n_lines_removed"),
    )
    cleaned = (
        lines.join(affected, id_col, "left_semi")
        .join(dup_keys.withColumn("_dup", F.lit(1)), "lh", "left")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_dup").isNull(),
                                F.struct(F.col("p"), F.col("line")),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("cleaned_text"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count("_dup").cast("long").alias("n_lines_removed"),
        )
    )
    return untouched.unionByName(cleaned).select(
        id_col,
        "cleaned_text",
        "n_lines",
        "n_lines_removed",
        F.round(F.col("n_lines_removed") / F.col("n_lines"), 4).alias(
            "removed_frac"
        ),
    )


def write_line_df_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the corpus's line document frequencies — ``(lh, df)``
    over 56-bit trimmed-line hashes — so later batches can cut
    boilerplate lines WITHOUT re-reading corpus text (the incremental
    twin of :func:`remove_duplicate_lines`, same store discipline as
    the MinHash/LSH indexes). ~16 bytes per distinct line vs the
    line text itself: the store scan is orders of magnitude cheaper
    than a corpus re-read at 100 TB, and it never contains text."""
    from tiki_data_pipeline_spark.sources.files import (
        store_put,
        write_store_meta,
    )

    store_put(_line_df_counts(docs, id_col, text_col), path, "overwrite")
    write_store_meta(path, {"kind": "line_df"})


def append_line_df_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new batch's per-line document counts as DELTA rows
    (merge-on-read: readers SUM df per lh; :func:`compact_line_df_store`
    folds deltas back to one row per line). Counts are additive, so an
    at-least-once replay of the same batch inflates df — harmless in
    direction (boilerplate only gets MORE likely to be cut) but the
    exactly-once shape is to gate appends on the streaming decisions
    log (``streaming.jobs``), same as the other ingest sinks.

    Crash ordering: the ledger scrub (clearing re-ingested ids from
    ``_deleted_ids`` so a later legitimate delete decrements again)
    runs BEFORE the data append. A crash between the two loses only
    the replay guard for ids that were about to be re-ingested — the
    batch replays, the scrub no-ops, the append lands. The reverse
    order's window (append committed, scrub lost) would leave the ids
    ledgered FOREVER: their next legitimate delete silently returns 0
    and the counts over-count until manual repair."""
    from tiki_data_pipeline_spark.sources.files import (
        check_store_meta,
        store_put,
    )

    check_store_meta(path, {"kind": "line_df"})
    # a re-ingested id leaves the deletion ledger (delete → re-ingest
    # → delete must decrement again; the ledger only guards REPLAYS).
    spark = docs.sparkSession
    _scrub_count_store_ledger(
        spark, path, docs.select(F.col(id_col).alias("id")).distinct()
    )
    store_put(_line_df_counts(docs, id_col, text_col), path, "append")


LINE_DF_LEDGER_DIR = "_deleted_ids"


def delete_line_df_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Retire documents from the line-df store by appending NEGATIVE
    per-line document counts — the additive-counter twin of the
    tombstone sidecar (the store keys on line hashes, not doc ids, so
    an id tombstone cannot express a doc's removal; a count decrement
    can, exactly). Readers SUM df per lh, so the decrement takes
    effect immediately; :func:`compact_line_df_store` folds it and
    drops lines whose count reaches zero. Delete the SAME rows that
    were appended (the doc text as ingested) — deleting a never-
    appended doc would push counts negative, which the serve path
    clamps at zero but the store should not be fed.

    Idempotent: retired ids are recorded in a ``_deleted_ids`` sidecar
    ledger and SKIPPED on replay, so an at-least-once delivery of the
    same delete batch (a crashed retry) cannot decrement a line twice
    — without the ledger a double decrement would let
    :func:`compact_line_df_store` drop a line whose live carriers
    still exist, silently flipping later removal decisions. The
    ledger survives compaction; :func:`append_line_df_store` clears
    re-ingested ids from it (delete → re-ingest → delete works).
    Returns the number of NEWLY retired docs (0 for a pure replay)."""
    import os

    from tiki_data_pipeline_spark.sources.files import (
        check_store_meta,
        recover_interrupted_swap,
    )

    from tiki_data_pipeline_spark.sources.files import (
        is_manifest_store,
        store_put,
        store_sub,
    )

    check_store_meta(path, {"kind": "line_df"})
    spark = docs.sparkSession
    fresh = docs
    if is_manifest_store(path):
        ledger = store_sub(spark, path, LINE_DF_LEDGER_DIR)
        if ledger is not None:
            seen = ledger.select(F.col("id").alias(id_col)).distinct()
            fresh = docs.join(F.broadcast(seen), id_col, "anti")
    else:
        ldir = os.path.join(path, LINE_DF_LEDGER_DIR)
        # recover a crashed ledger swap before the isdir probe — after
        # a crash between the swap's renames only `_deleted_ids.old`
        # exists and a bare isdir would drop replay protection for
        # every past delete (a replayed batch would double-decrement)
        recover_interrupted_swap(ldir)
        if os.path.isdir(ldir):
            seen = (
                spark.read.parquet(ldir)
                .select(F.col("id").alias(id_col))
                .distinct()
            )
            fresh = docs.join(F.broadcast(seen), id_col, "anti")
    # pin the batch once: count, decrement write and ledger append all
    # re-execute `fresh` otherwise, and a non-deterministic input
    # (sample/limit upstream) would decrement one id set and ledger a
    # different one — desynchronizing counts from replay protection
    fresh = fresh.localCheckpoint(eager=False)
    ids = fresh.select(F.col(id_col).alias("id")).distinct()
    n = ids.count()
    if n == 0:
        return 0
    lines = _doc_lines(fresh, id_col, text_col)
    store_put(
        lines.filter(F.col("lh").isNotNull())
        .groupBy("lh")
        .agg((-F.count_distinct(F.col(id_col))).alias("df")),
        path,
        "append",
    )
    # ledger lands AFTER the decrement: a crash in between replays as
    # a double decrement (the narrow at-least-once window every
    # additive sink shares); the reverse order would drop deletes
    store_put(ids, path, "append", sub=LINE_DF_LEDGER_DIR, coalesce=1)
    return n


def compact_line_df_store(spark, path: str) -> None:
    """Fold appended delta rows into one ``(lh, df)`` row per line
    (crash-safe staging swap). Run periodically: serve cost grows
    with delta-row count, not distinct-line count, until compaction.
    Lines whose folded count is ≤ 0 (every contributing doc deleted
    via :func:`delete_line_df_store`) are dropped outright — the
    store never carries dead lines forward. Sidecars (``_meta.json``,
    the ``_deleted_ids`` replay ledger) are carried verbatim: the
    ledger must OUTLIVE compaction, or a replayed delete batch would
    decrement the freshly folded counts a second time."""
    _compact_count_store(spark, path, "lh")


def incremental_line_removal(
    spark,
    path: str,
    batch: DataFrame,
    min_df: int = 2,
    count_batch: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut boilerplate lines from a NEW batch against the persisted
    line-df store: a line is removed when its corpus df plus (with
    ``count_batch``) its within-batch df reaches ``min_df`` — so
    boilerplate born inside the batch is caught on arrival, not one
    ingest later. Returns the :func:`remove_duplicate_lines` schema
    for the batch docs. Does NOT mutate the store; callers append the
    batch's counts (``append_line_df_store``) once its ingest decision
    is committed, mirroring the decide-then-append staging of the
    other incremental families.

    Serve shape at 100 TB: the store is semi-joined down to the
    batch's line hashes BEFORE aggregating (a batch touches a few
    thousand distinct lines; the store holds billions), so the only
    full-store cost is the columnar (lh, df) scan — no text, no
    store-side shuffle of non-matching lines."""
    lines = _doc_lines(batch, id_col, text_col)
    keyed = lines.filter(F.col("lh").isNotNull())
    # narrow (lh, df) — materialized once: it feeds the store semi-join
    # AND the total; un-materialized, each reference re-exploded and
    # re-hashed the batch text (the serve plan scanned the batch 13×
    # before r14)
    batch_df = (
        keyed.groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("_df_b"))
        .localCheckpoint(eager=False)
    )
    from tiki_data_pipeline_spark.sources.files import store_data

    store_df = (
        store_data(spark, path)
        .join(batch_df.select("lh"), "lh", "left_semi")
        .groupBy("lh")
        # clamp at 0: delete_line_df_store appends negative deltas; a
        # over-deleted line (deleted doc never appended) must count as
        # absent, not as negative evidence against the batch's own df
        .agg(F.greatest(F.sum("df"), F.lit(0)).alias("_df_s"))
    )
    total = batch_df.join(store_df, "lh", "left").select(
        "lh",
        (
            (F.col("_df_b") if count_batch else F.lit(0))
            + F.coalesce(F.col("_df_s"), F.lit(0))
        ).alias("line_df"),
    )
    # tiny (duplicated hashes only) — consumed twice by the cut; the
    # checkpoint also keeps its two references from re-scanning the
    # store's (lh, df) columns
    dup_keys = (
        total.filter(F.col("line_df") >= min_df)
        .select("lh")
        .localCheckpoint(eager=False)
    )
    return _cut_dup_lines(batch, lines, dup_keys, id_col, text_col)


# ---------------------------------------------------------------------------
# Span-df store: the incremental form of span-level dedup
# ---------------------------------------------------------------------------
# remove_duplicate_spans is corpus-wide; at 100 TB a crawl delta must
# be decided WITHOUT re-hashing the corpus. Same store discipline as
# the line-df family: persist (h, df) — window-hash document
# frequencies, ~16 bytes per distinct window, never text — append new
# batches as additive deltas (merge-on-read: readers SUM df per h),
# retire documents with negative counts guarded by the same
# ``_deleted_ids`` replay ledger, and fold periodically. The store
# pins its window geometry in meta (span + hash_mode): a batch decided
# with a different span or token hash would compare incompatible
# window identities, so mismatches raise.

SPAN_DF_KIND = "span_df"


def _doc_span_hashes(
    docs: DataFrame,
    span: int,
    id_col: str,
    text_col: str,
    hash_mode: str,
    fold: str,
) -> DataFrame:
    """(id, h) — each document's DISTINCT window hashes (document
    frequency semantics: a window repeated within one doc counts
    once)."""
    inputs = _with_span_inputs(docs, id_col, text_col, hash_mode)
    return inputs.select(
        id_col,
        F.explode(
            F.array_distinct(_span_windows(F.col("_hs"), span, fold))
        ).alias("h"),
    )


def _span_df_counts(
    docs: DataFrame,
    span: int,
    hash_mode: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fold: str = "arrow",
) -> DataFrame:
    """``(h, df)`` — per window hash, the number of documents
    carrying it: the additive rows of a span-df store."""
    return (
        _doc_span_hashes(docs, span, id_col, text_col, hash_mode, fold)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _span_store_geometry(path: str) -> tuple[int, str]:
    """The store's pinned window geometry; raises on a non-span store.
    Strict (no legacy tolerance): span stores have always written
    their geometry, so an absent meta means not-a-span-store — the
    lenient ``check_store_meta`` pass-through would KeyError later."""
    from tiki_data_pipeline_spark.sources.files import (
        check_store_meta,
        read_store_meta,
    )

    check_store_meta(path, {"kind": SPAN_DF_KIND})
    meta = read_store_meta(path) or {}
    if meta.get("kind") != SPAN_DF_KIND or "span" not in meta:
        raise ValueError(
            f"no span-df store at {path} (meta missing or wrong kind: "
            f"{meta.get('kind')!r})"
        )
    return int(meta["span"]), meta.get("hash_mode", "md5")


def write_span_df_store(
    docs: DataFrame,
    path: str,
    span: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "md5",
    fold: str = "arrow",
) -> None:
    """Persist the corpus's window-hash document frequencies so later
    batches can cut duplicated spans WITHOUT re-reading corpus text —
    the span twin of :func:`write_line_df_store`."""
    from tiki_data_pipeline_spark.sources.files import (
        store_put,
        write_store_meta,
    )

    store_put(
        _span_df_counts(docs, span, hash_mode, id_col, text_col, fold),
        path,
        "overwrite",
    )
    write_store_meta(
        path, {"kind": SPAN_DF_KIND, "span": int(span), "hash_mode": hash_mode}
    )


def append_span_df_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fold: str = "arrow",
) -> None:
    """Append a new batch's window-hash counts as DELTA rows (readers
    SUM df per h; :func:`compact_span_df_store` folds). Re-ingested
    ids leave the deletion ledger first — same crash ordering and
    rationale as :func:`append_line_df_store` (scrub before append:
    the reverse order's crash window would ledger ids forever)."""
    span, hash_mode = _span_store_geometry(path)
    spark = docs.sparkSession
    _scrub_count_store_ledger(
        spark, path, docs.select(F.col(id_col).alias("id")).distinct()
    )
    from tiki_data_pipeline_spark.sources.files import store_put

    store_put(
        _span_df_counts(docs, span, hash_mode, id_col, text_col, fold),
        path,
        "append",
    )


def _scrub_count_store_ledger(spark, path: str, batch_ids: DataFrame) -> None:
    """Clear re-ingested ids from an additive count store's
    ``_deleted_ids`` replay ledger (delete → re-ingest → delete must
    decrement again; the ledger only guards REPLAYS). Backend-aware:
    manifest = one atomic sub overwrite; posix = crash-safe swap with
    pre-probe recovery (a crashed swap leaves only ``.old`` and a bare
    isdir would silently drop the scrub AND the next delete's replay
    guard)."""
    import os

    from tiki_data_pipeline_spark.sources.files import (
        is_manifest_store,
        recover_interrupted_swap,
        store_put,
        store_sub,
        swap_parquet_rewrite,
    )

    if is_manifest_store(path):
        ledger = store_sub(spark, path, LINE_DF_LEDGER_DIR)
        if ledger is not None and (
            ledger.join(batch_ids, "id", "semi").limit(1).count()
        ):
            scrubbed = (
                ledger.select("id")
                .distinct()
                .join(batch_ids, "id", "anti")
                .localCheckpoint()
            )
            store_put(
                scrubbed, path, "overwrite",
                sub=LINE_DF_LEDGER_DIR, coalesce=1,
            )
        return
    ldir = os.path.join(path, LINE_DF_LEDGER_DIR)
    recover_interrupted_swap(ldir)
    if os.path.isdir(ldir):
        ledger = spark.read.parquet(ldir).select("id").distinct()
        if ledger.join(batch_ids, "id", "semi").limit(1).count():
            swap_parquet_rewrite(
                ldir,
                lambda staging: spark.read.parquet(ldir)
                .select("id")
                .distinct()
                .join(batch_ids, "id", "anti")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging),
            )


def delete_span_df_store(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fold: str = "arrow",
) -> int:
    """Retire documents from the span-df store by appending NEGATIVE
    window counts — the additive-counter deletion of
    :func:`delete_line_df_store`, span-granular. Idempotent via the
    shared ``_deleted_ids`` ledger; returns NEWLY retired doc count
    (0 for a pure replay). Delete the SAME text that was appended."""
    span, hash_mode = _span_store_geometry(path)
    spark = docs.sparkSession
    fresh = docs
    from tiki_data_pipeline_spark.sources.files import (
        is_manifest_store,
        store_put,
        store_sub,
    )

    if is_manifest_store(path):
        ledger = store_sub(spark, path, LINE_DF_LEDGER_DIR)
        if ledger is not None:
            seen = ledger.select(F.col("id").alias(id_col)).distinct()
            fresh = docs.join(F.broadcast(seen), id_col, "anti")
    else:
        import os

        from tiki_data_pipeline_spark.sources.files import (
            recover_interrupted_swap,
        )

        ldir = os.path.join(path, LINE_DF_LEDGER_DIR)
        recover_interrupted_swap(ldir)
        if os.path.isdir(ldir):
            seen = (
                spark.read.parquet(ldir)
                .select(F.col("id").alias(id_col))
                .distinct()
            )
            fresh = docs.join(F.broadcast(seen), id_col, "anti")
    # pin the batch once: the decrement write and the ledger append
    # must see the SAME id set (see delete_line_df_store)
    fresh = fresh.localCheckpoint(eager=False)
    ids = fresh.select(F.col(id_col).alias("id")).distinct()
    n = ids.count()
    if n == 0:
        return 0
    decrements = (
        _doc_span_hashes(fresh, span, id_col, text_col, hash_mode, fold)
        .groupBy("h")
        .agg((-F.count(F.lit(1))).alias("df"))
    )
    store_put(decrements, path, "append")
    # ledger AFTER the decrement (crash between = one replayed double
    # decrement, the narrow window every additive sink shares; the
    # reverse order would DROP deletes)
    store_put(ids, path, "append", sub=LINE_DF_LEDGER_DIR, coalesce=1)
    return n


def compact_span_df_store(spark, path: str) -> None:
    """Fold the span-df store's delta rows to one (h, df) row per
    window hash, dropping hashes whose folded count reaches zero.
    Sidecars (meta, the deletion ledger) carry verbatim — identical
    mechanics to :func:`compact_line_df_store`, keyed on ``h``."""
    _span_store_geometry(path)
    _compact_count_store(spark, path, "h")


def _compact_count_store(spark, path: str, key: str) -> None:
    """Shared compaction for additive (key, df) count stores: fold to
    one row per key in one ``StoreRewrite`` (either backend), keeping
    every sidecar unchanged."""
    from tiki_data_pipeline_spark.sources.files import StoreRewrite, store_data

    rw = StoreRewrite(path)
    rw.write(
        store_data(spark, path)
        .groupBy(key)
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )
    rw.keep(*rw.sidecars)
    rw.commit("compact")


def incremental_span_removal(
    spark,
    path: str,
    batch: DataFrame,
    min_df: int = 2,
    min_run: int | None = None,
    count_batch: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    fold: str = "arrow",
) -> DataFrame:
    """Cut duplicated spans from a NEW batch against the persisted
    span-df store: a window is duplicated when its corpus df plus
    (with ``count_batch``) its within-batch df reaches ``min_df`` —
    batch-born boilerplate is caught on arrival, one ingest earlier
    than a store-only compare. Returns the
    :func:`remove_duplicate_spans` schema for the batch docs; the
    store is NOT mutated (callers append the batch's counts via
    :func:`append_span_df_store` once its ingest decision commits —
    the decide-then-append staging of every incremental family).
    ``min_run`` carries the variable-length semantics unchanged.

    Serve shape at 100 TB: the store is semi-joined down to the
    batch's window hashes BEFORE aggregating (a batch touches
    thousands of distinct windows; the store holds billions), so the
    only full-store cost is the columnar (h, df) scan — no text, no
    store-side shuffle of non-matching windows. Window geometry
    (span, hash_mode) comes from the store meta, so a batch can never
    be decided against incompatible window identities."""
    span, hash_mode = _span_store_geometry(path)
    # single hash pass over the batch (same materialized-array shape
    # as the corpus-wide form; see _span_warr)
    inputs, warr = _span_warr(batch, id_col, text_col, hash_mode, span, fold)
    wins = (
        warr.select(
            F.col(id_col),
            F.posexplode("_wh").alias("_p0", "span_hash"),
        )
        .select(id_col, (F.col("_p0") + 1).alias("s"), "span_hash")
    )
    batch_df = (
        warr.select(
            F.explode(F.array_distinct(F.col("_wh"))).alias("span_hash")
        )
        .groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("_df_b"))
    )
    from tiki_data_pipeline_spark.sources.files import store_data

    store_df = (
        store_data(spark, path)
        .withColumnRenamed("h", "span_hash")
        .join(batch_df.select("span_hash"), "span_hash", "left_semi")
        .groupBy("span_hash")
        # clamp at 0: delete_span_df_store appends negative deltas; an
        # over-deleted window must count as absent, never as negative
        # evidence against the batch's own df
        .agg(F.greatest(F.sum("df"), F.lit(0)).alias("_df_s"))
    )
    dup_hashes = (
        batch_df.join(store_df, "span_hash", "left")
        .select(
            "span_hash",
            (
                (F.col("_df_b") if count_batch else F.lit(0))
                + F.coalesce(F.col("_df_s"), F.lit(0))
            ).alias("_df"),
        )
        .filter(F.col("_df") >= min_df)
        .select("span_hash")
    )
    return _cut_covered_spans(inputs, wins, dup_hashes, span, min_run, id_col)
