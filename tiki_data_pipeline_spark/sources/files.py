"""File sources & sinks (SURVEY.md §2.1 S5-S7).

The reference moves JSON files between pipeline stages with an
envelope shape ``{total_products, stats, products: [...]}`` (reference
src/common/analytics/aggregator.py:27-49, tasks/product.py:276-310)
and writes them atomically via temp-file+rename (reference
src/pipelines/crawl/utils.py:449-513). Spark equivalents:

- S5: ``spark.read.json(multiLine)`` + ``explode(products)``;
- S6: gzip JSON reads natively (codec by extension); parquet+snappy
  is the engine's native interchange format;
- S7: atomicity comes from the job-commit protocol of
  ``df.write`` — no hand-rolled rename dance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiki_data_pipeline_spark.sources import store_backend as MB
from tiki_data_pipeline_spark.sources.store_backend import (  # noqa: F401
    is_manifest_store,
    resolve_backend,
    split_pin,
)


# ---------------------------------------------------------------------------
# Store access helpers (backend dispatch)
# ---------------------------------------------------------------------------
# Persisted stores come in two physical backends behind one API: the
# POSIX layout (directory tree + hardlink snapshots + rename swaps —
# right on a real filesystem) and the MANIFEST layout (immutable
# generation files + JSON manifests + one atomic pointer — the
# object-store/lakehouse shape; see sources/store_backend.py). A
# store is self-describing (`_mf/CURRENT.json` marks manifest), so
# every helper below dispatches per store; serve and build code is
# backend-agnostic. Reads and appends dispatch to each backend's own
# writer; every maintenance rewrite (fold, layout migration,
# count-store and manifest compaction) runs ONE backend-agnostic body
# through the StoreRewrite seam, whose commit is the only per-backend
# step (posix: hardlink carry + directory swap; manifest: reference
# carry + one generation commit).


def store_data(spark: SparkSession, path: str) -> DataFrame:
    """Scan a store's data tree (partition columns parsed either
    way); raises when the store has no data files."""
    if is_manifest_store(path):
        df = MB.store_read(spark, path, None)
        if df is None:
            raise ValueError(f"manifest store at {path} has no data files")
        return df
    return spark.read.parquet(path)


def store_sub(spark: SparkSession, path: str, name: str) -> DataFrame | None:
    """Scan one sidecar (``_fingerprints``, ``_hot_bands``, …);
    None when the store has no such sidecar."""
    if is_manifest_store(path):
        return MB.store_read(spark, path, name)
    import os

    sp = os.path.join(split_pin(path)[0], name)
    return spark.read.parquet(sp) if os.path.isdir(sp) else None


def store_sub_exists(path: str, name: str) -> bool:
    if is_manifest_store(path):
        return MB.store_sub_exists(path, name)
    import os

    return os.path.isdir(os.path.join(split_pin(path)[0], name))


def store_sub_partitioned(path: str, name: str, key: str) -> bool:
    """Is a sidecar Hive-partitioned on ``key`` (vs legacy flat)?"""
    if is_manifest_store(path):
        root, pin = split_pin(path)
        pref = f"{name}/{key}="
        return any(
            MB._lp(f).startswith(pref)
            for f in MB.manifest_files(root, name, MB._resolve_gen(root, pin))
        )
    import os

    sdir = os.path.join(path, name)
    return os.path.isdir(sdir) and any(
        e.name.startswith(f"{key}=") for e in os.scandir(sdir) if e.is_dir()
    )


def store_put(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | None = None,
    sub: str | None = None,
    coalesce: int | None = None,
    range_key: str | None = None,
    n_range_files: int | None = None,
    backend: str | None = None,
) -> None:
    """Write a store's data tree (``sub=None``) or one sidecar, in
    either backend. An EXISTING store keeps its backend regardless of
    ``backend``/env (mixed trees would not read); a store being BORN
    follows ``backend``, else the ``SPARK_GRAFT_STORE_BACKEND`` env
    default, else posix. The posix shapes are byte-identical to the
    pre-backend writers (co-locate-then-partition, range-sorted flat,
    coalesced sidecar)."""
    import os

    root, pin = split_pin(path)
    if pin is not None:
        raise ValueError(f"cannot write to a pinned snapshot handle {path}")
    if is_manifest_store(root) or (
        # a store is BORN manifest when the path holds no data yet —
        # an empty pre-created directory is not an existing store
        (not os.path.isdir(root) or not os.listdir(root))
        and resolve_backend(backend) == "manifest"
    ):
        MB.store_put(
            df,
            root,
            mode=mode,
            partition_by=partition_by,
            sub=sub,
            coalesce=coalesce,
            range_key=range_key,
            n_range_files=n_range_files,
        )
        return
    target = os.path.join(root, sub) if sub else root
    if partition_by is not None:
        (
            df.repartition(F.col(partition_by))
            .write.mode(mode)
            .partitionBy(partition_by)
            .parquet(target)
        )
    elif range_key is not None:
        (
            df.repartitionByRange(n_range_files or 4, range_key)
            .sortWithinPartitions(range_key)
            .write.mode(mode)
            .parquet(target)
        )
    elif coalesce:
        df.coalesce(coalesce).write.mode(mode).parquet(target)
    else:
        df.write.mode(mode).parquet(target)


def version_path(path: str, version: int) -> str:
    """The read-only handle of snapshot ``version`` — a COMPLETE store
    (data + sidecars + meta as of the pin) accepted by every read
    helper and serve function: the posix ``_versions/vN`` tree, or
    the manifest ``root@vN`` pinned handle."""
    import os

    if is_manifest_store(path):
        return f"{path}@v{version}"
    return os.path.join(path, VERSIONS_DIR, f"v{version}")


def read_product_envelope(
    spark: SparkSession, path: str, product_schema: T.StructType | str | None = None
) -> DataFrame:
    """S5 — read the reference's JSON envelope and explode the
    ``products`` array into one row per product."""
    if product_schema is not None:
        if isinstance(product_schema, str):
            product_schema = T.StructType.fromDDL(product_schema)
        envelope = T.StructType(
            [
                T.StructField("total_products", T.LongType(), True),
                T.StructField("stats", T.MapType(T.StringType(), T.StringType()), True),
                T.StructField("products", T.ArrayType(product_schema), True),
            ]
        )
        raw = spark.read.schema(envelope).json(path, multiLine=True)
    else:
        raw = spark.read.json(path, multiLine=True)
    return raw.select(F.explode("products").alias("p")).select("p.*")


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """Line-delimited JSON (optionally .gz — codec inferred)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet_atomic(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7 — atomic sink: Spark's job-commit protocol writes to a
    temporary attempt dir and commits by rename, replacing the
    reference's hand-rolled temp-file dance."""
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Month/key-partitioned layout (M7 retention becomes partition
    drops; at 100 TB partition pruning is the first-order win)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_sorted(
    df: DataFrame, path: str, sort_cols: list[str], n_partitions: int | None = None
) -> None:
    """Range-partition + sort-within-partitions before writing: each
    parquet file covers a disjoint range of ``sort_cols``, so its
    row-group min/max statistics prune scans with predicates on those
    columns — the 100 TB cousin of an index."""
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def recover_interrupted_swap(path: str) -> None:
    """Restore a dataset to a single live copy after a crash during a
    :func:`swap_parquet_rewrite` (idempotent, no-op in the common
    case). Called automatically by the swap itself; callers that READ
    ``path`` before staging a rewrite (e.g. the pruned fold's
    affected-partition scan) run it first so the read never lands in
    the between-renames window of a previous crash. Manifest stores
    need no recovery — their commit is one atomic pointer put — so
    this is a no-op there."""
    import os
    import shutil

    if is_manifest_store(path):
        return

    old = path + ".old"
    if os.path.isdir(old):
        if os.path.isdir(path):
            # leftover from a prior crash AFTER the swap completed:
            # path holds the live data, .old is stale — discard it
            # (shutil.move(path, old) with old present would nest the
            # live tree INSIDE the stale one)
            shutil.rmtree(old)
        else:
            # crash BETWEEN the two renames: .old IS the live data
            shutil.move(old, path)


def swap_parquet_rewrite(path: str, write_staging) -> None:
    """Crash-safe in-place dataset rewrite: recover any interrupted
    prior swap, call ``write_staging(staging_dir)`` to build the new
    copy, then swap it in — rename the live dir aside, move the staged
    rewrite into place, delete the old copy. A valid dataset exists at
    ``path`` at all times except during one rename, and a crash
    mid-swap leaves both copies on disk (never zero). Shared by
    :func:`compact_parquet`, :func:`compact_store`'s per-leaf swaps, the
    posix commit of every :class:`StoreRewrite` and the streaming
    decisions-log layout migration (``streaming.jobs``)."""
    import os
    import shutil

    recover_interrupted_swap(path)
    old = path + ".old"
    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    write_staging(staging)
    shutil.move(path, old)
    try:
        shutil.move(staging, path)
    except Exception:
        shutil.move(old, path)  # roll back: restore the primary copy
        raise
    shutil.rmtree(old)


_FENCED: set[str] = set()  # store roots fenced by THIS process
FENCE_LOCK = "_maintenance.lock"


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - other-user process
        return True
    return True


from contextlib import contextmanager  # noqa: E402


@contextmanager
def maintenance_fence(path: str, op: str):
    """Writer fencing for the POSIX store family's maintenance window
    — the twin of the manifest backend's commit CAS
    (``store_backend._commit(based_on=)``): the documented
    single-writer contract used to have NO detection on posix stores,
    so two concurrent folds could silently last-write-win a directory
    swap. The fence is an ``O_CREAT|O_EXCL`` lockfile at the store
    root holding the writer's pid: a second writer raises
    :class:`store_backend.ConcurrentCommitError` while the holder is
    alive, and sweeps the lock as a crash orphan when the holder pid
    is dead (the posix-local improvement over the manifest grace
    window — the store and its writers share a host, so liveness is
    checkable directly; an NFS-shared store falls back to the
    single-writer contract, as before this guard existed).

    Reentrant within one process (``compact_store`` calls
    ``fold_tombstones`` inside its own window); a no-op on manifest
    stores, whose every mutation is already CAS-fenced at commit."""
    import json
    import os
    import time

    root = os.path.abspath(split_pin(path)[0])
    if is_manifest_store(path) or root in _FENCED or not os.path.isdir(root):
        yield
        return
    lock = os.path.join(root, FENCE_LOCK)
    payload = json.dumps(
        {"pid": os.getpid(), "op": op, "created_unix": int(time.time())}
    )
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            break
        except FileExistsError:
            holder: dict = {}
            try:
                with open(lock) as f:
                    holder = json.loads(f.read())
            except (OSError, ValueError):
                holder = {}  # unreadable claim: treat as orphan
            pid = holder.get("pid")
            if (pid is not None and _pid_alive(int(pid))) or attempt:
                raise MB.ConcurrentCommitError(
                    f"store {root}: maintenance window held by "
                    f"pid {pid} ({holder.get('op', '?')}) — concurrent "
                    f"writer detected; re-run {op} once it finishes"
                )
            # holder crashed: sweep the orphan lock, retry the claim
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass
    _FENCED.add(root)
    try:
        yield
    finally:
        _FENCED.discard(root)
        import os as _os

        try:
            _os.remove(lock)
        except FileNotFoundError:
            pass


def _fenced(op: str):
    """Decorator: run the wrapped store mutation inside
    :func:`maintenance_fence` (path = the function's first str
    argument, or the ``path`` kwarg)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            path = kwargs.get("path") or next(
                a for a in args if isinstance(a, str)
            )
            with maintenance_fence(path, op):
                return fn(*args, **kwargs)

        return wrapper

    return deco


def compact_parquet(spark: SparkSession, path: str, target_files: int) -> None:
    """Small-files compaction: rewrite a parquet dataset into
    ``target_files`` files. The 100 TB failure mode this prevents:
    thousands of KB-sized files from fine-grained incremental appends
    turn every scan into a metadata storm. ``coalesce`` (no shuffle)
    merges partitions; the swap discipline is
    :func:`swap_parquet_rewrite`."""
    # the read happens inside the callback — AFTER crash recovery has
    # restored ``path``, and while it is still the live copy
    swap_parquet_rewrite(
        path,
        lambda staging: spark.read.parquet(path)
        .coalesce(target_files)
        .write.mode("overwrite")
        .parquet(staging),
    )


def write_store_meta(path: str, meta: dict) -> None:
    """Record a persisted store's build parameters in
    ``<path>/_meta.json`` (underscore prefix = invisible to parquet
    readers). In a manifest store the meta is itself a versioned
    manifest entry, so snapshots pin the build parameters AS OF the
    pin; posix writes it at the store root (a snapshot hardlinks
    it)."""
    import json
    import os

    if is_manifest_store(path):
        MB.put_json_entry(split_pin(path)[0], "_meta.json", meta)
        return
    # a NEW file replaced into place, never an in-place write: snapshots
    # and rewrites carry the old file by hardlink, which must keep its
    # bytes
    MB.FS.put_atomic(os.path.join(path, "_meta.json"), json.dumps(meta))


def read_store_meta(path: str) -> dict | None:
    """Return ``<path>/_meta.json`` as a dict, or None for a
    pre-meta store. Serve paths use this to resolve build parameters
    (e.g. the LSH plane count) from the store itself instead of
    trusting the caller — a mismatched parameter would probe the
    wrong buckets and lose recall SILENTLY."""
    import json
    import os

    if is_manifest_store(path):
        return MB.get_json_entry(path, "_meta.json")
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        return json.load(f)


def update_store_meta(path: str, updates: dict) -> None:
    """Merge keys into ``<path>/_meta.json`` (read-modify-write) —
    used for auxiliary serve statistics (row counts, duplicate mass,
    hot-bucket policy) that accrete after the build without
    re-stating the signature parameters."""
    meta = read_store_meta(path) or {}
    meta.update(updates)
    write_store_meta(path, meta)


def check_store_meta(path: str, expected: dict) -> None:
    """Raise if ``<path>/_meta.json`` disagrees with the parameters of
    an incoming append — mixing signature families in one store breaks
    scoring SILENTLY (nulls/wrong buckets), so it must fail loudly.
    Only the EXPECTED keys are compared: the meta also carries
    auxiliary serve statistics (``n_rows``, duplicate mass, hot-bucket
    policy) that are not signature parameters. A store without meta
    (pre-meta build) skips validation; the caller owns consistency
    there."""
    meta = read_store_meta(path)
    if meta is None:
        return
    mismatched = {k: v for k, v in expected.items() if meta.get(k) != v}
    if mismatched:
        stored = {k: meta.get(k) for k in mismatched}
        raise ValueError(
            f"store at {path} was built with {stored}; appending with "
            f"{mismatched} would mix incomparable signatures — rebuild "
            "or match the stored parameters"
        )


# Crash leftovers a swap can leave beside a live directory: '.old' is
# the live copy between the two renames, '.staging' a half-built
# rewrite ('.compacting' is the pre-r8 staging suffix, still
# recognized). compact_store and StoreRewrite stage their writes under
# dot-prefixed directories at the store root: Spark's file listing
# skips them, and a rewrite never carries them.
_SWAP_SUFFIXES = (".old", ".staging", ".compacting")
COMPACT_STAGING = ".compact.staging"
REWRITE_STAGING = ".rewrite.staging"


def _live_subdirs(dirpath: str) -> set[str]:
    """Names of ``dirpath``'s live subdirectories, with swap crash
    leftovers resolved to the live name they belong to ('band=0.old'
    → 'band=0'): a leftover is mid-flight residue, NOT a partition,
    and treating it as one would skip the recovery of the missing
    live dir and leave bogus partition values in the tree. Hidden
    (dot-prefixed) directories such as the staging trees belong to no
    live directory and are left out."""
    import os

    names: set[str] = set()
    if not os.path.isdir(dirpath):
        return names
    for e in os.scandir(dirpath):
        if not e.is_dir() or e.name.startswith("."):
            continue
        name = e.name
        for suffix in _SWAP_SUFFIXES:
            if name.endswith(suffix):
                name = name[: -len(suffix)]
                break
        names.add(name)
    return names


def _settled_parquet_files(leaf: str) -> list[str]:
    """Resolve one directory's crash residue — recover an interrupted
    swap from its ``.old`` copy, drop stale staging siblings (never
    live data: the swap moves the live dir aside only after staging
    is complete) — and list the parquet files it then holds."""
    import os
    import shutil

    recover_interrupted_swap(leaf)
    for suffix in _SWAP_SUFFIXES[1:]:  # the staging suffixes
        shutil.rmtree(leaf + suffix, ignore_errors=True)
    if not os.path.isdir(leaf):
        return []
    return sorted(f for f in os.listdir(leaf) if f.endswith(".parquet"))


def _compact_leaves(
    spark: SparkSession,
    leaves: dict[str, list[str]],
    staging: str,
    target: int,
) -> None:
    """Rewrite ``leaves`` (leaf dir → its parquet files, all of one
    tree and one file schema) to at most ``target`` files each with
    ONE Spark write, then swap each leaf in with the per-leaf
    :func:`swap_parquet_rewrite` protocol, so crash safety stays per
    leaf. Rows are tagged with their leaf by FILE path, never by
    re-rendered partition values (``cid=033`` or a numeric-looking run
    hash do not round-trip — see :func:`_fold_decisions_sidecar`); the
    leaves are read as roots, so no partition column is parsed and the
    rows keep the files' own schema."""
    import os
    import shutil
    from urllib.parse import unquote, urlparse

    dirs = list(leaves)
    idx = {os.path.abspath(d): i for i, d in enumerate(dirs)}
    df = spark.read.parquet(*dirs)
    cols = df.columns
    # leaf index per file dir, keyed as Spark renders the file paths
    uri_leaf = {
        f.rsplit("/", 1)[0]: idx[os.path.dirname(unquote(urlparse(f).path))]
        for f in df.inputFiles()
    }
    tag = F.element_at(
        F.create_map(*[F.lit(x) for kv in uri_leaf.items() for x in kv]),
        F.regexp_extract(F.input_file_name(), r"^(.*)/[^/]*$", 1),
    )
    # an untagged row would land in no leaf: fail the write instead
    tag = F.coalesce(tag, F.raise_error(F.lit("compact_store: untagged row")))
    # one task per leaf (target 1), or per (leaf, row-hash salt): each
    # task writes one file per leaf it holds → ≤ target files per leaf
    keys = [F.col("_leaf")]
    if target > 1:
        keys.append(F.pmod(F.xxhash64(*cols), F.lit(target)))
    (
        df.select(*cols, tag.alias("_leaf"))
        .repartition(*keys)
        .write.partitionBy("_leaf")
        .parquet(staging)
    )
    for i, (leaf, files) in enumerate(leaves.items()):
        staged = os.path.join(staging, f"_leaf={i}")
        if not os.path.isdir(staged):
            # zero-row leaf: partitionBy wrote nothing for it, so keep
            # one of its (row-less) files as the schema-bearing file
            os.makedirs(staged)
            shutil.copy2(os.path.join(leaf, files[0]), staged)
        swap_parquet_rewrite(leaf, lambda s, src=staged: os.rename(src, s))


@_fenced("compact_store")
def compact_store(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
    fold_deletes: bool = True,
) -> int:
    """Maintenance compaction for an incrementally-appended store
    (MinHash/LSH/IVF index trees): every leaf directory — the data
    tree's ``band=``/``bkt=``/``cid=`` partitions, the leaves one level
    down in a partitioned sidecar (the ``fpb=`` buckets of
    ``_fingerprints``), and each flat sidecar (``_hot_bands``,
    ``_tombstones``, …) — ends with at most
    ``target_files_per_partition`` parquet files. Discovery goes one
    level down only, so no file of a ``run=/epoch=`` partitioned
    ``_decisions`` log is read or rewritten (its ``run=`` dirs hold no
    files directly; only a legacy flat log is a leaf).
    A root-level flat file layout is NOT compacted either (the root
    holds sidecars); use ``compact_parquet`` on sidecar-free flat
    datasets.

    Work is proportional to what needs it: crash residue is resolved
    first (interrupted swaps recovered from ``.old``, stale staging
    swept), then a leaf already at or under target is neither read nor
    rewritten — ``coalesce(target)`` could not change its file count.
    The over-target leaves of each tree are rewritten by one Spark
    write into a staging tree readers cannot see, and swapped in leaf
    by leaf with the crash-safe :func:`swap_parquet_rewrite` protocol
    (:func:`_compact_leaves`); a crash between the write and the swaps
    leaves only the staging tree, swept by the next call. Returns the
    number of leaf directories at or under target when the call
    returns, rewritten or not.

    Offline maintenance — run between ingest windows (each swap
    briefly exposes a ``.staging`` sibling a concurrent
    partition-discovery scan could trip on). Production twin:
    lakehouse ``OPTIMIZE``. With ``fold_deletes`` (default) any
    pending ``_tombstones`` are physically folded out first
    (:func:`fold_tombstones`) — compaction is the maintenance window
    where deletions stop costing an anti-join."""
    import os
    import shutil

    import pyarrow.parquet as pq

    if is_manifest_store(path):
        return MB.compact_store_manifest(
            spark,
            path,
            target_files_per_partition=target_files_per_partition,
            fold_deletes=fold_deletes,
        )
    if fold_deletes:
        fold_tombstones(spark, path)
    staging = os.path.join(path, COMPACT_STAGING)
    shutil.rmtree(staging, ignore_errors=True)  # a crashed call's writes

    def _leaves(dirs) -> dict[str, list[str]]:
        # leaf dir → its parquet files; a dir holding none is no leaf
        return {d: fs for d in dirs if (fs := _settled_parquet_files(d))}

    # trees: the data tree's partition leaves, each partitioned
    # sidecar's leaves, and each flat sidecar as a one-leaf tree
    bases = sorted(_live_subdirs(path))
    trees = [_leaves(os.path.join(path, b) for b in bases if "=" in b)]
    for bdir in (os.path.join(path, b) for b in bases if b.startswith("_")):
        trees.append(
            _leaves([bdir])
            or _leaves(
                os.path.join(bdir, s)
                for s in sorted(_live_subdirs(bdir))
                if "=" in s
            )
        )

    target = max(1, target_files_per_partition)
    writes: list[dict[str, list[str]]] = []
    for leaves in trees:
        # one write per file schema (normally one per tree): a scan
        # reads every file with ONE schema, so leaves whose files
        # disagree on columns must not share it or columns would drop
        groups: dict[frozenset, dict[str, list[str]]] = {}
        for d, fs in leaves.items():
            if len(fs) > target:
                cols = frozenset(
                    frozenset(pq.read_schema(os.path.join(d, f)).names)
                    for f in fs
                )
                groups.setdefault(cols, {})[d] = fs
        writes.extend(groups.values())
    for k, group in enumerate(writes):
        _compact_leaves(spark, group, os.path.join(staging, str(k)), target)
    shutil.rmtree(staging, ignore_errors=True)
    return sum(len(leaves) for leaves in trees)


# ---------------------------------------------------------------------------
# Store deletions (tombstones)
# ---------------------------------------------------------------------------
# The persisted index stores (MinHash bands, LSH buckets, IVF lists,
# PQ/IVF-PQ code lists) are append-mostly, but a real corpus also
# shrinks: takedown requests, re-crawls that retire stale pages,
# quality-gate retractions. Rewriting a 100 TB store per retired id is
# not an option, so deletes follow the lakehouse merge-on-read shape
# (Delta deletion vectors / Iceberg position deletes, re-expressed on
# plain parquet): ``delete_from_store`` appends the retired ids to a
# ``_tombstones`` sidecar (underscore prefix = invisible to the data
# readers); every serve path broadcast-anti-joins the sidecar (deletes
# are rare — the sidecar is tiny next to the store, so the anti-join
# rides the already-pruned scan for free); ``fold_tombstones`` (run by
# ``compact_store`` by default) physically rewrites the rows out
# during scheduled maintenance, production twin of ``OPTIMIZE`` after
# ``DELETE``. Reference deletes rows transactionally in an OLTP store
# (src/pipelines/crawl/storage/postgres_storage.py DELETE paths); the
# tombstone sidecar is the same contract on immutable parquet.

TOMBSTONE_DIR = "_tombstones"


def delete_from_store(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str = "id"
) -> int:
    """Retire ids from a persisted store by appending them to the
    ``_tombstones`` sidecar. Returns the number of distinct ids in
    this delete batch. Idempotent: re-deleting an id appends a
    duplicate tombstone row, which the serve-side anti-join and the
    fold both treat identically. Physical removal happens at the next
    :func:`fold_tombstones` / :func:`compact_store`."""
    import os

    tomb = ids.select(F.col(id_col).alias("id")).distinct()
    n = tomb.count()
    if n:
        # coalesce(1): a delete batch is driver-small (takedown lists,
        # not corpora) — one file per delete keeps the sidecar scannable
        if is_manifest_store(path):
            # manifest append: new file + manifest commit, so snapshots
            # pin the tombstone set as of the pin
            MB.store_put(tomb, path, mode="append", sub=TOMBSTONE_DIR, coalesce=1)
        else:
            tomb.coalesce(1).write.mode("append").parquet(
                os.path.join(path, TOMBSTONE_DIR)
            )
    return n


def store_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The store's live tombstone set as a distinct-id DataFrame, or
    None when no deletes are pending (the common case — checked with
    one directory stat / manifest lookup, no Spark job)."""
    import os

    if is_manifest_store(path):
        t = MB.store_read(spark, path, TOMBSTONE_DIR)
        return None if t is None else t.select("id").distinct()
    tdir = os.path.join(path, TOMBSTONE_DIR)
    if not os.path.isdir(tdir):
        return None
    return spark.read.parquet(tdir).select("id").distinct()


def apply_tombstones(df: DataFrame, path: str, id_col: str = "id") -> DataFrame:
    """Filter a store scan down to live rows: anti-join the
    ``_tombstones`` sidecar if one exists, else return the scan
    unchanged (zero plan overhead for stores with no pending
    deletes). The tombstone side is broadcast — deletes are rare by
    regime, and a broadcast anti-join adds no exchange to the
    already-pruned store scan."""
    tomb = store_tombstones(df.sparkSession, path)
    if tomb is None:
        return df
    if id_col == "id":
        return df.join(F.broadcast(tomb), "id", "anti")
    return df.join(
        F.broadcast(tomb.withColumnRenamed("id", id_col)), id_col, "anti"
    )


def reject_tombstoned(
    spark: SparkSession, path: str, delta: DataFrame, id_col: str
) -> None:
    """Append guard: fail loudly when an incoming delta re-uses a
    tombstoned id. Appending it would leave the NEW row hidden behind
    the tombstone (lost update) — and silently clearing the tombstone
    would resurrect the OLD physical rows beside the new ones. The
    unambiguous order is delete → fold (physical removal) → re-ingest,
    so that is the one this raises for."""
    tomb = store_tombstones(spark, path)
    if tomb is None:
        return
    clashing = [
        r["id"]
        for r in delta.select(F.col(id_col).alias("id"))
        .join(F.broadcast(tomb), "id", "semi")
        .limit(5)
        .collect()
    ]
    if clashing:
        raise ValueError(
            f"append to {path} contains tombstoned ids (e.g. {clashing}); "
            "run fold_tombstones()/compact_store() to fold the deletions, "
            "then re-ingest"
        )


VERSIONS_DIR = "_versions"


def snapshot_store(path: str, tag: str | None = None) -> int:
    """Record a point-in-time snapshot of a persisted store as a
    hardlink tree under ``_versions/v{N}/`` — O(metadata), zero data
    bytes copied (the local-disk twin of a lakehouse snapshot
    manifest: every writer in this repo creates NEW parquet files and
    swaps whole directories, never mutates bytes in place, so a
    hardlinked file is immutable for the snapshot's lifetime).

    Run before destructive maintenance (``fold_tombstones``,
    ``compact_store``, a risky migration): :func:`rollback_store`
    restores the tree exactly, and :func:`read_store_version` serves
    any snapshot read-only without touching the live store. Returns
    the new version number (monotonic from 1). Crash-safe: the
    snapshot is staged under a dot-prefixed temp dir and renamed into
    place; a crashed attempt is swept on the next call.

    On a manifest store a snapshot is ONE small JSON write pinning the
    current generation — no per-file work, the honest 100 TB cost
    model (see ``store_backend.snapshot``)."""
    import json
    import os
    import shutil
    import time

    if is_manifest_store(path):
        return MB.snapshot(split_pin(path)[0], tag=tag)
    recover_interrupted_swap(path)
    vroot = os.path.join(path, VERSIONS_DIR)
    os.makedirs(vroot, exist_ok=True)
    versions = [0]
    for e in os.scandir(vroot):
        if e.name.startswith(".") and e.name.endswith((".staging", ".expiring")):
            # crashed snapshot attempt OR crashed expiry (renamed but
            # not removed) — both invisible to readers, both swept
            # here so the pinned data files are actually released
            shutil.rmtree(e.path, ignore_errors=True)
        elif e.is_dir() and e.name.startswith("v") and e.name[1:].isdigit():
            versions.append(int(e.name[1:]))
    n = max(versions) + 1
    staging = os.path.join(vroot, f".v{n}.staging")
    os.makedirs(staging)
    for e in os.scandir(path):
        if e.name == VERSIONS_DIR or e.name.endswith(_SWAP_SUFFIXES):
            continue  # never snapshot snapshots or swap residue
        _link_tree(e.path, os.path.join(staging, e.name))
    manifest = {
        "version": n,
        "tag": tag,
        "created_unix": int(time.time()),
        "entries": sorted(os.listdir(staging)),
    }
    with open(os.path.join(staging, "_version.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(staging, os.path.join(vroot, f"v{n}"))
    return n


def list_store_versions(path: str) -> list[dict]:
    """Manifests of every snapshot recorded for the store, ascending
    by version. Filesystem-only — no Spark session needed."""
    import json
    import os

    if is_manifest_store(path):
        return MB.list_versions(split_pin(path)[0])
    vroot = os.path.join(path, VERSIONS_DIR)
    if not os.path.isdir(vroot):
        return []
    out = []
    for e in sorted(os.scandir(vroot), key=lambda x: x.name):
        mf = os.path.join(e.path, "_version.json")
        if e.is_dir() and not e.name.startswith(".") and os.path.isfile(mf):
            with open(mf) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["version"])


@_fenced("expire_store_versions")
def expire_store_versions(
    path: str,
    keep_last: int | None = None,
    before: int | None = None,
    keep_tags: tuple[str, ...] | bool = (),
) -> list[int]:
    """Drop old snapshots — the VACUUM half of versioning. Hardlinked
    trees are free to RECORD but pin every data file they reference:
    after a fold physically removes rows, the pre-fold snapshot keeps
    the old partition files alive on disk until it is expired, so a
    store under takedown pressure grows by one store-image per
    retained snapshot generation. ``keep_last=N`` keeps the N newest;
    ``before=V`` drops versions < V; both may combine; ``keep_tags``
    PINS snapshots against every expiry rule — a tuple of tag names,
    or ``True`` to pin every tagged snapshot (the retention idiom:
    automatic snapshots are untagged and age out, operator-named
    snapshots like "pre-takedown-2026-08" survive until untagged or
    expired explicitly). Returns the expired version numbers.

    Crash-safe in the same idiom as every destructive step here: a
    victim is renamed to a dot-prefixed ``.vN.expiring`` first (the
    atomic commit point — a crashed rmtree leaves an invisible dir
    that the next :func:`snapshot_store` / expiry call sweeps), then
    deleted STRICTLY: a failed rmtree raises after the rename, so the
    caller learns the bytes are still pinned (the version is already
    expired either way — invisible, swept on the next call) instead
    of reading a success that freed nothing.

    Manifest stores expire by manifest-diff GC: drop the version
    entries, then delete exactly the files no retained generation
    references (``store_backend.expire_versions``)."""
    import os
    import shutil

    if is_manifest_store(path):
        return MB.expire_versions(
            split_pin(path)[0],
            keep_last=keep_last,
            before=before,
            keep_tags=keep_tags,
        )
    vroot = os.path.join(path, VERSIONS_DIR)
    if not os.path.isdir(vroot):
        return []
    for e in os.scandir(vroot):  # sweep prior crashed expiries
        if e.name.startswith(".") and e.name.endswith(".expiring"):
            shutil.rmtree(e.path, ignore_errors=True)
    manifests = list_store_versions(path)
    versions = sorted(m["version"] for m in manifests)
    victims = set()
    if before is not None:
        victims |= {v for v in versions if v < before}
    if keep_last is not None:
        victims |= set(versions[: max(len(versions) - keep_last, 0)])
    victims -= _pinned_versions(manifests, keep_tags)
    for v in sorted(victims):
        vdir = os.path.join(vroot, f"v{v}")
        staging = os.path.join(vroot, f".v{v}.expiring")
        os.rename(vdir, staging)  # commit point: invisible from here on
        shutil.rmtree(staging)  # strict: surface partial deletions
    return sorted(victims)


def _pinned_versions(
    manifests: list[dict], keep_tags: tuple[str, ...] | bool
) -> set[int]:
    """Version numbers protected from expiry by tag pinning."""
    if keep_tags is True:
        return {m["version"] for m in manifests if m.get("tag")}
    if not keep_tags:
        return set()
    tags = set(keep_tags)
    return {m["version"] for m in manifests if m.get("tag") in tags}


def store_maintenance(
    spark: SparkSession,
    path: str,
    snapshot_tag: str | None = None,
    keep_last: int = 2,
    keep_tags: tuple[str, ...] | bool = True,
    compact: bool = True,
    target_files_per_partition: int = 1,
) -> dict:
    """One store maintenance window, policy included: snapshot the
    pre-maintenance state (the undo point — tagged if
    ``snapshot_tag``), fold pending deletions + compact, then expire
    history down to ``keep_last`` automatic snapshots with
    ``keep_tags`` pinning (default: every TAGGED snapshot survives —
    operator-named pins like "pre-takedown" age out only when
    explicitly untagged/expired, while the automatic per-window
    snapshots rotate). Returns the report incl. bytes actually
    reclaimed on disk — hardlinked/referenced trees PIN bytes until
    expiry, so a pipeline that snapshots every window without this
    rotation grows by one store-image per window. This is the
    function a scheduled maintenance job calls; production twin:
    lakehouse ``OPTIMIZE`` + ``VACUUM`` with retention."""
    import os

    def _bytes() -> int:
        # dedup by inode: posix snapshots are hardlink trees, so the
        # same disk blocks appear under the live tree AND every
        # snapshot — counting each link would report positive
        # "reclaimed" bytes for an expiry that freed nothing
        root = split_pin(path)[0]
        seen: set[tuple[int, int]] = set()
        total = 0
        for dp, _dns, fns in os.walk(root):
            for f in fns:
                st = os.stat(os.path.join(dp, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
        return total

    before = _bytes()
    version = snapshot_store(path, tag=snapshot_tag)
    folded = fold_tombstones(spark, path)
    compacted = (
        compact_store(
            spark,
            path,
            target_files_per_partition=target_files_per_partition,
            fold_deletes=False,  # just folded above; report separately
        )
        if compact
        else 0
    )
    expired = expire_store_versions(
        path, keep_last=keep_last, keep_tags=keep_tags
    )
    after = _bytes()
    return {
        "version": version,
        "folded": folded,
        "compacted": compacted,
        "expired": expired,
        "bytes_before": before,
        "bytes_after": after,
        "bytes_reclaimed": max(0, before - after),
    }


def _version_dir(path: str, version: int) -> str:
    """The snapshot's read handle, existence-checked (posix: the
    hardlink tree; manifest: the ``@vN`` pinned handle)."""
    import os

    if is_manifest_store(path):
        root = split_pin(path)[0]
        MB.version_gen(root, version)  # raises for unknown versions
        return f"{root}@v{version}"
    vdir = os.path.join(path, VERSIONS_DIR, f"v{version}")
    if not os.path.isdir(vdir):
        known = [m["version"] for m in list_store_versions(path)]
        raise ValueError(
            f"store {path} has no snapshot v{version}; recorded: {known}"
        )
    return vdir


def read_store_version(
    spark: SparkSession, path: str, version: int, with_tombstones: bool = True
) -> DataFrame:
    """Serve a snapshot read-only (time travel): the snapshot tree is
    a complete store — data partitions AND sidecars — so the read
    applies the snapshot's OWN tombstones by default, exactly like a
    serve against the live store at the moment the snapshot was
    taken. ``with_tombstones=False`` exposes the raw pre-anti-join
    rows (forensics)."""
    vdir = _version_dir(path, version)
    df = store_data(spark, vdir)
    return apply_tombstones(df, vdir) if with_tombstones else df


@_fenced("rollback_store")
def rollback_store(path: str, version: int) -> None:
    """Restore the live store to snapshot ``version`` — the undo for
    a bad fold/compaction/append batch. The snapshot history itself
    SURVIVES the rollback (including snapshots newer than the target:
    a rollback is an event, not history rewriting — roll forward
    again if the rollback itself was the mistake). Same crash-safe
    swap as every other store rewrite; hardlinks, zero data bytes
    moved. Manifest stores roll back with ONE commit whose file list
    is the pinned generation's — no data movement either."""
    import os

    if is_manifest_store(path):
        MB.rollback(split_pin(path)[0], version)
        return
    vdir = _version_dir(path, version)

    def _stage(staging: str) -> None:
        os.makedirs(staging)
        for e in os.scandir(vdir):
            if e.name != "_version.json":
                _link_tree(e.path, os.path.join(staging, e.name))
        # carry the FULL version history across the swap
        _link_tree(
            os.path.join(path, VERSIONS_DIR),
            os.path.join(staging, VERSIONS_DIR),
        )

    swap_parquet_rewrite(path, _stage)


def _store_live_ids(
    spark: SparkSession, tree: str, id_col: str = "id"
) -> DataFrame:
    """Distinct live ids of one store tree (a snapshot dir or the
    live root): the ``_fingerprints`` sidecar when present (one
    column-pruned scan of (id) — O(docs), never O(rows) — the same
    sidecar the deletion serve reads), else a distinct over the data
    tree; either way anti-joined with THAT tree's own pending
    tombstones so the set matches what a serve would see. ``tree`` is
    any store read handle — live root, posix version dir, or manifest
    ``@vN`` pin."""
    fps = store_sub(spark, tree, "_fingerprints")
    if fps is not None:
        ids = fps.select("id")
    else:
        ids = store_data(spark, tree).select(F.col(id_col).alias("id"))
    return apply_tombstones(ids.distinct(), tree)


def store_version_diff(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Membership diff between two points in a store's history:
    which ids were ``added`` / ``removed`` going from snapshot
    ``v_from`` to ``v_to`` (None = the live tree) — the audit a
    maintenance window ends with ("this fold retired exactly the
    takedown batch and nothing else") and the reviewable record a
    takedown request closes on. One full-outer join of the two
    (driver-small relative to data: one id row per doc) live-id
    sets; rows present on both sides never survive the join filter.
    Reference analogue: WAL/audit diffing on the OLTP store
    (src/pipelines/crawl/storage/postgres_storage.py) — on immutable
    parquet, snapshot set difference."""
    recover_interrupted_swap(path)
    a = _store_live_ids(spark, _version_dir(path, v_from), id_col)
    b = _store_live_ids(
        spark,
        path if v_to is None else _version_dir(path, v_to),
        id_col,
    )
    j = a.withColumn("_from", F.lit(1)).join(
        b.withColumn("_to", F.lit(1)), "id", "full_outer"
    )
    return j.filter(F.col("_from").isNull() | F.col("_to").isNull()).select(
        "id",
        F.when(F.col("_from").isNull(), F.lit("added"))
        .otherwise(F.lit("removed"))
        .alias("change"),
    )


FP_BUCKETS = 64


def fp_bucket(id_col: "F.Column") -> "F.Column":
    """64-way id hash bucket for id-keyed sidecars (``fpb=`` layout):
    the writer partitions the ``_fingerprints`` sidecar by this, and
    :func:`fold_tombstones` rewrites only the buckets whose value set
    intersects the tombstoned ids — O(affected) sidecar maintenance,
    mirroring the band/cid pruning of the main tree. Must stay in
    lockstep between writer and fold (both call this)."""
    return F.pmod(F.xxhash64(id_col), F.lit(FP_BUCKETS)).cast("int")


def _link_tree(src: str, dst: str) -> None:
    """Carry a file or directory into staging without moving bytes:
    hardlink every file (same-filesystem, O(metadata) — the local-disk
    twin of a lakehouse manifest carry, where a rewrite re-lists
    untouched data files instead of copying them), falling back to a
    byte copy if the staging dir lands on another device."""
    import os
    import shutil

    if not os.path.isdir(src):
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
        return
    try:
        shutil.copytree(src, dst, copy_function=os.link)
    except OSError:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)


# ---------------------------------------------------------------------------
# Store rewrites: one path for both backends
# ---------------------------------------------------------------------------
# Every maintenance rewrite of a store's data and sidecars — the
# tombstone fold, layout migration, count-store compaction and manifest
# compaction — is ONE backend-agnostic body written against
# StoreRewrite: the caller writes NEW parquet under a fresh base
# directory that mirrors the store's logical layout and names the
# logical entries it keeps unchanged (at any depth: a ``bkt=3`` dir,
# ``_fingerprints/fpb=7``, one ``_decisions/run=…/epoch=…`` leaf, a
# whole sidecar); every other entry is dropped. Only the commit differs
# per backend — posix hardlinks the kept entries into the base and
# swaps it in with swap_parquet_rewrite; manifest keeps the kept
# entries' file references and commits one generation
# (``store_backend._commit`` + ``gc_store``).

_BUCKET_KEYS = ("band", "bkt", "cid")
# posix-only root entries, outside every logical listing, that a posix
# rewrite always carries: snapshot history (immutable — time travel to
# a pre-rewrite version keeps seeing the old rows) and the fence lock
_POSIX_CARRY = (VERSIONS_DIR, FENCE_LOCK)


def store_entries(path: str) -> dict[str, str]:
    """Every file of a store (any read handle), keyed by LOGICAL path —
    its path from the store root (``bkt=3/part-0.parquet``,
    ``_fingerprints/fpb=7/…``, ``_meta.json``) — mapped to its physical
    path. Manifest: the files of the CURRENT (or pinned) generation.
    Posix: a walk of the tree that leaves out what no reader sees
    (dot-prefixed names, Spark's ``_SUCCESS`` markers) and the
    posix-only history and fence lock."""
    import os

    root, pin = split_pin(path)
    if is_manifest_store(root):
        files = MB.read_manifest(root, MB._resolve_gen(root, pin))["files"]
        return {MB._lp(f): os.path.join(root, f) for f in files}
    out: dict[str, str] = {}
    for dp, dns, fns in os.walk(root):
        rel = os.path.relpath(dp, root)
        top = rel == "."
        dns[:] = [
            d for d in dns if not d.startswith(".") and not (top and d in _POSIX_CARRY)
        ]
        for f in fns:
            if f.startswith(".") or f == "_SUCCESS" or (top and f in _POSIX_CARRY):
                continue
            out[f if top else f"{rel}/{f}"] = os.path.join(dp, f)
    return out


def _top_entries(entries: dict[str, str], sidecars: bool) -> list[str]:
    """Top-level logical names: the sidecars (``_``-prefixed), or the
    data tree's partition dirs and flat files."""
    return sorted(
        {lp.split("/", 1)[0] for lp in entries if lp.startswith("_") == sidecars}
    )


def _layout(entries: dict[str, str]) -> tuple[str | None, bool]:
    """(bucketing key, partitioned) of a store from its logical entries
    (see :func:`store_layout`)."""
    data = sorted(
        lp for lp in entries if lp.endswith(".parquet") and not lp.startswith("_")
    )
    for k in _BUCKET_KEYS:
        if any("/" in lp and lp.startswith(f"{k}=") for lp in data):
            return k, True
    if data:
        try:
            import pyarrow.parquet as pq

            cols = set(pq.read_schema(entries[data[0]]).names)
            for k in _BUCKET_KEYS:
                if k in cols:
                    return k, False
        except Exception:
            pass
    return None, False


def _settle_store(root: str) -> None:
    """Resolve a posix store's swap crash residue — the root's, every
    top-level directory's, and every sidecar subdirectory's (the
    ``fpb=`` buckets) — with the helpers :func:`compact_store` uses, so
    a rewrite plans on, and carries, what compaction would see: an
    interrupted ``bkt=97.old`` leaf swap is recovered, never carried as
    a partition whose value reads as the string ``"97.old"``."""
    import os

    recover_interrupted_swap(root)
    for b in _live_subdirs(root) - {VERSIONS_DIR}:
        d = os.path.join(root, b)
        _settled_parquet_files(d)
        if b.startswith("_"):
            for s in _live_subdirs(d):
                _settled_parquet_files(os.path.join(d, s))


class StoreRewrite:
    """One rewrite of a store through the seam described above.

    Construct it BEFORE planning: on posix it settles crash residue
    first, so the plan's reads and :attr:`entries` see a settled store;
    on manifest it records the generation the commit is based on (the
    commit CAS). Write new files with :meth:`write`, name unchanged
    entries with :meth:`keep`, then :meth:`commit`. A crash or an
    exception before the commit leaves the live store as it was; the
    abandoned base is swept by the next rewrite (posix) or by
    ``gc_store`` (manifest)."""

    def __init__(self, path: str):
        import os
        import shutil

        root, pin = split_pin(path)
        if pin is not None:
            raise ValueError(f"cannot rewrite a pinned snapshot handle {path}")
        self.root = root
        self.manifest = is_manifest_store(root)
        if self.manifest:
            self.gen = MB.current_gen(root)
            self.base = os.path.join(root, MB.GEN_DIR, f"{self.gen + 1:08d}")
            for f in MB.FS.list_files(self.base):  # a crashed attempt's orphans
                MB.FS.delete(f)
        else:
            _settle_store(root)
            self.base = os.path.join(root, REWRITE_STAGING)
            shutil.rmtree(self.base, ignore_errors=True)
        self.entries = store_entries(root)
        self.kept: set[str] = set()

    @property
    def sidecars(self) -> list[str]:
        return _top_entries(self.entries, sidecars=True)

    @property
    def data_entries(self) -> list[str]:
        return _top_entries(self.entries, sidecars=False)

    @property
    def layout(self) -> tuple[str | None, bool]:
        return _layout(self.entries)

    def keep(self, *entries: str) -> None:
        self.kept.update(entries)

    def write(
        self,
        df: DataFrame,
        entry: str = "",
        partition_by: str | None = None,
        range_key: str | None = None,
        files: int | None = None,
    ) -> None:
        """Write ``df`` as the new files of logical ``entry`` ("" = the
        data tree). Shapes mirror the store writers: ``partition_by`` —
        one file per partition dir, or up to ``files`` per dir through a
        row-hash salt; ``range_key`` — ``files`` (default 4) range-sorted
        flat files; otherwise ``files`` coalesced files, if given."""
        import os

        if partition_by is not None:
            if files and files > 1:
                df = df.repartition(files, F.xxhash64(*[F.col(c) for c in df.columns]))
            else:
                df = df.repartition(F.col(partition_by))
        elif range_key is not None:
            df = df.repartitionByRange(files or 4, range_key).sortWithinPartitions(
                range_key
            )
        elif files:
            df = df.coalesce(files)
        # append: the base is fresh, and the writes of one rewrite share it
        w = df.write.mode("append")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(os.path.join(self.base, entry) if entry else self.base)

    def has_data(self) -> bool:
        """Does the rewritten data tree hold any file, kept or new?"""
        import os

        return any(not e.startswith("_") for e in self.kept) or any(
            f.endswith(".parquet")
            and not os.path.relpath(f, self.base).startswith(("_", "."))
            for f in MB.FS.list_files(self.base)
        )

    def _is_kept(self, lp: str) -> bool:
        parts = lp.split("/")
        return any("/".join(parts[:i]) in self.kept for i in range(1, len(parts) + 1))

    def commit(self, op: str) -> None:
        import os

        if self.manifest:
            files = MB.read_manifest(self.root, self.gen)["files"]
            kept = [f for f in files if self._is_kept(MB._lp(f))]
            new = MB._list_new_parquet(self.root, self.base)
            MB._commit(self.root, kept + new, op, based_on=self.gen)
            MB.gc_store(self.root)
            return
        os.makedirs(self.base, exist_ok=True)
        carried = sorted(self.kept) + [
            e for e in _POSIX_CARRY if os.path.exists(os.path.join(self.root, e))
        ]
        for e in carried:
            dst = os.path.join(self.base, e)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _link_tree(os.path.join(self.root, e), dst)
        swap_parquet_rewrite(self.root, lambda staging: os.rename(self.base, staging))


def _fold_id_sidecar(
    spark: SparkSession, rw: StoreRewrite, name: str, tomb: DataFrame
) -> None:
    """Fold an id-keyed sidecar (``_fingerprints``) through ``rw``. A
    ``fpb=``-bucketed sidecar is pruned: only the buckets the victim ids
    hash into are anti-joined and rewritten, every other bucket is kept.
    A legacy flat sidecar, or bucketing that does not round-trip, falls
    back to the full anti-join rewrite."""
    src = store_sub(spark, rw.root, name)
    actual = {
        parts[1]
        for lp in rw.entries
        if (parts := lp.split("/"))[0] == name
        and len(parts) > 2
        and parts[1].startswith("fpb=")
    }
    if actual:
        affected = sorted(
            r["b"]
            for r in tomb.select(fp_bucket(F.col("id")).alias("b")).distinct().collect()
        )
        expected = {f"fpb={b}" for b in affected}
        # value→dirname round-trip guard, same discipline as the data
        # tree (Spark wrote these int dirs itself, but stay paranoid)
        if expected <= actual and len(actual) == src.select("fpb").distinct().count():
            rw.keep(*(f"{name}/{b}" for b in actual - expected))
            if expected & actual:
                rw.write(
                    src.filter(F.col("fpb").isin(affected)).join(
                        F.broadcast(tomb), "id", "anti"
                    ),
                    name,
                    partition_by="fpb",
                )
            return
    rw.write(src.join(F.broadcast(tomb), "id", "anti"), name)


def _fold_decisions_sidecar(
    spark: SparkSession, rw: StoreRewrite, tomb: DataFrame
) -> None:
    """Retire tombstoned ids from a ``_decisions`` lineage log (the
    streaming sinks' exactly-once decision records, ``run=/epoch=``
    partitioned — see ``streaming.jobs._epoch_decisions``). The store
    fold removes a victim's DATA rows, but its decision records would
    otherwise keep naming it: its own ingest decision carries the id,
    and other docs' rows point at it through ``matched_id``. A
    takedown/GDPR regime needs the lineage scrubbed too, so the fold
    DROPS rows whose subject id is retired and NULLs ``matched_id``
    pointers that name one (the row's status stands — the dup was
    real when decided; only the pointer is redacted).

    Leaf-pruned like the data fold: one column-pruned scan tagged
    with ``input_file_name`` finds the epoch leaves that actually
    reference a victim; only those are rewritten, every other leaf is
    kept (posix hardlink, manifest reference). Leaf identity comes
    from FILE paths, never from re-rendering partition VALUES — a run
    hash that parses numerically (e.g. ``33312574e463`` → double) does
    not round-trip to its directory name, so value-derived paths would
    corrupt the layout (the hazard ``_epoch_decisions`` documents).
    Affected-leaf rewrites are one small job per epoch leaf: a
    takedown batch touches the few epochs that ingested or matched its
    victims, not the log's full history. A legacy flat log is one leaf,
    ``_decisions`` itself.

    Interaction with epoch replay: dropping a victim's row changes a
    committed epoch's id-set, so a stream resumed from a checkpoint
    that predates this fold would recompute that epoch (the id-set
    guard rejects the pruned partition) — run folds in the same
    maintenance windows as store appends, after the stream's last
    epoch is checkpoint-committed (the single-writer discipline
    takedowns already require)."""
    import os
    from urllib.parse import unquote, urlparse

    leaves: dict[str, list[str]] = {}
    for lp, f in rw.entries.items():
        if lp.startswith("_decisions/") and lp.endswith(".parquet"):
            leaves.setdefault(os.path.dirname(lp), []).append(f)
    df = store_sub(spark, rw.root, "_decisions") if leaves else None
    cols = df.columns if df is not None else []
    idc = next((c for c in ("doc_id", "vec_id", "id") if c in cols), None)
    refs = [c for c in (idc, "matched_id") if c in cols]
    if not refs:
        rw.keep("_decisions")
        return

    hits = (
        df.select(
            F.input_file_name().alias("_f"),
            F.explode(F.array(*[F.col(r) for r in refs])).alias("id"),
        )
        .join(F.broadcast(tomb), "id", "semi")
        .select("_f")
        .distinct()
        .collect()
    )
    leaf_of = {os.path.abspath(f): leaf for leaf, fs in leaves.items() for f in fs}
    affected = set()
    for r in hits:
        p = r["_f"]
        if p.startswith("file:"):
            p = unquote(urlparse(p).path)
        affected.add(leaf_of[os.path.abspath(p)])

    for leaf, fs in sorted(leaves.items()):
        if leaf not in affected:
            rw.keep(leaf)
            continue
        # explicit leaf files: the leaf dir is the base path, so no
        # partition columns are parsed and the rows keep the files' schema
        ldf = spark.read.parquet(*fs)
        out = ldf
        if idc in ldf.columns:
            out = out.join(
                F.broadcast(tomb.withColumnRenamed("id", idc)), idc, "anti"
            )
        if "matched_id" in ldf.columns:
            vt = tomb.select(
                F.col("id").alias("matched_id"), F.lit(True).alias("_v")
            )
            out = (
                out.join(F.broadcast(vt), "matched_id", "left")
                .withColumn(
                    "matched_id",
                    F.when(F.col("_v").isNull(), F.col("matched_id")),
                )
                .drop("_v")
            )
        # one file: an emptied epoch leaf must still hold one
        # schema-bearing file for later reads of the log
        rw.write(out.select(*ldf.columns), leaf, files=1)


@_fenced("fold_tombstones")
def fold_tombstones(
    spark: SparkSession,
    path: str,
    fold_sidecars: tuple[str, ...] = ("_fingerprints",),
    prune: bool | str = "auto",
    refresh_hot: bool = True,
) -> int:
    """Physically remove tombstoned rows from a store in one
    :class:`StoreRewrite` (crash-safe on either backend): rewrite the
    data minus the tombstoned ids, fold id-keyed sidecars the same way
    (:func:`_fold_id_sidecar`), scrub the streaming ``_decisions``
    lineage log of every reference to a retired id
    (:func:`_fold_decisions_sidecar` — subject rows dropped,
    ``matched_id`` pointers nulled), keep every other sidecar
    unchanged, and drop the ``_tombstones`` sidecar atomically with the
    commit (it is simply not kept). Returns the number of distinct ids
    folded, 0 if none were pending.

    **Partition-pruned on partitioned trees** (``prune="auto"``): one
    id-column scan semi-joined against the (driver-small) tombstone
    set finds the ``band=``/``bkt=``/``cid=`` partitions that actually
    hold victims; ONLY those partition dirs are rewritten (the scan
    itself partition-prunes via an ``isin`` on the key), and every
    untouched dir is kept — by hardlink on posix, by reference on
    manifest: O(metadata), no bytes moved. A takedown batch therefore
    costs the victims' partition share of the store, not a full
    rewrite: the shape that keeps deletion viable at 100 TB, where a
    fold that re-writes 99.99 % untouched data cannot run.
    ``prune=False`` forces the full rewrite (the parity baseline); the
    full path also remains the automatic fallback when a partition
    value does not round-trip to its directory name (nulls, escaped
    strings) — wrong pruning could duplicate or drop rows, so anything
    unprovable rewrites.

    Layout is preserved: partitioned trees stay partitioned; a flat
    key-sorted dataset is re-range-sorted on its key (row-group
    pruning survives the fold — flat stores are small by the layout
    contract, so their full rewrite is cheap). A store whose every
    row is tombstoned folds to one empty schema-bearing file instead
    of a zero-file tree that would fail later schema inference.
    Offline maintenance, same operating window as
    :func:`compact_store` — which calls this first by default, so
    "compaction folds deletions" is the one rule operators need.
    A crash mid-fold leaves either the old tree (tombstones intact —
    the serve anti-join still hides the ids) or the new one
    (tombstones folded); re-running is a no-op or completes the fold.
    Snapshots are not rewritten: time travel to a pre-fold version
    intentionally still sees the folded rows.

    Hot-occupancy sidecars (``_hot_bands`` / ``_hot_buckets``) are
    refreshed in the same maintenance window (``refresh_hot=True``):
    on a pruned fold only the AFFECTED partitions are recounted (old
    entries for untouched partitions carry over — exact, since a fold
    only shrinks occupancy), on a full fold the rebuild is full. A
    bucket that shrank below the cap re-enters candidate generation
    instead of being skipped forever on stale counts."""
    import os

    rw = StoreRewrite(path)
    if rw.manifest and os.path.isdir(os.path.join(rw.root, "_decisions")):
        # a physical _decisions dir the manifest never listed (written
        # by a pre-dispatch streaming path): folding would succeed
        # WITHOUT scrubbing it — a silent takedown-lineage leak
        raise ValueError(
            f"manifest store {rw.root} carries a rogue physical _decisions "
            "directory outside the manifest; migrate it into manifest "
            "entries (re-run the stream on the fixed sink, or commit the "
            "files) before folding tombstones"
        )
    tomb = store_tombstones(spark, path)
    if tomb is None:
        return 0
    n_tomb = tomb.count()
    key, partitioned = rw.layout
    part_key = key if partitioned else None
    scan = store_data(spark, path) if rw.data_entries else tomb.limit(0)

    affected_vals: list | None = None
    removed_rows: int | None = None
    # "auto" skips the pruning pre-scan on band= stores: the MinHash
    # layout is unpivoted (one row per doc per band), so ANY victim
    # touches EVERY band partition by construction — the prune can
    # never win there and the pre-scan is pure overhead. prune=True
    # still forces the pruned path (parity tests).
    do_prune = prune is True or (prune == "auto" and part_key != "band")
    actual = {e for e in rw.data_entries if "=" in e}  # partition dirs
    if part_key is not None and do_prune:
        # one column-pruned pass over (id, partition key): which
        # partitions hold victims, and how many rows leave each —
        # feeds both the pruned rewrite and the n_rows delta below
        aff = (
            scan.join(F.broadcast(tomb), "id", "semi")
            .groupBy(part_key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        vals = [r[part_key] for r in aff]
        if (
            all(v is not None for v in vals)
            and {f"{part_key}={v}" for v in vals} <= actual
            # expected ⊆ actual alone misses ALIASED dirs: two names
            # that parse to the same value (cid=33 and cid=033 both
            # read as 33 under Spark's int inference) would let the
            # affected rewrite merge both dirs into one AND keep the
            # second verbatim as untouched — duplicating its live rows
            # and retaining its victims. Spark's own writer never emits
            # such a layout, but an externally crafted tree can;
            # require dirs ↔ distinct parsed values to be 1:1
            # (partition-column-only scan — file listing, no row read)
            and len(actual) == scan.select(part_key).distinct().count()
        ):
            affected_vals = vals
            removed_rows = sum(r["_n"] for r in aff)
        # else: value→dirname round-trip unproven — full rewrite

    if affected_vals is not None:
        rw.keep(*(actual - {f"{part_key}={v}" for v in affected_vals}))
        if affected_vals:
            rw.write(
                scan.filter(F.col(part_key).isin(affected_vals)).join(
                    F.broadcast(tomb), "id", "anti"
                ),
                partition_by=part_key,
            )
    else:
        # partitioned trees stay partitioned (partition_by wins); a
        # flat tree is re-range-sorted on its key
        rw.write(
            scan.join(F.broadcast(tomb), "id", "anti"),
            partition_by=part_key,
            range_key=key,
        )
    if not rw.has_data():
        # every row deleted: partitionBy on an empty DataFrame writes
        # NO files; leave one schema-bearing file so later serves (and
        # the n_rows recount) still infer a schema
        rw.write(scan.limit(0), files=1)
    for name in rw.sidecars:
        if name == TOMBSTONE_DIR:
            continue  # folded: dropped atomically with the commit
        if name == "_decisions":
            # lineage records must stop naming retired ids too
            _fold_decisions_sidecar(spark, rw, tomb)
        elif name in fold_sidecars:
            _fold_id_sidecar(spark, rw, name, tomb)
        else:
            rw.keep(name)
    rw.commit("fold")

    meta = read_store_meta(path) or {}
    if "n_rows" in meta:
        if removed_rows is not None:
            # pruned fold already counted the departing rows — update
            # by delta instead of a full post-commit recount (the last
            # O(store) step the pruned path removes)
            n_rows = max(0, int(meta["n_rows"]) - removed_rows)
        else:
            n_rows = int(store_data(spark, path).count())
        update_store_meta(path, {"n_rows": n_rows})
    if refresh_hot:
        _refresh_hot_sidecars(spark, path, part_key, affected_vals)
    return n_tomb


def _refresh_hot_sidecars(
    spark: SparkSession,
    path: str,
    part_key: str | None,
    affected_vals: list | None,
) -> None:
    """Post-fold hot-occupancy refresh (see :func:`fold_tombstones`).
    Pruned folds recount ONLY the affected partitions and union the
    carried entries for untouched ones — exact, because a fold never
    grows a bucket; full folds delegate to the full rebuilds."""
    import os

    for sidecar, keys in (("_hot_bands", ["band", "band_sig"]), ("_hot_buckets", ["bkt"])):
        if not store_sub_exists(path, sidecar):
            continue
        if affected_vals is None or part_key is None:
            # full fold → full rebuild (same O(store-scan) window)
            if sidecar == "_hot_bands":
                from tiki_data_pipeline_spark.operators.dedup import (
                    rebuild_hot_bands,
                )

                rebuild_hot_bands(spark, path)
            else:
                from tiki_data_pipeline_spark.operators.similarity import (
                    rebuild_hot_buckets,
                )

                meta = read_store_meta(path) or {}
                rebuild_hot_buckets(
                    spark,
                    path,
                    serve_default=bool(meta.get("hot_buckets_serve_skip")),
                )
            continue
        if not affected_vals:
            continue  # nothing left the store; sidecar is exact
        if sidecar == "_hot_bands":
            from tiki_data_pipeline_spark.operators.dedup import HOT_BAND_CAP as cap
        else:
            from tiki_data_pipeline_spark.operators.similarity import (
                HOT_BUCKET_CAP as cap,
            )
        old = store_sub(spark, path, sidecar)
        if old is None or part_key not in old.columns:
            continue  # foreign schema — leave untouched
        kept = old.filter(~F.col(part_key).isin(affected_vals))
        recount = (
            store_data(spark, path)
            .filter(F.col(part_key).isin(affected_vals))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > cap)
            .select(*keys)
        )
        refreshed = kept.select(*keys).unionByName(recount).localCheckpoint()
        # coalesce(1): an empty result must still write one
        # schema-bearing file (serve-side read does inference)
        store_put(refreshed, path, "overwrite", sub=sidecar, coalesce=1)


def store_layout(path: str) -> tuple[str | None, bool]:
    """Inspect a store's physical layout (either backend): returns
    ``(key, partitioned)`` where key is the bucketing column (``band``
    / ``bkt`` / ``cid``) inferred from the logical entries or the data
    schema, and partitioned tells whether the tree uses ``key=…``
    directory partitions (True) or the flat key-sorted dataset
    (False). ``(None, False)`` for a store with no recognized key."""
    return _layout(store_entries(path))


@_fenced("migrate_store_layout")
def migrate_store_layout(
    spark: SparkSession, path: str, partitioned: bool
) -> bool:
    """Rewrite a store between its two physical layouts in one
    :class:`StoreRewrite` (crash-safe, sidecars kept unchanged): the
    flat key-sorted dataset (right for small corpora — row-group
    min/max pruning, no directory blowup) and the ``key=…`` directory-
    partitioned tree (right once the store is large — probes become
    partition pruning, appends land in their own directories).

    Stores are BORN in the layout their build-time size justifies
    (``partition_min_rows``), but a store that started small outgrows
    the flat layout as appends accumulate: row groups interleave keys
    and the min/max pruning decays toward full scans. Serve and
    append paths auto-detect the layout per call, so migration is
    purely physical — results are identical before and after, only
    the scan shape changes. Offline maintenance, same window as
    :func:`compact_store`. Returns True if a rewrite happened, False
    if the store was already in the requested layout. Production
    twin: re-clustering a lakehouse table (``OPTIMIZE ZORDER`` /
    rewrite_data_files)."""
    rw = StoreRewrite(path)
    key, is_part = rw.layout
    if key is None:
        raise ValueError(
            f"store at {path} has no recognized bucketing column "
            "(band/bkt/cid) — cannot migrate layout"
        )
    if is_part == partitioned:
        return False
    rows = store_data(spark, path)
    if partitioned:
        rw.write(rows, partition_by=key)
    else:
        rw.write(rows, range_key=key)
    rw.keep(*rw.sidecars)
    rw.commit("migrate")
    return True


def write_training_shards(
    docs: DataFrame,
    path: str,
    seq_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Training-data export: pack documents into fixed-length token
    sequences (``curation.pack_sequences``) and write one ORDERED file
    per shard — the layout a training loader streams directly:
    ``shard=K/part-*.parquet`` holds that shard's documents sorted by
    (seq_id, tok_offset), so reading the file front-to-back yields the
    token stream in packing order.

    One hash repartition on ``shard`` (each shard lands on exactly one
    task → exactly one file per shard directory), sort within the
    task, directory-partitioned write. Shard count scales the layout:
    at 100 TB you raise ``n_shards``, nothing else changes.
    """
    from pyspark.sql import functions as F

    from tiki_data_pipeline_spark.operators.curation import pack_sequences

    packed = pack_sequences(
        docs, seq_len=seq_len, n_shards=n_shards, id_col=id_col, text_col=text_col
    )
    out = packed.join(docs.select(id_col, text_col), id_col)
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "seq_id", "tok_offset")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    write_store_meta(path, shard_manifest(docs.sparkSession, path, id_col))


def shard_manifest(spark: SparkSession, path: str, id_col: str = "doc_id") -> dict:
    """Per-shard manifest of a training export: row count and an
    order-insensitive content checksum (sum of xxhash64 over the
    packing-relevant columns, as a string — the sum exceeds int64).
    One distributed scan, k-row result; an export that packed no
    document has no ``shard=`` directory and an empty manifest."""
    import os

    from pyspark.sql import functions as F

    rows = []
    if any(e.name.startswith("shard=") for e in os.scandir(path) if e.is_dir()):
        rows = (
            spark.read.parquet(path)
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.xxhash64(F.col(id_col), "seq_id", "tok_offset").cast("decimal(38,0)")
                ).cast("string").alias("checksum"),
            )
            .collect()
        )
    return {
        "kind": "training_shards",
        "shards": {
            str(r["shard"]): {"n": r["n"], "checksum": r["checksum"]} for r in rows
        },
        "total": sum(r["n"] for r in rows),
    }


def verify_training_shards(spark: SparkSession, path: str, id_col: str = "doc_id") -> None:
    """Recompute the shard manifest and compare against the one
    recorded at export time — catches truncated, lost or duplicated
    shard files before a training run consumes them. Raises with the
    differing shards on mismatch."""
    import json
    import os

    with open(os.path.join(path, "_meta.json")) as f:
        recorded = json.load(f)
    current = shard_manifest(spark, path, id_col)
    if current != recorded:
        diff = {
            s
            for s in set(recorded["shards"]) | set(current["shards"])
            if recorded["shards"].get(s) != current["shards"].get(s)
        }
        raise ValueError(
            f"training shards at {path} diverge from their manifest "
            f"(shards {sorted(diff)}); the export is corrupt or modified"
        )
