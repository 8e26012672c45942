"""Object-store-safe MANIFEST backend for persisted stores.

The repo's store layer (MinHash band stores, LSH/IVF/PQ embedding
indexes, bare parquet stores) ships two interchangeable physical
backends behind one API (`sources.files` dispatches per store):

- **posix** (default): the hardlink/rename machinery — snapshots are
  hardlink trees under ``_versions/``, rewrites are crash-safe
  whole-directory swaps. O(metadata) and exactly right on a real
  filesystem; meaningless on S3/GCS, which have no rename-as-commit
  and no hardlinks.
- **manifest** (this module): the lakehouse shape (Iceberg/Delta
  re-expressed on plain parquet + JSON). Data files are IMMUTABLE and
  live under numbered generation prefixes ``_g/<gen>/``; a manifest
  JSON lists the files of each generation; ``_mf/CURRENT.json`` is
  the single mutable pointer. Every mutation writes NEW files plus a
  NEW manifest and commits by atomically replacing the pointer —
  snapshot = pin a generation (one small JSON write, zero data I/O),
  rollback = point a new manifest at an old generation's file list,
  expiry = manifest-diff garbage collection.

Maintenance rewrites (tombstone fold, layout migration, compaction)
are not written twice: each is ONE backend-agnostic body in
``sources.files`` written against ``files.StoreRewrite``. The caller
writes replacement files under a fresh base that mirrors the logical
layout and names the entries it keeps; on a manifest store the base is
the next generation prefix, kept entries keep their file REFERENCES,
and :func:`_commit` + :func:`gc_store` finish the rewrite (posix
hardlinks the kept entries and swaps the directory instead). This
module keeps only what is manifest-specific: the commit protocol,
versions and GC, and the ``_decisions`` re-grouping of
:func:`_compact_decisions_manifest`.

Everything here reduces to five object-store primitives — atomic
single-key put, get, list, delete, exists (:class:`LocalObjectFS`) —
plus Spark writing fresh parquet files into a fresh prefix. No
``os.rename`` of data, no ``os.link``, no in-place mutation above
that class: the greppable portability argument. On this sandbox the
primitives are backed by the local filesystem (``put_atomic`` models
an atomic PUT with a temp-file + ``os.replace`` of a SINGLE file,
which object stores give natively); pointing the class at an
``s3://`` client is the only porting work.

Concurrency contract: single writer, many readers — the same
maintenance-window discipline the posix swap path documents. A
reader that resolved CURRENT keeps a consistent generation for its
whole scan (manifests and data files are immutable); garbage
collection (:func:`gc_store`) runs in the writer's window, after the
pointer flip, exactly like the posix swap deleting its ``.old`` copy.

Version-pinned handles: ``<root>@v<N>`` addresses snapshot ``N`` of a
manifest store the way ``<root>/_versions/v<N>`` addresses a posix
snapshot — a complete read-only store (data + sidecars + meta as of
the pin) accepted by every read-side helper and serve function.
``sources.files.version_path`` renders the right handle per backend.

Reference analogue: point-in-time recovery and transactional DELETE
on the reference's OLTP store
(src/pipelines/crawl/storage/postgres_storage.py:250-356); at 100 TB
on immutable parquet the equivalent contract is manifest commits.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MF_DIR = "_mf"
GEN_DIR = "_g"
CURRENT = "CURRENT.json"
VERSIONS = "versions.json"

BACKEND_ENV = "SPARK_GRAFT_STORE_BACKEND"


def resolve_backend(explicit: str | None = None) -> str:
    """Which backend a NEW store should be born with: the explicit
    argument wins, else the ``SPARK_GRAFT_STORE_BACKEND`` environment
    default, else posix. EXISTING stores are self-describing
    (:func:`is_manifest_store`) — this only steers creation."""
    b = explicit or os.environ.get(BACKEND_ENV) or "posix"
    if b not in ("posix", "manifest"):
        raise ValueError(f"unknown store backend {b!r}")
    return b


class LocalObjectFS:
    """The five primitives an object store offers, backed locally.

    Manifest-mode code above this class may ONLY use these (plus
    Spark writing new parquet files into a fresh prefix): no rename
    of data, no hardlinks, no directory swaps. ``put_atomic`` is the
    one place a local rename appears — replacing a SINGLE small key,
    which is exactly the atomicity an object-store PUT provides."""

    def put_atomic(self, path: str, text: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)  # local model of an atomic object PUT

    def put_if_absent(self, path: str, text: str) -> bool:
        """Exclusive create — the CAS primitive real object stores
        offer (S3 ``If-None-Match: *``, GCS ``if-generation-match: 0``).
        Returns False when the key already exists."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(text)
        return True

    def get_text(self, path: str) -> str | None:
        if not os.path.isfile(path):
            return None
        with open(path) as f:
            return f.read()

    def list_files(self, prefix: str) -> list[str]:
        if not os.path.isdir(prefix):
            return []
        return sorted(
            os.path.join(dp, fn)
            for dp, _dns, fns in os.walk(prefix)
            for fn in fns
        )

    def delete(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        # local nicety only: object stores have no directories to prune.
        # Every key lives under the store's _g/ or _mf/ tree; pruning
        # STOPS after removing one of those roots — their parent is the
        # store root, and ascending further could rmdir directories
        # above the store (e.g. a temp parent holding only this store).
        d = os.path.dirname(path)
        while d and os.path.isdir(d) and not os.listdir(d):
            at_store_top = os.path.basename(d) in (GEN_DIR, MF_DIR)
            os.rmdir(d)
            if at_store_top:
                break
            d = os.path.dirname(d)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)


FS = LocalObjectFS()


# ---------------------------------------------------------------------------
# Pinned-version handles
# ---------------------------------------------------------------------------

_PIN = "@v"


def split_pin(path: str) -> tuple[str, int | None]:
    """``root@vN`` → (root, N); plain paths → (path, None)."""
    if _PIN in path:
        root, _, tail = path.rpartition(_PIN)
        if tail.isdigit():
            return root, int(tail)
    return path, None


def is_manifest_store(path: str) -> bool:
    root, _ = split_pin(path)
    return FS.exists(os.path.join(root, MF_DIR, CURRENT))


# ---------------------------------------------------------------------------
# Manifests
# ---------------------------------------------------------------------------


def _mf(root: str, name: str) -> str:
    return os.path.join(root, MF_DIR, name)


def _gen_manifest_path(root: str, gen: int) -> str:
    return _mf(root, f"gen-{gen:08d}.json")


def current_gen(root: str) -> int:
    txt = FS.get_text(_mf(root, CURRENT))
    return int(json.loads(txt)["gen"]) if txt else 0


def read_manifest(root: str, gen: int) -> dict:
    if gen == 0:
        return {"gen": 0, "parent": 0, "op": "init", "files": []}
    txt = FS.get_text(_gen_manifest_path(root, gen))
    if txt is None:
        raise ValueError(f"manifest store {root} has no manifest gen {gen}")
    return json.loads(txt)


def _lp(rel: str) -> str:
    """Logical path of a physical relpath: strip the ``_g/<gen>/``
    prefix. The physical tree under each generation MIRRORS the
    logical store layout, so partition dirs (``band=0``) and sidecar
    names (``_fingerprints``) read straight off the logical path."""
    parts = rel.split("/", 2)
    if len(parts) == 3 and parts[0] == GEN_DIR:
        return parts[2]
    return rel


def _covered(lp: str, sub: str | None) -> bool:
    """Does a logical path belong to the requested scope? ``sub=None``
    = the DATA tree (every non-underscore logical entry)."""
    if sub is None:
        return not lp.split("/", 1)[0].startswith("_")
    return lp == sub or lp.startswith(sub + "/")


def manifest_files(
    root: str, sub: str | None = None, gen: int | None = None
) -> list[str]:
    """Relpaths (from the store root) of the files in scope at a
    generation (default: CURRENT)."""
    g = current_gen(root) if gen is None else gen
    m = read_manifest(root, g)
    return [f for f in m["files"] if _covered(_lp(f), sub)]


def _resolve_gen(root: str, pin: int | None) -> int:
    return current_gen(root) if pin is None else version_gen(root, pin)


# ---------------------------------------------------------------------------
# Read / write
# ---------------------------------------------------------------------------


def store_read(
    spark: SparkSession, path: str, sub: str | None = None
) -> DataFrame | None:
    """Manifest-resolved scan of the data tree (``sub=None``) or one
    sidecar. Files are grouped by generation and each group is read
    with ``basePath`` at its generation prefix, so Hive-style
    partition columns (``band=``/``bkt=``/``fpb=``…) parse exactly as
    a posix directory read — and Catalyst partition-prunes each
    group's in-memory file index, so ``isin`` probes still skip
    unqueried partitions. Returns None when the scope holds no files
    (the posix 'directory absent' contract)."""
    root, pin = split_pin(path)
    files = manifest_files(root, sub, _resolve_gen(root, pin))
    files = [f for f in files if f.endswith(".parquet")]
    if not files:
        return None
    by_gen: dict[str, list[str]] = {}
    for f in files:
        parts = f.split("/", 2)
        by_gen.setdefault("/".join(parts[:2]), []).append(f)
    out: DataFrame | None = None
    for gpref, fs in sorted(by_gen.items()):
        base = os.path.join(root, gpref, sub) if sub else os.path.join(root, gpref)
        df = spark.read.option("basePath", base).parquet(
            *[os.path.join(root, f) for f in fs]
        )
        out = df if out is None else out.unionByName(df)
    return out


def store_sub_exists(path: str, sub: str) -> bool:
    root, pin = split_pin(path)
    return bool(manifest_files(root, sub, _resolve_gen(root, pin)))


def _list_new_parquet(root: str, target: str) -> list[str]:
    return [
        os.path.relpath(f, root)
        for f in FS.list_files(target)
        if f.endswith(".parquet")
    ]


class ConcurrentCommitError(RuntimeError):
    """The single-writer contract was violated: another writer
    committed a generation between this mutation's base read and its
    commit. The losing mutation's files are orphans the next
    :func:`gc_store` sweeps; re-run the mutation against the new
    CURRENT."""


def _commit(
    root: str,
    files: list[str],
    op: str,
    parent: int | None = None,
    based_on: int | None = None,
) -> int:
    """Write the next generation's manifest and flip CURRENT — THE
    commit point of every manifest-store mutation. A crash before the
    flip leaves an orphan manifest/generation that the next
    :func:`gc_store` sweeps; the flip itself is one atomic put.

    Contract guard: ``based_on`` is the generation the mutation READ
    as its parent. The commit refuses (raises
    :class:`ConcurrentCommitError`) if CURRENT has moved since — and
    the generation manifest itself is claimed with an exclusive
    create, so two racing committers that both pass the check cannot
    both land (the object-store CAS; last-write-wins would silently
    drop the loser's generation)."""
    cur = current_gen(root)
    if based_on is not None and cur != based_on:
        raise ConcurrentCommitError(
            f"store {root}: CURRENT moved from gen {based_on} to {cur} "
            f"during this mutation ({op}) — concurrent writer detected; "
            "re-run against the new CURRENT"
        )
    gen = cur + 1
    manifest = {
        "gen": gen,
        "parent": cur if parent is None else parent,
        "op": op,
        "created_unix": int(time.time()),
        "files": sorted(set(files)),
    }
    if not FS.put_if_absent(_gen_manifest_path(root, gen), json.dumps(manifest)):
        # The claim key exists. Two possibilities: (a) a live racing
        # writer that claimed first (its CURRENT flip lands any moment),
        # (b) the orphan of a commit that crashed between its claim and
        # its flip. An orphan gen > CURRENT is by definition
        # unreferenced, so (b) is recoverable in-line — previously it
        # wedged every subsequent commit until a manual gc_store().
        _sweep_claim_orphan_or_raise(root, cur, gen, op)
        if not FS.put_if_absent(
            _gen_manifest_path(root, gen), json.dumps(manifest)
        ):
            raise ConcurrentCommitError(
                f"store {root}: generation {gen} was re-claimed while "
                f"recovering a crash orphan (racing {op}) — concurrent "
                "writer detected; re-run against the new CURRENT"
            )
    FS.put_atomic(_mf(root, CURRENT), json.dumps({"gen": gen}))
    return gen


def _orphan_grace_secs() -> float:
    """How old an unreferenced claim must be before a committer may
    sweep it as a crash orphan. Below this age it is treated as a LIVE
    racing writer inside its claim→flip window and the commit raises
    instead (the CAS contract). Env-tunable for tests and for
    restart-fast streaming deployments."""
    return float(os.environ.get("SPARK_GRAFT_ORPHAN_GRACE_SECS", "30"))


def _sweep_claim_orphan_or_raise(
    root: str, based_gen: int, gen: int, op: str
) -> None:
    """Recover from a crashed commit's orphan claim at ``gen``, or
    raise :class:`ConcurrentCommitError` when the existing claim
    belongs to a live concurrent writer.

    Decision: if CURRENT has moved past ``based_gen``, a racing writer
    committed — true race, raise. If CURRENT is unmoved, the manifest
    at ``gen`` is unreferenced; a claim older than the grace window is
    a crash orphan (no writer sits in its claim→flip window for 30 s)
    and is swept so the caller can retry the claim once. Its data
    files stay orphans for the next :func:`gc_store`. A younger claim
    is presumed to be a live writer about to flip — raise, keeping the
    CAS guarantee for genuine races."""
    if current_gen(root) != based_gen:
        raise ConcurrentCommitError(
            f"store {root}: CURRENT moved from gen {based_gen} during "
            f"this mutation ({op}) — concurrent writer committed first; "
            "re-run against the new CURRENT"
        )
    txt = FS.get_text(_gen_manifest_path(root, gen))
    created = 0
    if txt is not None:
        try:
            created = int(json.loads(txt).get("created_unix", 0))
        except (ValueError, KeyError, json.JSONDecodeError):
            created = 0  # unreadable claim: treat as ancient, sweep it
    age = time.time() - created
    if age < _orphan_grace_secs():
        raise ConcurrentCommitError(
            f"store {root}: a manifest for generation {gen} was claimed "
            f"{age:.1f}s ago and CURRENT has not flipped (racing {op}) — "
            "presumed live concurrent writer; re-run against the new "
            "CURRENT once it lands"
        )
    FS.delete(_gen_manifest_path(root, gen))


def store_put(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | None = None,
    sub: str | None = None,
    coalesce: int | None = None,
    range_key: str | None = None,
    n_range_files: int | None = None,
) -> int:
    """Write a batch into a manifest store: new parquet files under a
    fresh generation prefix, then one manifest commit. ``mode``
    applies to the MANIFEST, never to files — 'append' keeps the
    parent generation's references, 'overwrite' drops those in scope
    (``sub``, or the whole data tree) — so the physical write below
    is always into an empty prefix. Shapes mirror the posix writers
    1:1 (partitioned / range-sorted flat / coalesced sidecar), so
    plans and row-group layouts are identical across backends.
    Maintenance rewrites that replace the data tree but keep sidecars
    go through ``files.StoreRewrite`` instead."""
    root, pin = split_pin(path)
    if pin is not None:
        raise ValueError(f"cannot write to a pinned snapshot handle {path}")
    cur = current_gen(root)
    gen_dir = os.path.join(root, GEN_DIR, f"{cur + 1:08d}")
    target = os.path.join(gen_dir, sub) if sub else gen_dir
    w = df
    if partition_by is not None:
        # one task per key: each Hive dir comes out as one file
        (
            w.repartition(F.col(partition_by))
            .write.mode("overwrite")
            .partitionBy(partition_by)
            .parquet(target)
        )
    elif range_key is not None:
        n = n_range_files or 4
        (
            w.repartitionByRange(n, range_key)
            .sortWithinPartitions(range_key)
            .write.mode("overwrite")
            .parquet(target)
        )
    else:
        if coalesce:
            w = w.coalesce(coalesce)
        w.write.mode("overwrite").parquet(target)
    new_files = _list_new_parquet(root, target)
    parent_files = read_manifest(root, cur)["files"]
    if mode == "append":
        keep = parent_files
    elif sub is None:
        # full-data overwrite = full rebuild: drop EVERY reference,
        # sidecars included — posix parity (Spark's overwrite clears
        # the whole tree there). A rebuilt store that silently kept
        # its old _tombstones would hide ids the new corpus contains.
        keep = []
    else:
        keep = [f for f in parent_files if not _covered(_lp(f), sub)]
    return _commit(root, keep + new_files, f"{mode}:{sub or 'data'}", based_on=cur)


def put_json_entry(root: str, name: str, payload: dict) -> int:
    """Version a small JSON artifact (``_meta.json``) as a manifest
    entry: the file lands in a fresh generation and replaces the
    previous logical entry, so snapshots pin the meta AS OF the pin —
    a time-travel serve resolves the plane count / build parameters
    that store actually had."""
    cur = current_gen(root)
    gen_dir = os.path.join(root, GEN_DIR, f"{cur + 1:08d}")
    FS.put_atomic(os.path.join(gen_dir, name), json.dumps(payload))
    parent_files = read_manifest(root, cur)["files"]
    keep = [f for f in parent_files if _lp(f) != name]
    rel = os.path.relpath(os.path.join(gen_dir, name), root)
    return _commit(root, keep + [rel], f"meta:{name}", based_on=cur)


def get_json_entry(path: str, name: str) -> dict | None:
    root, pin = split_pin(path)
    if not is_manifest_store(root):
        return None
    m = read_manifest(root, _resolve_gen(root, pin))
    hits = [f for f in m["files"] if _lp(f) == name]
    if not hits:
        return None
    txt = FS.get_text(os.path.join(root, hits[0]))
    return json.loads(txt) if txt else None


# ---------------------------------------------------------------------------
# Versions: snapshot / rollback / expiry / GC
# ---------------------------------------------------------------------------


def _versions_doc(root: str) -> dict:
    txt = FS.get_text(_mf(root, VERSIONS))
    return json.loads(txt) if txt else {"next": 1, "versions": []}


def list_versions(root: str) -> list[dict]:
    return sorted(_versions_doc(root)["versions"], key=lambda m: m["version"])


def version_gen(root: str, version: int) -> int:
    for v in _versions_doc(root)["versions"]:
        if v["version"] == version:
            return int(v["gen"])
    known = [v["version"] for v in list_versions(root)]
    raise ValueError(
        f"store {root} has no snapshot v{version}; recorded: {known}"
    )


def snapshot(root: str, tag: str | None = None) -> int:
    """Pin the CURRENT generation as a named version: one small JSON
    write, no per-file work at all — strictly cheaper than the posix
    hardlink tree, and the honest 100 TB cost model (a snapshot of a
    petabyte store is a metadata row). The pinned generation's files
    are GC-protected until the version is expired."""
    doc = _versions_doc(root)
    v = int(doc["next"])
    entries = sorted(
        {_lp(f).split("/", 1)[0] for f in read_manifest(root, current_gen(root))["files"]}
    )
    doc["versions"].append(
        {
            "version": v,
            "gen": current_gen(root),
            "tag": tag,
            "created_unix": int(time.time()),
            "entries": entries,
        }
    )
    doc["next"] = v + 1
    FS.put_atomic(_mf(root, VERSIONS), json.dumps(doc))
    return v


def rollback(root: str, version: int) -> None:
    """Restore the live store to a snapshot: a NEW manifest whose file
    list IS the pinned generation's — zero data movement, one commit.
    History survives (including newer snapshots): a rollback is an
    event, not history rewriting; roll forward again if the rollback
    itself was the mistake."""
    gen = version_gen(root, version)
    _commit(root, read_manifest(root, gen)["files"], f"rollback:v{version}")


def expire_versions(
    root: str,
    keep_last: int | None = None,
    before: int | None = None,
    keep_tags: tuple[str, ...] | bool = (),
) -> list[int]:
    """Drop old snapshots and garbage-collect: manifest-diff GC — a
    data file is deleted exactly when no retained version and not the
    live generation references it. ``keep_tags`` pins snapshots
    against every rule (tuple of tags, or True = every tagged one).
    The versions-doc put is the commit point; a crash mid-GC leaves
    unreferenced files the next GC call sweeps (GC is idempotent)."""
    from tiki_data_pipeline_spark.sources.files import _pinned_versions

    doc = _versions_doc(root)
    versions = sorted(v["version"] for v in doc["versions"])
    victims: set[int] = set()
    if before is not None:
        victims |= {v for v in versions if v < before}
    if keep_last is not None:
        victims |= set(versions[: max(len(versions) - keep_last, 0)])
    victims -= _pinned_versions(doc["versions"], keep_tags)
    if victims:
        doc["versions"] = [
            v for v in doc["versions"] if v["version"] not in victims
        ]
        FS.put_atomic(_mf(root, VERSIONS), json.dumps(doc))
        gc_store(root)
    return sorted(victims)


def gc_store(root: str) -> dict:
    """Delete every physical file no retained generation references.
    Retained = the CURRENT generation + every snapshot-pinned one.
    Also drops unretained generation manifests (their file lists are
    dead) — but never CURRENT's chain-of-record. Idempotent; run in
    the writer's maintenance window (same discipline as the posix
    swap deleting its ``.old`` copy)."""
    live_gens = {current_gen(root)} | {
        int(v["gen"]) for v in _versions_doc(root)["versions"]
    }
    live_files: set[str] = set()
    for g in live_gens:
        if g > 0:
            live_files |= set(read_manifest(root, g)["files"])
    removed_data = 0
    gdir = os.path.join(root, GEN_DIR)
    for f in FS.list_files(gdir):
        rel = os.path.relpath(f, root)
        if rel not in live_files:
            FS.delete(f)
            removed_data += 1
    removed_manifests = 0
    for f in FS.list_files(os.path.join(root, MF_DIR)):
        name = os.path.basename(f)
        if name.startswith("gen-") and name.endswith(".json"):
            g = int(name[4:-5])
            if g not in live_gens:
                FS.delete(f)
                removed_manifests += 1
    return {"files_deleted": removed_data, "manifests_deleted": removed_manifests}


# ---------------------------------------------------------------------------
# Maintenance: compact (fold and layout migration are files.StoreRewrite
# bodies shared with posix)
# ---------------------------------------------------------------------------


def compact_store_manifest(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
    fold_deletes: bool = True,
) -> int:
    """Manifest branch of ``files.compact_store``: fold pending deletes,
    then rewrite the data tree (and the ``_fingerprints`` sidecar) in
    ONE ``files.StoreRewrite`` — partitioned trees come out with up to
    ``target_files_per_partition`` files per partition, flat trees
    re-range-sort on their key, every other sidecar keeps its
    references — and re-group a streaming ``_decisions`` log
    (:func:`_compact_decisions_manifest`). Garbage-collects after.
    Returns the number of logical directories rewritten."""
    from tiki_data_pipeline_spark.sources import files as FL

    root, pin = split_pin(path)
    if pin is not None:
        raise ValueError(f"cannot compact a pinned snapshot handle {path}")
    if fold_deletes:
        FL.fold_tombstones(spark, root)
    rw = FL.StoreRewrite(root)
    key, partitioned = rw.layout
    target = max(1, target_files_per_partition)
    count = 0
    if key is None:
        rw.keep(*rw.data_entries)
    elif partitioned:
        rw.write(store_read(spark, root, None), partition_by=key, files=target)
        count += len(rw.data_entries)
    else:
        rw.write(store_read(spark, root, None), range_key=key, files=target)
        count += 1
    fps = {
        lp.split("/")[1]
        for lp in rw.entries
        if lp.startswith("_fingerprints/")
    }
    if fps:
        src = store_read(spark, root, "_fingerprints")
        if any(b.startswith("fpb=") for b in fps):
            rw.write(src, "_fingerprints", partition_by="fpb", files=target)
            count += len(fps)
        else:
            rw.write(src, "_fingerprints", files=target)
            count += 1
    rw.keep(*(s for s in rw.sidecars if s != "_fingerprints"))
    rw.commit("compact")
    count += _compact_decisions_manifest(spark, root)
    gc_store(root)
    return count


def _compact_decisions_manifest(spark: SparkSession, root: str) -> int:
    """Re-group a streaming ``_decisions`` lineage log into ONE
    generation. Every streaming epoch's sub-scoped commit lands its
    leaf in its own generation, and :func:`store_read` unions the
    scope per generation — so a long-running stream grows the
    decisions read plan linearly with epoch count. Compaction reads
    the whole scope (run/epoch partition columns parse off the
    logical paths), writes it back partitioned by (run, epoch) under
    the compaction's single generation, and commits once: same rows,
    same partition values, one read group afterwards. Run in the
    writer's maintenance window only (same single-writer discipline
    as every compact — ``takedown_sink(maintenance_every=)`` calls
    this between epochs, which is that window). The posix twin needs
    no equivalent: its epoch leaves already share one directory tree.
    Skips flat (legacy) decisions layouts — nothing to re-group."""
    refs = [
        f for f in manifest_files(root, "_decisions") if f.endswith(".parquet")
    ]
    gens = {f.split("/", 2)[1] for f in refs if f.startswith(GEN_DIR + "/")}
    partitioned = any("run=" in _lp(f) for f in refs)
    if len(gens) <= 1 or not partitioned:
        return 0
    dec = store_read(spark, root, "_decisions")
    cur = current_gen(root)
    gen_dir = os.path.join(root, GEN_DIR, f"{cur + 1:08d}")
    target = os.path.join(gen_dir, "_decisions")
    (
        dec.repartition(F.col("run"), F.col("epoch"))
        .write.mode("overwrite")
        .partitionBy("run", "epoch")
        .parquet(target)
    )
    new_files = _list_new_parquet(root, target)
    parent_files = read_manifest(root, cur)["files"]
    keep = [f for f in parent_files if not _covered(_lp(f), "_decisions")]
    _commit(root, keep + new_files, "compact:_decisions", based_on=cur)
    return 1
