"""Seeded input generator.

Every input the benchmark feeds the engine is built here from the
run's ``--seed``: the ten star-schema tables the registry queries read,
the content-mutated corpus replicas, the stream splits, the probe
delta, the query vectors and the takedown ids. The same seed gives the
same bytes; the engine sees only the written parquet files.

The tables follow the shapes of the engine's fixture data (column
names, types, value ranges and planted duplicates), so every registry
query and its DuckDB oracle run unchanged against them. Plain numpy +
pyarrow: no Spark job runs while inputs are built.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EMBED_DIM = 64
EMBED_GROUP = 8

# One id block per corpus replica: replica r's docs are r * REPLICA_STRIDE
# + the base doc id (the streaming_throughput recipe's id layout).
REPLICA_STRIDE = 10_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input, so resizing one input never
    shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _documents(seed: int, n: int) -> pa.Table:
    """Synthetic LLM-corpus documents: 10-100 words from a small
    vocabulary, with ~5 % planted near-duplicates (an earlier doc's
    text plus one word) and a few exact duplicates."""
    rng = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Unit-norm 64-d float vectors with a 0-9 label, in tight groups
    of ``EMBED_GROUP`` (cosine ~0.97 within a group), so every vector
    has real nearest neighbours for top-k recall to find."""
    rng = rng_for(seed, "embeddings")
    centres = rng.standard_normal((-(-n // EMBED_GROUP), EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = centres[np.arange(n) // EMBED_GROUP] + rng.normal(0.0, 0.03, (n, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel()), EMBED_DIM
    ).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten fixture-shaped tables at scale factor ``sf`` into
    ``out_dir/<table>.parquet``; returns row counts and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng = rng_for(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    rng = rng_for(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    rng = rng_for(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": rng.choice(names, n_part).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    rng = rng_for(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    rng = rng_for(seed, "lineitem")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }
    )
    rng = rng_for(seed, "events")
    gaps = rng.uniform(0.0, 2.0 * 30 * 86_400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(seed, n_docs)
    tables["embeddings"] = embeddings_table(seed, n_emb)

    stats = {"rows": {}, "bytes": 0}
    for name, table in tables.items():
        stats["bytes"] += _write(table, os.path.join(out_dir, f"{name}.parquet"))
        stats["rows"][name] = table.num_rows
    return stats


def _mutate(text: str, rep: int, doc_id: int, seed: int) -> str:
    """The streaming_throughput replica recipe, with the seed added to
    the mutation hash: replicas with ``rep % 7 == 1`` rewrite only the
    first word (planted near-duplicates of replica 0); the others
    rewrite every other word (mostly-unique content)."""
    planted = rep % 7 == 1
    words = text.split(" ")
    out = []
    for i, w in enumerate(words):
        if (planted and i == 0) or (not planted and i % 2 == 0):
            key = f"{w}:{rep}:{doc_id}:{seed}".encode()
            out.append(hashlib.md5(key).hexdigest()[:8])
        else:
            out.append(w)
    return " ".join(out)


def corpus_replicas(seed: int, n_docs: int, replicas: int) -> pa.Table:
    """``replicas`` content-mutated copies of a seeded ``documents``
    table (replica 0 is the original); each doc keeps its ``lang``
    and ``source``."""
    base = _documents(seed, n_docs).to_pydict()
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": []}
    for rep in range(replicas):
        for i, doc_id in enumerate(base["doc_id"]):
            text = base["text"][i]
            cols["doc_id"].append(doc_id + rep * REPLICA_STRIDE)
            cols["text"].append(text if rep == 0 else _mutate(text, rep, doc_id, seed))
            cols["lang"].append(base["lang"][i])
            cols["source"].append(base["source"][i])
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": cols["text"],
            "lang": cols["lang"],
            "source": cols["source"],
        }
    )


def write_table(table: pa.Table, out_dir: str, name: str) -> int:
    """Write ``table`` as ``out_dir/<name>.parquet`` (the layout
    ``io.load_table`` reads); returns the file's bytes."""
    os.makedirs(out_dir, exist_ok=True)
    return _write(table, os.path.join(out_dir, f"{name}.parquet"))


def text_bytes(table: pa.Table) -> int:
    return sum(len(t.encode()) for t in table.column("text").to_pylist())
