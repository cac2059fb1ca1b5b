"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng([seed, table_no])`` and
written with a fixed schema, so the same seed gives byte-identical parquet
files. Column names and parquet types are those of the engine's sf
fixtures: a TPC-H-like star schema, an ``events`` log over January 2024 with
``ts`` as naive ``timestamp[us]``, a near-duplicate text corpus over a
31-token vocabulary and unit-norm 64-d embeddings whose ids align with the
document ids. As in the fixtures, the embeddings are isotropic and their
labels uniform: a label's mean vector has the norm sampling noise alone
gives. (FIXTURES.md's ``timestamp[ns]`` and "10 clusters" describe an earlier
fixture; ``Tables.normalizeEventTs`` documents the encoding change.)

Two input kinds are built:

* ``base``  -- one scale factor of all ten tables;
* ``split`` -- the ``events`` log cut into many small files in arrival
  order, where arrival lags event time by at most ``MAX_LAG_US`` (half the
  streaming watermark), so no event is late for a 1 h watermark.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DUP_TOKEN = "dup"
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.147, 0.412, 0.147, 0.147, 0.147]

US_PER_DAY = 86_400_000_000
DAY_1995_01_01 = 9131          # days since epoch
JAN_2024_US = 1_704_067_200_000_000
JAN_2024_SPAN_US = 30 * US_PER_DAY
MAX_LAG_US = 30 * 60 * 1_000_000

TS = pa.timestamp("us")
SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                           ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
    "embeddings": pa.schema([("vec_id", pa.int64()),
                             ("embedding", pa.list_(pa.float32())),
                             ("label", pa.int32())]),
}


def rng_for(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def cents(r, lo, hi, n):
    """Uniform money amounts with two decimals in [lo, hi]."""
    return np.round(r.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


def pick(r, values, n, p=None):
    return np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)]


def days_us(days):
    return (DAY_1995_01_01 + days).astype(np.int64) * US_PER_DAY


def sizes(sf):
    return dict(customer=round(150_000 * sf), supplier=round(10_000 * sf),
                part=round(200_000 * sf), orders=round(1_500_000 * sf),
                lineitem=round(6_000_000 * sf), events=round(1_000_000 * sf),
                users=round(15_000 * sf), documents=max(500, round(50_000 * sf)),
                embeddings=max(500, round(20_000 * sf)))


def make_text(r, n_docs):
    """Token shuffles over VOCAB; 5% of documents copy another document and
    append a ``dup`` token, the fixture's near-duplicate pattern."""
    lengths = r.integers(10, 100, n_docs)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[r.integers(0, len(VOCAB), k)]) for k in lengths]
    copies = np.flatnonzero(r.random(n_docs) < 0.05)
    sources = r.integers(0, n_docs, len(copies))
    for i, j in zip(copies, sources):
        if i != j:
            texts[i] = texts[j] + " " + DUP_TOKEN
    return texts


def base(sf, seed):
    """All ten tables at scale factor ``sf`` as pyarrow tables."""
    n = sizes(sf)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5}
    r = rng_for(seed, "customer")
    k = n["customer"]
    t["customer"] = {"c_custkey": np.arange(k, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(k)],
                     "c_nationkey": r.integers(0, 25, k).astype(np.int32),
                     "c_acctbal": cents(r, -999.99, 9999.99, k),
                     "c_mktsegment": pick(r, SEGMENTS, k)}
    r = rng_for(seed, "supplier")
    k = n["supplier"]
    t["supplier"] = {"s_suppkey": np.arange(k, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(k)],
                     "s_nationkey": r.integers(0, 25, k).astype(np.int32),
                     "s_acctbal": cents(r, -999.99, 9999.99, k)}
    r = rng_for(seed, "part")
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = {"p_partkey": keys,
                 "p_name": [f"{a} {b}" for a, b in zip(pick(r, PART_ADJ, k),
                                                       pick(r, PART_NOUN, k))],
                 "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
                 "p_type": pick(r, PART_TYPES, k),
                 "p_size": r.integers(1, 51, k).astype(np.int32),
                 "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)}
    r = rng_for(seed, "orders")
    k = n["orders"]
    t["orders"] = {"o_orderkey": np.arange(k, dtype=np.int64),
                   "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
                   "o_orderstatus": pick(r, ["F", "O", "P"], k),
                   "o_totalprice": cents(r, 1000.0, 500000.0, k),
                   "o_orderdate": days_us(r.integers(0, 2404, k)),
                   "o_orderpriority": pick(r, PRIORITIES, k)}
    r = rng_for(seed, "lineitem")
    k = n["lineitem"]
    t["lineitem"] = {"l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
                     "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
                     "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
                     "l_linenumber": r.integers(1, 8, k).astype(np.int32),
                     "l_quantity": r.integers(1, 51, k).astype(np.float64),
                     "l_extendedprice": cents(r, 900.0, 105000.0, k),
                     "l_discount": r.integers(0, 11, k) / 100.0,
                     "l_tax": r.integers(0, 9, k) / 100.0,
                     "l_returnflag": pick(r, ["A", "N", "R"], k),
                     "l_linestatus": pick(r, ["F", "O"], k),
                     "l_shipdate": days_us(1 + r.integers(0, 2499, k))}
    r = rng_for(seed, "events")
    k = n["events"]
    gaps = r.exponential(JAN_2024_SPAN_US / k, k)
    ts = JAN_2024_US + np.minimum(np.cumsum(gaps), JAN_2024_SPAN_US - 1).astype(np.int64)
    t["events"] = {"event_id": np.arange(k, dtype=np.int64), "ts": ts,
                   "user_id": r.integers(0, n["users"], k).astype(np.int64),
                   "event_type": pick(r, EVENT_TYPES, k),
                   "value": np.maximum(np.round(r.exponential(50.0, k), 2), 0.01),
                   "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]}
    r = rng_for(seed, "documents")
    k = n["documents"]
    texts = make_text(r, k)
    t["documents"] = {"doc_id": np.arange(k, dtype=np.int64), "text": texts,
                      "lang": pick(r, LANGS, k, LANG_P),
                      "source": [f"src{i % 20}" for i in range(k)],
                      "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    r = rng_for(seed, "embeddings")
    k = n["embeddings"]
    x = r.standard_normal((k, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = {"vec_id": np.arange(k, dtype=np.int64),
                       "embedding": list(x.astype(np.float32)),
                       "label": r.integers(0, 10, k).astype(np.int32)}
    return {name: to_arrow(name, cols) for name, cols in t.items()}


def to_arrow(name, cols):
    schema = SCHEMAS[name]
    arrays = []
    for f in schema:
        v = cols[f.name]
        if f.type == TS:
            arrays.append(pa.array(np.asarray(v, dtype=np.int64), pa.int64()).cast(TS))
        elif pa.types.is_list(f.type):
            arrays.append(vectors(v))
        else:
            arrays.append(pa.array(list(v) if isinstance(v, np.ndarray) and v.dtype == object
                                   else v, f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def vectors(x):
    """A (rows, 64) float32 matrix as a parquet list<float> column."""
    x = np.asarray(x, dtype=np.float32).reshape(-1, 64)
    offsets = np.arange(0, x.size + 1, 64, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1), pa.float32()))


def split_events(events, n_files, seed):
    """The events log in arrival order, cut into ``n_files`` pieces. Arrival
    time is event time plus a seeded lag in [0, MAX_LAG_US]."""
    r = np.random.default_rng([seed, len(TABLES) + 1])
    ts = events["ts"].cast(pa.int64()).to_numpy()
    arrival = ts + r.integers(0, MAX_LAG_US + 1, len(ts))
    ordered = events.take(pa.array(np.argsort(arrival, kind="stable")))
    bounds = np.linspace(0, len(ts), n_files + 1).astype(int)
    return [ordered.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def write(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"), compression="snappy")


def tree_digest(path):
    """SHA-256 over every file name and byte under ``path``, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(out, build):
    """Build ``out`` once: ``build(tmp_dir)`` writes into a temporary sibling
    that is renamed into place, so an interrupted build is never reused."""
    stamp = os.path.join(out, "INPUT.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return json.load(fh)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    meta = build(tmp) or {}
    meta["digest"] = tree_digest(tmp)
    with open(os.path.join(tmp, "INPUT.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.rename(tmp, out)
    return meta
