"""Seeded corpus generator for the benchmark.

Builds the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with
the schemas and value domains of the engine's TPC-H-ish test tables
(TESTDATA.md, FIXTURES.md): uniform keys, 1995-2001 order dates, a
30-day event stream with exponential gaps, 30-word documents of which
5% are earlier documents plus " dup", and unit-norm 64-d embeddings.

The base corpus is fixed (generator seed 42, like the test tables).
The workload seed then shapes what the program sees:
  * K key-offset replicas of every fact/entity table; region and nation
    stay single-copy so the engine's fixture constants stay valid;
  * a seed-chosen ~10% of the rows of lineitem, events, documents and
    embeddings dropped per replica;
  * rows permuted by the seed;
  * each table written as a directory of `files` parquet parts, so every
    fact scan has at least that many input splits.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# Offset per keyspace between replicas, far above any generated key.
OFF = 100_000_000
# table -> {key column: keyspace slot}; shared slots keep foreign keys
# consistent across replicas (orders.o_custkey and events.user_id both
# point at the customer keyspace).
KEYED = {
    "customer": {"c_custkey": 1},
    "supplier": {"s_suppkey": 2},
    "part": {"p_partkey": 3},
    "orders": {"o_orderkey": 4, "o_custkey": 1},
    "lineitem": {"l_orderkey": 4, "l_partkey": 3, "l_suppkey": 2},
    "events": {"event_id": 5, "user_id": 1},
    "documents": {"doc_id": 6},
    "embeddings": {"vec_id": 7},
}
DROPPED = {"lineitem", "events", "documents", "embeddings"}
TABLES = ["region", "nation"] + list(KEYED)


def _ts(days_since_epoch):
    return pa.array((days_since_epoch * 86_400_000_000).astype("int64"),
                    pa.timestamp("us"))


def _day(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype("int64"))


def base_tables(scale):
    """The fixed base corpus; `scale` 1.0 matches the sf0.1 row counts."""
    r = np.random.RandomState(42)
    n = {k: max(1, int(v * scale)) for k, v in dict(
        customer=15000, supplier=1000, part=20000, orders=150000,
        lineitem=600000, events=100000, users=1500, documents=5000,
        embeddings=2000).items()}
    money = lambda lo, hi, k: np.round(r.uniform(lo, hi, k), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.randint(0, 25, k), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.randint(0, 5, k)]})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.randint(0, 25, k), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, k)})
    k = n["part"]
    keys = np.arange(k, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.randint(0, 8, k), r.randint(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.randint(1, 26, k)],
        "p_type": np.array(TYPES)[r.randint(0, 6, k)],
        "p_size": pa.array(r.randint(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    k = n["orders"]
    lo, hi = _day(1995, 1, 1), _day(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": r.randint(0, n["customer"], k).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[r.randint(0, 3, k)],
        "o_totalprice": money(1000, 500000, k),
        "o_orderdate": _ts(r.randint(lo, hi + 1, k)),
        "o_orderpriority": np.array(PRIORITIES)[r.randint(0, 5, k)]})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.randint(0, n["orders"], k).astype("int64"),
        "l_partkey": r.randint(0, n["part"], k).astype("int64"),
        "l_suppkey": r.randint(0, n["supplier"], k).astype("int64"),
        "l_linenumber": pa.array(r.randint(1, 8, k), pa.int32()),
        "l_quantity": r.randint(1, 51, k).astype("float64"),
        "l_extendedprice": money(900, 105000, k),
        "l_discount": r.randint(0, 11, k) / 100.0,
        "l_tax": r.randint(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.randint(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[r.randint(0, 2, k)],
        "l_shipdate": _ts(r.randint(_day(1995, 1, 2), _day(2001, 11, 4) + 1, k))})
    k = n["events"]
    gaps = r.exponential(30 * 86400.0 / k, k)
    us = (np.cumsum(gaps) * 1e6).astype("int64") + _day(2024, 1, 1) * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": pa.array(us, pa.timestamp("us")),
        "user_id": r.randint(0, n["users"], k).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[r.randint(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.randint(0, 100, k)]})
    k = n["documents"]
    texts = []
    for i in range(k):
        if i >= 20 and r.rand() < 0.05:
            texts.append(texts[r.randint(0, i)] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[r.randint(0, 30, r.randint(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64")})
    k = n["embeddings"]
    v = r.normal(0, 1, (k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.randint(0, 10, k), pa.int32())})
    return t


def derive(base, seed, replicas):
    """Apply the seed: K key-offset replicas, ~10% fact-row drop per
    replica, and a seeded permutation."""
    r = np.random.RandomState(seed)
    out = {"region": base["region"], "nation": base["nation"]}
    for name, keys in KEYED.items():
        src = base[name]
        parts = []
        for k in range(replicas):
            cols = {c: (pc.add(src[c], k * slot * OFF) if (slot := keys.get(c)) else src[c])
                    for c in src.column_names}
            rep = pa.table(cols).cast(src.schema)
            if name in DROPPED:
                rep = rep.filter(pa.array(r.rand(rep.num_rows) >= 0.10))
            parts.append(rep)
        whole = pa.concat_tables(parts)
        out[name] = whole.take(pa.array(r.permutation(whole.num_rows)))
    return out


def write(tables, out_dir, files):
    """Each table becomes `<name>.parquet/part-NNNNN.parquet`, `files` parts."""
    for name, tab in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        k = files if name in KEYED else 1
        step = -(-tab.num_rows // k)
        for i in range(k):
            pq.write_table(tab.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))


def row_counts(tables):
    return {name: tab.num_rows for name, tab in sorted(tables.items())}

