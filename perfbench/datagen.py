"""Seeded generator of the benchmark's input tables.

Writes the ten tables graft reads (`Tables.names`) as one parquet file with
one row group each, at the sf0.1 shape: the row counts, column types, value
domains and key relationships of the TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` corpora.  The same seed gives
byte-identical files; another seed gives other values with the same sizes and
distributions, so timings move little between seeds.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# sf0.1 row counts.
N_ORDERS, N_LINEITEM, N_CUSTOMER = 150_000, 600_000, 15_000
N_SUPPLIER, N_PART, N_EVENTS, N_DOCS, N_VECS = 1_000, 20_000, 100_000, 5_000, 2_000
USERS, DIM, LABELS = 1_500, 64, 10

WORDS = ("query row stream the batch sort value hash filter big data dup part "
         "column order scan a slow agg key window table merge vector join "
         "spark line small fast group customer").split()
ADJ = "hot old red small new large cold blue".split()
NOUN = "bolt plate gear ring rod anvil widget gizmo".split()


def _days(start, n):
    base = np.datetime64(start, "us")
    return base + n.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def generate(seed):
    """Return {table name: pyarrow.Table} for `seed`."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    partkey = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, N_LINEITEM))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, USERS, N_EVENTS, dtype=np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, N_EVENTS)])})
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _documents(rng):
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < 0.02:          # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.05:        # near duplicate: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(9, 100))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], N_DOCS,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCS)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(rng):
    centroids = rng.normal(0.0, 1.0, (LABELS, DIM))
    label = rng.integers(0, LABELS, N_VECS, dtype=np.int32)
    v = centroids[label] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label})


def write_tables(tables, out_dir):
    """Write every table as `<out_dir>/<name>.parquet` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def input_bytes(data_dir, tables=TABLES):
    """Bytes of the given tables' parquet files under `data_dir`."""
    return sum(os.path.getsize(os.path.join(data_dir, f"{n}.parquet"))
               for n in tables)
