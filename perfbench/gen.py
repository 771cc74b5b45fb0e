"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (seed, workload): the same seed gives
byte-identical files. Tables mirror the engine's star-schema fixture
(same column names, parquet types and value domains), so every
`SparkEntry` query and its DuckDB oracle run on them unchanged.

Traffic dimensions, fixed here and stated in perfbench/RESULTS.md:
  - ingest: TRIGGER_ROWS rows per trigger, buckets l_returnflag x ship
    month, LATE_SHARE of rows arrive up to LATE_MAX_DAYS late;
  - maintain: PRISTINE_TRIGGERS small triggers, DML key slices of
    DML_SLICE of the order-key range, an upsert batch of UPSERT_ROWS;
  - queries: star schema at N_ORDERS orders, N_DOCS
    documents and N_VECS embeddings with NEAR_DUP_SHARE near-duplicates.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
N_ORDERS = 15000
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64
NEAR_DUP_SHARE = 0.05

TRIGGER_ROWS = 1000
INGEST_TRIGGERS = 100
LATE_SHARE = 0.05
LATE_MAX_DAYS = 60

PRISTINE_TRIGGERS = 8
PRISTINE_ORDERS = 12000
DML_SLICE = 0.02
UPSERT_ROWS = 500

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2001_08 = np.datetime64("2001-08-01", "us").astype(np.int64)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _order_dates(rng, n):
    days = (EPOCH_2001_08 - EPOCH_1995) // DAY_US
    return EPOCH_1995 + rng.integers(0, days + 1, n) * DAY_US


def _lineitems(rng, orderkeys, orderdates):
    """Lines for the given orders: 1-7 lines each, unique (order, line)."""
    n_lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, n_lines)
    od = np.repeat(orderdates, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    linenumber = (np.arange(len(ok)) - starts + 1).astype(np.int32)
    n = len(ok)
    partkey = rng.integers(0, N_PARTS, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = 900.0 + (partkey % 1000) / 10.0
    return {
        "l_orderkey": ok,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": od + rng.integers(1, 122, n) * DAY_US,
    }


def _li_table(cols, idx=None):
    arrays = []
    for f in LINEITEM_SCHEMA:
        v = cols[f.name] if idx is None else cols[f.name][idx]
        arrays.append(pa.array(v, type=f.type))
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA)


def star_schema(rng, out):
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    c = np.arange(N_CUSTOMERS)
    _write(pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in c]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(c)), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, len(c))])}),
        f"{out}/customer.parquet")
    s = np.arange(N_SUPPLIERS)
    _write(pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in s]),
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(s)), 2))}),
        f"{out}/supplier.parquet")
    p = np.arange(N_PARTS)
    names = [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, len(p)), rng.integers(0, 8, len(p)))]
    _write(pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, len(p))]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, len(p))]),
        "p_size": pa.array(rng.integers(1, 51, len(p)), pa.int32()),
        "p_retailprice": pa.array(900.0 + (p % 1000) / 10.0)}),
        f"{out}/part.parquet")
    o = np.arange(N_ORDERS)
    odate = _order_dates(rng, len(o))
    _write(pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, len(o)), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, len(o))]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, len(o)), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, len(o))])}),
        f"{out}/orders.parquet")
    # lineitem rows in a seeded order, so row order differs per seed too
    li = _lineitems(rng, o, odate)
    _write(_li_table(li, rng.permutation(len(li["l_orderkey"]))), f"{out}/lineitem.parquet")


def llm_tables(rng, out):
    """Documents (word bags) and unit embeddings, each with a stated share
    of near-duplicates: a copy of an earlier row plus a small edit."""
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    d = np.arange(N_DOCS)
    _write(pa.table({
        "doc_id": pa.array(d, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in d]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    v = rng.standard_normal((N_VECS, VEC_DIM))
    for i in range(10, N_VECS):
        if rng.random() < NEAR_DUP_SHARE:
            v[i] = v[int(rng.integers(0, i))] + 0.05 * rng.standard_normal(VEC_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32())}),
        f"{out}/embeddings.parquet")


def ingest_stream(rng, out):
    """Lineitem-shaped rows in arrival order: event-time (ship date) order,
    except LATE_SHARE of rows that arrive up to LATE_MAX_DAYS late. The
    `trigger` column says which trigger offers each row."""
    n_orders = INGEST_TRIGGERS * TRIGGER_ROWS // 4 + 1000
    keys = np.arange(n_orders)
    li = _lineitems(rng, keys, _order_dates(rng, n_orders))
    n = len(li["l_orderkey"])
    late = rng.random(n) < LATE_SHARE
    lag = np.where(late, rng.integers(1, LATE_MAX_DAYS + 1, n) * DAY_US, 0)
    arrival = li["l_shipdate"] + lag
    order = np.lexsort((rng.random(n), arrival))[: INGEST_TRIGGERS * TRIGGER_ROWS]
    t = _li_table(li, order)
    t = t.append_column("trigger", pa.array(np.arange(len(order)) // TRIGGER_ROWS, pa.int32()))
    pq.write_table(t, f"{out}/ingest_stream.parquet", compression="snappy",
                   row_group_size=TRIGGER_ROWS * 50)


def maintain_inputs(rng, out):
    """The rows streamed into the pristine table, and the DML parameters:
    a delete slice, an update slice and a key-unique upsert batch."""
    keys = np.arange(PRISTINE_ORDERS)
    li = _lineitems(rng, keys, _order_dates(rng, PRISTINE_ORDERS))
    n = len(li["l_orderkey"])
    t = _li_table(li, rng.permutation(n))
    t = t.append_column("trigger", pa.array(np.arange(n) * PRISTINE_TRIGGERS // n, pa.int32()))
    _write(t, f"{out}/maintain_rows.parquet")
    width = int(PRISTINE_ORDERS * DML_SLICE)
    half = PRISTINE_ORDERS // 2
    # disjoint slices: the delete in the lower half, the update in the upper
    lo = [int(rng.integers(0, half - width)), int(rng.integers(half, 2 * half - width))]
    # upsert: half the batch replaces existing rows, half inserts new keys
    existing = rng.choice(n, UPSERT_ROWS // 2, replace=False)
    up = {k: np.asarray(v)[existing] for k, v in li.items()}
    up["l_quantity"] = up["l_quantity"] + 100.0
    up["l_tax"] = np.full(len(existing), 0.5)
    new = _lineitems(rng, PRISTINE_ORDERS + np.arange(UPSERT_ROWS // 8),
                     _order_dates(rng, UPSERT_ROWS // 8))
    src = {k: np.concatenate([up[k], np.asarray(new[k])[: UPSERT_ROWS - len(existing)]])
           for k in li}
    # mergeInto refuses duplicate source keys: keep the first row per key
    pairs = list(zip(src["l_orderkey"].tolist(), src["l_linenumber"].tolist()))
    first = sorted({p: i for i, p in reversed(list(enumerate(pairs)))}.values())
    _write(_li_table(src, np.array(first)), f"{out}/maintain_upsert.parquet")
    ok = li["l_orderkey"]
    with open(f"{out}/maintain_params.json", "w") as f:
        json.dump({"delete_lo": lo[0], "delete_hi": lo[0] + width,
                   "update_lo": lo[1], "update_hi": lo[1] + width, "rows": n,
                   "delete_rows": int(((ok >= lo[0]) & (ok < lo[0] + width)).sum()),
                   "update_rows": int(((ok >= lo[1]) & (ok < lo[1] + width)).sum()),
                   "upsert_rows": len(first)}, f)


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    root = np.random.SeedSequence([seed, sum(map(ord, workload))])
    rng = np.random.Generator(np.random.PCG64(root))
    if workload == "queries":
        star_schema(rng, out)
        llm_tables(rng, out)
    elif workload == "ingest":
        ingest_stream(rng, out)
    elif workload == "maintain":
        maintain_inputs(rng, out)
    else:
        raise ValueError(f"unknown workload {workload}")
