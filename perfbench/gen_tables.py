"""Seeded generator for the parquet tables the operator keys and the stream
gates read: customer, orders, lineitem, events, documents and embeddings, one parquet
file each, with the column names and physical types of the program's
test-data tables (``ts``/``o_orderdate`` as naive microsecond timestamps,
``embedding`` as list<float>, ``label``/``c_nationkey`` as int32).

The same seed and size always give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DIM = 64
N_LABELS = 10


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    })


def orders(rng, n, n_cust):
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(start + days, type=pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)]),
    })


def lineitems(rng, n, n_orders):
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 200, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(start + days, type=pa.timestamp("us")),
    })


def events(rng, n, n_users, n_days):
    start = np.datetime64("2024-01-01", "us")
    span_us = n_days * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Word-bag documents over a small vocabulary; 5% are an earlier document
    with " dup" appended (near duplicates), a few are exact copies."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    """Unit vectors scattered around N_LABELS random centroids."""
    cent = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    v = cent[label] * 0.35 + rng.normal(0.0, 1.0, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(out_dir, seed, size):
    """Write the six tables to ``out_dir``. ``size`` maps table → rows (keys:
    customer, orders, lineitem, events, documents, embeddings, event_days)."""
    rng = np.random.default_rng(seed)
    n_cust = size["customer"]
    _write(customers(rng, n_cust), f"{out_dir}/customer.parquet")
    _write(orders(rng, size["orders"], n_cust), f"{out_dir}/orders.parquet")
    _write(lineitems(rng, size["lineitem"], size["orders"]), f"{out_dir}/lineitem.parquet")
    _write(events(rng, size["events"], max(n_cust // 10, 1), size["event_days"]),
           f"{out_dir}/events.parquet")
    _write(documents(rng, size["documents"]), f"{out_dir}/documents.parquet")
    _write(embeddings(rng, size["embeddings"]), f"{out_dir}/embeddings.parquet")


VARIANT_ID_OFFSET = 1_000_000


def stage_stream(data_dir, n_files, n_gate):
    """Stage the stream inputs under ``data_dir/stream``: the events in ``ts``
    order split into ``n_files`` parquet files (``ts`` as a UTC-adjusted
    TIMESTAMP), and the re-crawl variants of every document (first 5 tokens
    dropped, id + VARIANT_ID_OFFSET, as the batch cross-dedup builds them)
    split into ``n_gate`` files by id."""
    ev = pq.read_table(f"{data_dir}/events.parquet").sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
    for d in ("events", "variants"):
        os.makedirs(f"{data_dir}/stream/{d}", exist_ok=True)
    bounds = np.linspace(0, ev.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{data_dir}/stream/events/part-{i:05d}.parquet")
    docs = pq.read_table(f"{data_dir}/documents.parquet").to_pydict()
    ids = np.array(docs["doc_id"], dtype=np.int64) + VARIANT_ID_OFFSET
    texts = [" ".join(t.strip().split()[5:]) for t in docs["text"]]
    for g in range(n_gate):
        sel = [i for i in range(len(ids)) if ids[i] % n_gate == g]
        _write(pa.table({"doc_id": pa.array(ids[sel]), "text": pa.array([texts[i] for i in sel])}),
               f"{data_dir}/stream/variants/part-{g:05d}.parquet")
