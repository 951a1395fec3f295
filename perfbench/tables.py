"""Seeded generator of the catalog workload's tables.

Writes the ten tables that `graft.SparkEntry.queries` read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the schema, row counts per
scale factor and value distributions of the repository's test data
(TESTDATA.md: sf0.001, sf0.01 and sf0.1, seed 42). Those tables live
outside a checkout and do not vary with a seed, so the benchmark cannot
use them; this generator reproduces their profile instead, as measured
on them column by column:

- row counts: customer 150k, supplier 10k, part 200k, orders 1.5M,
  lineitem 6M, events 1M per unit of scale factor; documents
  max(500, 50k x sf) and embeddings max(500, 20k x sf);
- keys dense from 0; every other column drawn independently and
  uniformly (so lineitem's (l_orderkey, l_linenumber) pairs repeat),
  except where noted below;
- p_retailprice = 900 + (p_partkey mod 1000) / 10;
- dates at day resolution: orders 1995-01-01..2001-08-01, shipments
  1995-01-02..2001-11-04;
- events: exponential gaps over 30 days from 2024-01-01, one user per
  ~67 events, exponential values of mean 50;
- documents: 10..99 words drawn from a 30-word vocabulary, 44% `en`;
  5% are another document's text plus the word `dup`;
- embeddings: random 64-dim unit vectors; labels 0..9 independent of
  them (the test data's nearest-neighbour cosines match random ones).

The same seed and scale factor give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
DAY_US = 86_400_000_000


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, first, last, n):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _uniform2(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def generate(seed, out_dir, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_li, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _uniform2(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _uniform2(rng, -999.99, 9999.99, n_supp)})
    part = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": part,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900 + (part % 1000) / 10.0})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _uniform2(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _uniform2(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})

    gaps = rng.exponential(30 * DAY_US / n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, round(n_events * 0.015)), n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    texts = [" ".join(_pick(rng, VOCAB, n)) for n in rng.integers(10, 100, n_docs)]
    for d in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[d] = texts[rng.integers(0, n_docs)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32))})
    return n_li
