"""Seeded input generator for the graft benchmark.

Writes the ten input tables graft's gates read (`<name>.parquet` in one
directory) with the schemas, physical types and value domains of the
repo's synthetic test corpus:

- TPC-H-ish star schema: region, nation, customer, supplier, part,
  orders, lineitem (1-13 lines per order, dates 1995-2001);
- `events`: a month of 2024 click-stream rows, `ts` as
  timestamp[us] without time zone, ordered by `event_id`;
- `documents`: texts over a 31-word vocabulary with a ~5% share of
  near duplicates (an earlier text plus " dup");
- `embeddings`: unit-norm 64-dim float vectors with labels 0-9.

The same (seed, sf) always yields the same tables; another seed
keeps every schema and domain but changes row content and order.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.14, 0.13, 0.12, 0.11]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

DAY_US = 86_400_000_000
DATE_LO = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499           # 1995-01-02 .. 2001-11-04
EVENTS_LO = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENTS_SPAN_US = 30 * DAY_US


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """Return {name: pyarrow.Table} for one seed and scale factor."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    ok = rng.permutation(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(DATE_LO + rng.integers(0, ORDER_DAYS + 1, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = np.clip(rng.poisson(3.0, n_ord) + 1, 1, 13)
    lok = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines])
    n_li = len(lok)
    order = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = rng.uniform(900.0, 2100.0, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[order], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(DATE_LO + rng.integers(1, SHIP_DAYS + 1, n_li) * DAY_US)})
    ev_ts = np.sort(EVENTS_LO + rng.integers(0, EVENTS_SPAN_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.gamma(1.2, 40.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = []
    n_dup = int(round(n_docs * NEAR_DUP_SHARE))
    dup_at = set(rng.choice(np.arange(n_docs // 10, n_docs), n_dup, replace=False).tolist())
    for i in range(n_docs):
        if i in dup_at:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_emb)
    vec = centers[labels] * 0.35 + rng.normal(0, 1, (n_emb, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def describe(tabs):
    """Row counts, document duplicate share and user_id skew."""
    docs = tabs["documents"].column("text").to_pylist()
    ids = tabs["events"].column("user_id").to_numpy()
    per_user = np.bincount(ids)
    per_user = per_user[per_user > 0]
    return {
        "rows": {k: v.num_rows for k, v in sorted(tabs.items())},
        "doc_near_dup_share": round(sum(d.endswith(" dup") for d in docs) / len(docs), 4),
        "doc_exact_dup_share": round(1 - len(set(docs)) / len(docs), 4),
        "user_id_skew_max_over_mean": round(float(per_user.max() / per_user.mean()), 4),
    }


def write(out_dir, seed, sf):
    """Write every table under out_dir; return describe() of them."""
    os.makedirs(out_dir, exist_ok=True)
    tabs = tables(seed, sf)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return describe(tabs)
