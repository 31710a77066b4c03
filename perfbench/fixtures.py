"""Deterministic fixture tables for the benchmark.

Writes the ten parquet tables the engine's queries read (region, nation,
supplier, customer, part, orders, lineitem, events, documents, embeddings),
with the schemas and value domains FIXTURES.md documents, at a given scale
factor. The generator seed is fixed: a run's --seed changes the order and the
generated inputs of a workload, never which fixture rows exist.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# The stream replays events of this scale: 100,000 events of 1,500 users.
# At the query scale (sf0.001) the table has 15 users, and the per-user
# click-to-purchase join over a run's events would near a cross product.
STREAM_POOL_SF = 0.1
VOCAB = ("key agg row scan slow fast table value part hash batch window spark "
         "order data column join small line customer query big stream group "
         "sort filter merge the a vector index").split()
COLORS = "blue red green small large white black yellow".split()
NOUNS = "anvil ring widget bolt gear spring valve plate".split()


def _ts(base, micros):
    return pa.array(np.datetime64(base, "us") + micros.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(base, days):
    return _ts(base, days.astype(np.int64) * 86_400_000_000)


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    odays = rng.integers(0, 2404, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days("1995-01-01", odays),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    perm = rng.permutation(n_li)
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-01", odays[okey] + rng.integers(1, 122, n_li)),
    }
    out["lineitem"] = pa.table(li).take(pa.array(perm))
    span_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:  # planted near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(8, 81))]
        texts.append(" ".join(words))
    langs = np.array(["en"] * 6 + ["fr", "es", "zh", "de"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 10, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    cents = rng.normal(0, 1, (10, 64))
    vecs = cents[labels] + 0.8 * rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def generate(out_dir, sf):
    """Write every table as one single-row-group parquet file; idempotent."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    with open(done, "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat())


def generate_stream_pool(path):
    """Write the events table at STREAM_POOL_SF as the stream's event pool:
    a CSV of user_id, event_type and value in cents, one line per row in
    event_id order, which the generator reads with plain file I/O;
    idempotent."""
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ev = tables(STREAM_POOL_SF)["events"]
    cents = np.round(ev.column("value").to_numpy() * 100).astype(np.int64)
    lines = [f"{u},{t},{c}\n" for u, t, c in zip(
        ev.column("user_id").to_pylist(), ev.column("event_type").to_pylist(), cents)]
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, path)
