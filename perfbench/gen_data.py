"""Input generators for the benchmark.

`tables` writes the ten registry tables (the TPC-H-ish star schema plus
`events`, `documents` and `embeddings`) as one parquet file each, with
the column names, types and value domains the registry queries read.
The tables come from a fixed data seed: registry workloads vary only
the order of operations with the run's seed.

`payloads` writes the reference pipeline's input for `etl_snapshot`:
search-response JSON payloads, one per line, some of them corrupt, and
an update batch. Values, corrupt positions and updates come from the
run's seed; the sizes are fixed. It returns the expected outcomes the
output check compares against.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "shiny", "old"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _ts(rng, lo, hi, n, whole_days=True):
    """n naive microsecond timestamps uniform in [lo, hi], at midnight
    unless whole_days is False."""
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    if whole_days:
        day = 86_400_000_000
        v = rng.integers(lo_us // day, hi_us // day + 1, n) * day
    else:
        v = rng.integers(lo_us, hi_us + 1, n)
    return pa.array(v, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf):
    """Write the registry tables at scale factor `sf` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(out_dir, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", n_line)})
    ev_ts = np.sort(_ts(rng, "2024-01-01", "2024-01-30 23:59:59", n_ev,
                        whole_days=False).to_numpy(zero_copy_only=False))
    _write(out_dir, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_user, n_ev)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})

    # documents: random word strings; one in twenty is a near-duplicate
    # of an earlier document with a trailing marker word
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": i64(np.arange(n_doc)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})


def payloads(out_dir, seed, n_payloads, per_payload, n_corrupt, n_updates):
    """Write payloads.jsonl and updates.jsonl; return expected outcomes.

    Corrupt payloads are either malformed JSON or objects without a
    `results` field; both are what `Ingest.quarantine` keeps. One
    payload in fifty has an empty `results` array, which contributes
    no rows and is not corrupt.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    corrupt = set(rng.choice(n_payloads, n_corrupt, replace=False).tolist())
    full = [i for i in range(n_payloads) if i not in corrupt and i % 50 != 7]
    n = len(full) * per_payload
    words = rng.integers(0, len(VOCAB), (n, 4))
    price = np.round(rng.uniform(100.0, 90000.0, n), 2)
    qty = rng.integers(0, 500, n)

    def product(k, p, q):
        title = " ".join(VOCAB[w] for w in words[k])
        return (f'{{"id": "MLA{k}", "site_id": "MLA", "title": "{title}", '
                f'"price": {p!r}, "sold_quantity": {q}, '
                f'"thumbnail": "http://img.example/{k}.jpg", '
                f'"condition": "new", "currency_id": "ARS"}}')

    def payload(items):
        return (f'{{"site_id": "MLA", "paging": {{"total": {len(items)}}}, '
                f'"results": [{", ".join(items)}]}}\n')

    with open(os.path.join(out_dir, "payloads.jsonl"), "w") as f:
        k = 0
        for i in range(n_payloads):
            if i in corrupt:
                f.write('{"results": [{"id": "MLA-broken"\n' if i % 2 else
                        '{"error": "rate limited", "status": 429}\n')
            elif i % 50 == 7:
                f.write(payload([]))
            else:
                f.write(payload([product(j, float(price[j]), int(qty[j]))
                                 for j in range(k, k + per_payload)]))
                k += per_payload
    upd = np.sort(rng.choice(n, n_updates, replace=False))
    new_price = np.round(rng.uniform(100.0, 90000.0, n_updates), 2)
    new_qty = rng.integers(500, 1000, n_updates)
    with open(os.path.join(out_dir, "updates.jsonl"), "w") as f:
        for s in range(0, n_updates, per_payload):
            f.write(payload([product(int(upd[j]), float(new_price[j]), int(new_qty[j]))
                             for j in range(s, min(s + per_payload, n_updates))]))
    revenue = np.sort(price * qty)
    # the non-empty threshold keeps the top fiftieth of products by
    # revenue; the forced-empty threshold is above every product's revenue
    threshold = float(revenue[int(n * 0.98)])
    return {
        "valid_products": n,
        "corrupt_payloads": len(corrupt),
        "threshold": threshold,
        "report_rows": int((revenue >= threshold).sum()),
        "empty_threshold": float(revenue[-1]) * 2 + 1.0,
        "updates": {f"MLA{int(u)}": [float(p), int(q)]
                    for u, p, q in zip(upd, new_price, new_qty)},
    }
