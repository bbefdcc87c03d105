"""Seeded input generator for the four benchmark workloads.

Every table is written in the fixture schema the query registry and the
DuckDB oracles read (TESTDATA.md / FIXTURES.md), so both run on the
generated files unchanged. The same (workload, seed, size) always gives
byte-identical inputs; `generate` caches them under the build directory
and returns the directory plus the traffic dimensions it drew.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per workload at each size. "normal" is what a timed run measures;
# "tiny" only proves that every metric is produced (the smoke test).
SIZES = {
    "normal": {"events": 5000, "users": 200, "lineitem_ev": 4000,
               "stream_events": 300000, "stream_users": 64,
               "orders": 1500, "customers": 300, "suppliers": 60, "parts": 400,
               "documents": 400, "embeddings": 600},
    "tiny": {"events": 600, "users": 30, "lineitem_ev": 400,
             "stream_events": 60000, "stream_users": 16,
             "orders": 200, "customers": 50, "suppliers": 12, "parts": 60,
             "documents": 80, "embeddings": 120},
}

# Traffic dimensions (recorded in every result file).
KEY_SKEW = 1.1            # Zipf exponent of events.user_id
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.40, 0.25, 0.15, 0.12, 0.08]
BURST_SHARE = 0.85        # share of inter-arrival gaps drawn inside a burst
OUT_OF_ORDER = 0.10       # share of stream events appended out of ts order,
                          # within one append: never across micro-batches
PROBE_STREAM = 20000      # stream events of the streaming layer probe
DEGREE_EXP = 1.3          # Zipf exponent of customer and supplier degree
NEAR_DUP = 0.12           # share of documents that are edited copies
BOILERPLATE = 0.15        # share of documents carrying the shared paragraph
HOT_CELL = 0.35           # share of embeddings in the one hot cluster
EMB_DIM = 64
EMB_CLUSTERS = 10

WORKLOADS = ["event_ops", "event_stream", "graph_rounds", "corpus_dedup_ann"]
T0_US = 1704067200 * 1_000_000   # 2024-01-01T00:00:00Z
WORDS = ("data stream event window key value join sort merge batch query "
         "table row column spark scan group order line part customer "
         "supplier filter hash agg vector index token fast slow small big "
         "the a of to in on by for with from time state sink source graph "
         "rank edge node cell probe shard page text model train test").split()
BOILER = ("this page is part of a shared template all rights reserved "
          "subscribe to the newsletter for weekly updates and offers")


def zipf_index(rng, n, s, size):
    """Indices in [0, n) with P(i) proportional to 1 / (i + 1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def bursty_gaps_us(rng, n):
    """Inter-arrival gaps: mostly sub-second inside bursts, occasionally
    minutes between them. Every gap is at least 1 us, so ts is unique."""
    inside = rng.random(n) < BURST_SHARE
    gaps = np.where(inside, rng.exponential(400_000, n),
                    rng.exponential(600_000_000, n))
    return np.maximum(gaps.astype(np.int64), 1)


def events_table(rng, n, users):
    ts = T0_US + np.cumsum(bursty_gaps_us(rng, n))
    uid = zipf_index(rng, users, KEY_SKEW, n).astype(np.int64)
    et = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
    value = rng.integers(1, 50_000, n) / 100.0
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid),
        "event_type": pa.array([EVENT_TYPES[i] for i in et]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def trade_tables(rng, n_orders, n_cust, n_supp, n_parts, lines_per_order):
    """orders/lineitem/customer/supplier/part; order->customer and
    line->supplier/part degrees follow a power law (DEGREE_EXP)."""
    okey = np.arange(n_orders, dtype=np.int64)
    ocust = zipf_index(rng, n_cust, DEGREE_EXP, n_orders).astype(np.int64)
    odate = T0_US - rng.integers(0, 2000, n_orders) * 86_400_000_000
    orders = pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(ocust),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100.0),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    nl = rng.integers(1, lines_per_order + 1, n_orders)
    lok = np.repeat(okey, nl)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32)
    m = len(lok)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(zipf_index(rng, n_parts, DEGREE_EXP, m).astype(np.int64)),
        "l_suppkey": pa.array(zipf_index(rng, n_supp, DEGREE_EXP, m).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, m) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m)),
        "l_shipdate": pa.array(T0_US - rng.integers(0, 2500, m) * 86_400_000_000,
                               pa.timestamp("us")),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                             "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100.0),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_parts, dtype=np.int64)),
        "p_name": pa.array([f"{WORDS[i % len(WORDS)]} {WORDS[(7 * i) % len(WORDS)]}"
                            for i in range(n_parts)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_parts)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "SMALL", "LARGE"], n_parts)),
        "p_size": pa.array(rng.integers(1, 51, n_parts).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + np.arange(n_parts) / 10.0),
    })
    return {"orders": orders, "lineitem": lineitem, "customer": customer,
            "supplier": supplier, "part": part}


def documents_table(rng, n):
    """Zipf-worded documents; a NEAR_DUP share are lightly edited copies
    of an earlier document and a BOILERPLATE share end with one shared
    paragraph."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP:
            words = texts[rng.integers(0, i)].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            text = " ".join(words)
        else:
            k = int(rng.integers(30, 90))
            text = " ".join(WORDS[j] for j in zipf_index(rng, len(WORDS), 0.9, k))
            if rng.random() < BOILERPLATE:
                text = text + " " + BOILER
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n,
                                    p=[0.5, 0.15, 0.12, 0.12, 0.11])),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n):
    """Clustered unit-scale vectors; cluster 0 holds a HOT_CELL share."""
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    p = np.full(EMB_CLUSTERS, (1 - HOT_CELL) / (EMB_CLUSTERS - 1))
    p[0] = HOT_CELL
    label = rng.choice(EMB_CLUSTERS, size=n, p=p)
    v = centers[label] + rng.normal(0, 0.6, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def stream_events(rng, n, users):
    """Open-loop stream payload: (id, src, user_id) in append order.
    Source 1 carries a quarter of the events (the asof reference side
    and the second ziplatest/switch input). The JVM generator stamps
    each row with the time its tick was due; an OUT_OF_ORDER share of
    rows is swapped with the next row of the same tick, so they arrive
    after an event stamped later than them."""
    src = (rng.random(n) < 0.25).astype(np.int64)
    uid = zipf_index(rng, users, KEY_SKEW, n).astype(np.int64)
    swap = (rng.random(n) < OUT_OF_ORDER).astype(np.int64)
    return pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                     "src": pa.array(src), "user_id": pa.array(uid),
                     "swap": pa.array(swap)})


def dims(workload):
    common = {"seed_rng": "numpy PCG64"}
    return {
        "event_ops": {"key_skew_zipf": KEY_SKEW, "burst_share": BURST_SHARE,
                      "event_type_p": EVENT_TYPE_P},
        "event_stream": {"key_skew_zipf": KEY_SKEW, "out_of_order_share": OUT_OF_ORDER,
                         "out_of_order_scope": "within one 10 ms append"},
        "graph_rounds": {"degree_exponent_zipf": DEGREE_EXP},
        "corpus_dedup_ann": {"near_dup_share": NEAR_DUP, "boilerplate_share": BOILERPLATE,
                             "hot_cell_share": HOT_CELL, "emb_dim": EMB_DIM},
    }[workload] | common


def base_tables(rng):
    """Small copies of every fixture table. Each workload overrides the
    tables it measures; the rest exist so the oracle gate can register
    every fixture view and the host canary can scan `lineitem`; the
    traced run's checkpoint probe runs graph queries on the small trade
    graph and its streaming probe replays `stream`. `documents` and
    `embeddings` are always full size: the traced run measures the
    candidate-yield layer on them in every workload."""
    t = trade_tables(rng, 200, 50, 12, 60, 4)
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["events"] = events_table(rng, 200, 20)
    t["stream"] = stream_events(rng, PROBE_STREAM, 16)
    return t


def build_tables(workload, seed, size):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload}")
    z = SIZES[size]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    t = base_tables(rng)
    t["documents"] = documents_table(rng, z["documents"])
    t["embeddings"] = embeddings_table(rng, z["embeddings"])
    if workload == "event_ops":
        t["events"] = events_table(rng, z["events"], z["users"])
        t["lineitem"] = trade_tables(rng, z["lineitem_ev"] // 4, z["customers"],
                                     z["suppliers"], z["parts"], 7)["lineitem"]
    elif workload == "event_stream":
        t["stream"] = stream_events(rng, z["stream_events"], z["stream_users"])
    elif workload == "graph_rounds":
        t.update(trade_tables(rng, z["orders"], z["customers"], z["suppliers"],
                              z["parts"], 5))
    return t


def generate(root, workload, seed, size):
    """Write (or reuse) the workload's inputs; returns (dir, dims, rows)."""
    tag = hashlib.sha256(json.dumps(SIZES[size], sort_keys=True).encode()).hexdigest()[:8]
    d = os.path.join(root, f"{workload}-s{seed}-{size}-{tag}")
    meta = os.path.join(d, "_meta.json")
    if not os.path.exists(meta):
        tmp = d + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        rows = {}
        for name, tbl in build_tables(workload, seed, size).items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
            rows[name] = tbl.num_rows
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump({"dims": dims(workload), "rows": rows}, f)
        if os.path.exists(d):
            import shutil
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, d)
    with open(meta) as f:
        m = json.load(f)
    return d, m["dims"], m["rows"]
