"""Deterministic sf0.1-shaped input tables for the benchmark.

The tables mirror the shape of the engine's test catalog (TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``): the same
columns, types, row counts and value ranges, drawn from a fixed seed so
every checkout builds byte-identical inputs.  ``replicate`` writes the
N-times copy the ``etl-x8`` workload reads, shifting ids per copy so
join relationships hold within each copy.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
STRIDE = 10_000_000  # id shift between replicated copies
SCALES = {  # row counts of the test catalog at each scale factor
    "sf0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                  lineitem=600_000, events=100_000, users=1_500, documents=5_000,
                  embeddings=2_000),
    "sf0.01": dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                   lineitem=60_000, events=10_000, users=150, documents=500,
                   embeddings=500),
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REPLICATED = {  # table -> id columns shifted per copy
    "events": ("event_id", "user_id"),
    "orders": ("o_orderkey", "o_custkey"),
    "documents": ("doc_id",),
}


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def _days(rng, n: int, start: str, span_days: int) -> pa.Array:
    return _ts(start, rng.randint(0, span_days, n).astype("float64") * 86400)


def _tables(rng: np.random.RandomState, scale: str) -> dict[str, pa.Table]:
    n = SCALES[scale]
    N_CUSTOMER, N_SUPPLIER, N_PART = n["customer"], n["supplier"], n["part"]
    N_ORDERS, N_LINEITEM, N_EVENTS = n["orders"], n["lineitem"], n["events"]
    N_USERS, N_DOCUMENTS, N_EMBEDDINGS = n["users"], n["documents"], n["embeddings"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.randint(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": segments[rng.randint(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.randint(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    ptype = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.randint(0, 8, N_PART)], " "),
                              noun[rng.randint(0, 8, N_PART)]),
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, N_PART)],
        "p_type": ptype[rng.randint(0, 6, N_PART)],
        "p_size": pa.array(rng.randint(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.randint(0, N_CUSTOMER, N_ORDERS).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.randint(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", 2404),
        "o_orderpriority": prio[rng.randint(0, 5, N_ORDERS)],
    })
    qty = rng.randint(1, 51, N_LINEITEM).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.randint(0, N_ORDERS, N_LINEITEM).astype("int64"),
        "l_partkey": rng.randint(0, N_PART, N_LINEITEM).astype("int64"),
        "l_suppkey": rng.randint(0, N_SUPPLIER, N_LINEITEM).astype("int64"),
        "l_linenumber": pa.array(rng.randint(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": np.round(rng.randint(0, 11, N_LINEITEM) / 100, 2),
        "l_tax": np.round(rng.randint(0, 9, N_LINEITEM) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.randint(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.randint(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", 2498),
    })
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.randint(0, N_USERS, N_EVENTS).astype("int64"),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.randint(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, N_EVENTS)],
    })
    words = np.array(WORDS)
    texts = [" ".join(words[rng.randint(0, len(words), n)])
             for n in rng.randint(10, 101, N_DOCUMENTS)]
    for i in range(0, N_DOCUMENTS, 20):  # near-duplicate pairs for dedup paths
        texts[i + 1] = texts[i] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype="int64"),
        "text": texts,
        "lang": langs[rng.randint(0, len(langs), N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    labels = rng.randint(0, 10, N_EMBEDDINGS)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (N_EMBEDDINGS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)  # a half-written table is never picked up


def generate(out_dir: str, scale: str) -> None:
    """Write every table of ``scale`` once; later calls find them and
    return."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.RandomState(DATA_SEED), scale).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()


def replicate(src_dir: str, out_dir: str, n: int) -> None:
    """``n`` id-shifted copies of the replicated tables of ``src_dir``."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, id_cols in REPLICATED.items():
        base = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        copies = []
        for k in range(n):
            cols = {
                c: pa.array(base[c].to_numpy() + k * STRIDE) if c in id_cols else base[c]
                for c in base.column_names
            }
            copies.append(pa.table(cols))
        _write(pa.concat_tables(copies), os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_DONE"), "w").close()
