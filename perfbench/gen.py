"""Seeded generator for the benchmark's input tables.

Writes the ten synthetic tables graft reads (events, customer, orders,
lineitem, part, supplier, nation, region, documents, embeddings) with the
schemas and value ranges of graft's sf0.1 test data, so every
registry row and the reference DAG run on them unchanged.  The same seed
always gives byte-identical parquet files; `digest` hashes them.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
FEED_START = dt.datetime(2024, 1, 1)
FEED_DAYS = 30


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, scale: float = 1.0) -> dict:
    """The sf0.1-shaped tables; `scale` multiplies the row counts."""
    rng = np.random.default_rng(seed)
    n = lambda k: max(1, int(round(k * scale)))
    n_cust, n_users, n_events = n(15000), n(1500), n(100000)
    n_orders, n_items, n_parts, n_supp = n(150000), n(600000), n(20000), n(1000)
    n_docs, n_vecs = n(5000), n(2000)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "hot", "blue", "old", "cold", "red"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_parts)], " "),
                              noun[rng.integers(0, 7, n_parts)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_parts).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_parts)],
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_parts) % 1000) * 0.1, 2)})
    day_us = 86_400 * 1_000_000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_orders) * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)]})
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items, dtype=np.int64),
        "l_partkey": rng.integers(0, n_parts, n_items, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_items, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
        "l_discount": np.round(rng.integers(0, 11, n_items) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_items) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_items)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_items) * day_us)})
    ts_off = np.sort(rng.integers(0, FEED_DAYS * day_us, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(FEED_START, ts_off),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)],
        "value": np.round(np.minimum(rng.gamma(2.0, 60.0, n_events), 560.0), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}")})
    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # about one document in twenty is a near-duplicate of another one
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def deliveries(events: pa.Table, out_dir: str, seed: int, redeliver: float = 0.05) -> None:
    """Lays the feed out as daily deliveries for the incremental replay:
    `<out_dir>/deliveries/day=NN/yyyy=2024/mm=MM/dd=DD/*.parquet` holds
    the day's events and, under their own days' paths, a seeded share of
    re-delivered rows from the three days before it."""
    rng = np.random.default_rng(seed + 7919)
    us = events["ts"].cast(pa.int64()).to_numpy()
    epoch = int((FEED_START - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    day = (us - epoch) // (86_400 * 1_000_000) + 1
    for d in range(1, FEED_DAYS + 1):
        sel = [(d, np.flatnonzero(day == d), "part")]
        earlier = np.flatnonzero((day < d) & (day >= d - 3))
        if len(earlier):
            k = int(len(sel[0][1]) * redeliver)
            pick = np.sort(rng.choice(earlier, size=min(k, len(earlier)), replace=False))
            for od in np.unique(day[pick]):
                sel.append((int(od), pick[day[pick] == od], f"redelivered-{d:02d}"))
        for od, idx, stem in sel:
            date = FEED_START + dt.timedelta(days=od - 1)
            path = os.path.join(out_dir, "deliveries", f"day={d:02d}", f"yyyy={date:%Y}",
                                f"mm={date:%m}", f"dd={date:%d}")
            os.makedirs(path, exist_ok=True)
            pq.write_table(events.take(idx), os.path.join(path, f"{stem}.parquet"))


def write(tables: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return digest(out_dir)


def digest(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        p = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(p):
            h.update(name.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def generate(out_dir: str, seed: int, scale: float = 1.0, only=None,
             with_deliveries: bool = False) -> str:
    """Writes the tables under `out_dir`, optionally only those named in
    `only`, and the daily deliveries; returns the digest of the tables."""
    tables = base_tables(seed, scale)
    if only:
        tables = {k: v for k, v in tables.items() if k in only}
    if with_deliveries:
        deliveries(tables["events"], out_dir, seed)
    return write(tables, out_dir)
