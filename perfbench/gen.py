"""Seeded input generator for the benchmark workloads.

Every table mirrors the schema and value domains of the repo's TPC-H-ish
test tables (customer, orders, lineitem, events, documents, embeddings,
...), so the program's loaders and the DuckDB oracle SQL apply unchanged.
The same seed gives byte-identical files; `content_hash` proves it.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "shiny", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
US_PER_DAY = 86_400_000_000


def ts(days, base=DAY0):
    """Naive microsecond timestamps (the test tables' TIMESTAMP type)."""
    us = np.asarray(days, dtype=np.int64) * US_PER_DAY
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + epoch, type=pa.timestamp("us"))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def customers(rng, keys, updated_at=None):
    n = len(keys)
    cols = {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    }
    if updated_at is not None:
        cols["updated_at"] = updated_at
    return pa.table(cols)


def orders(rng, keys, n_cust, days):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUS, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": ts(days),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n)),
    })


def documents(rng, n):
    """Docs over a 30-word vocabulary; 5% are near-duplicates of an
    earlier doc (its text plus a `dup` marker word) and 0.2% exact
    copies, the duplicate structure of the test corpus."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, ids, dims=64):
    v = rng.standard_normal((len(ids), dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32()),
    })


def star_tables(rng, sf):
    """All ten test tables at scale factor `sf` (sf0.01 = 15k orders)."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_supp, n_part = max(int(10_000 * sf), 10), int(200_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = customers(rng, np.arange(n_cust))
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    t["orders"] = orders(rng, np.arange(n_ord), n_cust,
                         rng.integers(0, ORDER_DAYS + 1, n_ord))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": ts(rng.integers(1, ORDER_DAYS + 95, n_line))})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    epoch24 = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_us + epoch24, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    t["documents"] = documents(rng, n_doc)
    t["embeddings"] = embeddings(rng, np.arange(n_vec))
    return t


def gen_query_mix(rng, out, sf, rounds, families):
    for name, table in star_tables(rng, sf).items():
        write(table, f"{out}/tables/{name}.parquet")
    names = [q for qs in families.values() for q in qs]
    lines = [f"family\t{f}\t{','.join(qs)}" for f, qs in families.items()]
    for r in range(rounds):
        lines.append(f"round\t{r}\t{','.join(rng.permutation(names))}")
    write_plan(f"{out}/query_mix", lines)


def gen_medallion(rng, out, n_cust, n_ord, n_batches, wide, narrow):
    """Full load, then batches in the fixed pattern wide, narrow, narrow,
    with a replay of batch 2 (the first narrow one). Wide batches land
    `wide` new orders dated past every order so far; narrow ones land
    `narrow` new orders, as many late arrivals dated into old months
    (below the watermark, so the pipeline drops them) and `narrow`
    changed customers."""
    d = f"{out}/medallion"
    now0 = dt.datetime(2024, 1, 1)
    base_days = rng.integers(0, ORDER_DAYS + 1, n_ord)
    write(customers(rng, np.arange(n_cust), ts(np.full(n_cust, 0), dt.datetime(2020, 1, 1))),
          f"{d}/c_000.parquet")
    write(orders(rng, np.arange(n_ord), n_cust, base_days), f"{d}/o_000.parquet")
    lines = [f"full\t{now0}\tc_000.parquet\to_000.parquet"]
    next_key, last_day = n_ord, int(base_days.max())
    for b in range(1, n_batches + 1):
        now = now0 + dt.timedelta(days=b)
        kind = "wide" if b % 3 == 1 else "narrow"
        n_new = wide if kind == "wide" else narrow
        days = last_day + rng.integers(1, 3, n_new)
        last_day = int(days.max())
        o = orders(rng, np.arange(next_key, next_key + n_new), n_cust, days)
        next_key += n_new
        if kind == "narrow":
            late = orders(rng, np.arange(next_key, next_key + narrow), n_cust,
                          rng.integers(0, ORDER_DAYS // 2, narrow))
            next_key += narrow
            o = pa.concat_tables([o, late])
        changed = np.sort(rng.choice(n_cust, narrow, replace=False))
        c = customers(rng, changed, ts(np.zeros(len(changed)), now))
        write(c, f"{d}/c_{b:03d}.parquet")
        write(o, f"{d}/o_{b:03d}.parquet")
        lines.append(f"{kind}\t{now}\tc_{b:03d}.parquet\to_{b:03d}.parquet")
        if b == 2:
            lines.append(lines[-1].replace(kind, "replay", 1))
    write_plan(d, lines)


def write_plan(d, lines):
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/plan.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")


def content_hash(root):
    """sha256 over every generated file, in path order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
