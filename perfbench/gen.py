"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value distributions of the project's reference test data, at a
chosen scale factor.  The same (scale, seed) always writes the same bytes.

`pipeline` writes the raw input of the daily graph workload instead: one
lineitem parquet file per ship day, split into a backfill set (`raw/`) and a
held-back set (`incoming/`) whose arrival order is in `manifest.json`.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH = datetime.date(1970, 1, 1)


def _us(d):
    return (d - EPOCH).days * DAY_US


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def lineitem_table(rng, n, n_orders, n_parts, n_supp, day_lo, day_hi):
    """`day_lo`/`day_hi`: inclusive range of ship days as day numbers."""
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(rng.integers(day_lo, day_hi + 1, n) * DAY_US),
    })


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # 5% near-duplicates: another document's text with a marker token appended
    dup_ids = rng.choice(n, size=n // 20, replace=False)
    for i in dup_ids:
        j = int(rng.integers(0, n))
        texts[i] = texts[j if j != i else (i + 1) % n] + " dup"
    doc_id = np.arange(n)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in doc_id]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(out, sf, seed):
    """The ten registry tables at scale factor `sf` (0.01 ~ 60k lineitem rows)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    o_lo, o_hi = (datetime.date(1995, 1, 1) - EPOCH).days, (datetime.date(2001, 8, 1) - EPOCH).days

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(pa.table({
        "p_partkey": np.arange(n_part),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(o_lo, o_hi + 1, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
    _write(lineitem_table(rng, n_li, n_ord, n_part, n_supp, o_lo + 1, o_lo + 2499),
           f"{out}/lineitem.parquet")
    ev_lo = _us(datetime.date(2024, 1, 1))
    ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": np.arange(n_ev),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out}/events.parquet")
    _write(_documents(rng, max(500, int(50_000 * sf))), f"{out}/documents.parquet")
    _write(_embeddings(rng, max(500, int(20_000 * sf))), f"{out}/embeddings.parquet")


def pipeline(out, seed, history_days, held_back, late_days, rows_per_day):
    """Daily raw lineitem files for the graph workload.

    The seed picks the history window, which days of it arrive late, the
    arrival order of every held-back day, and the row order in each file.
    """
    rng = np.random.default_rng([seed, 7])
    first = (datetime.date(1995, 1, 2) - EPOCH).days + int(rng.integers(0, 1500))
    window = list(range(first, first + history_days))
    late = [int(d) for d in rng.choice(window[1:], size=late_days, replace=False)]
    future = list(range(first + history_days, first + history_days + held_back - late_days))
    arrivals = [int(d) for d in rng.permutation(late + future)]
    os.makedirs(f"{out}/raw", exist_ok=True)
    os.makedirs(f"{out}/incoming", exist_ok=True)
    backfill = []
    for day in window + future:
        n = int(rng.poisson(rows_per_day))
        t = lineitem_table(rng, n, 150_000, 20_000, 1_000, day, day)
        t = t.append_column("day", pa.array(np.full(n, day, dtype=np.int32)).cast(pa.date32()))
        t = t.take(pa.array(rng.permutation(n)))
        iso = (EPOCH + datetime.timedelta(days=day)).isoformat()
        held = day in arrivals
        _write(t, f"{out}/{'incoming' if held else 'raw'}/{iso}.parquet")
        if not held:
            backfill.append(iso)
    manifest = {"backfill": sorted(backfill),
                "arrivals": [(EPOCH + datetime.timedelta(days=d)).isoformat() for d in arrivals]}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest
