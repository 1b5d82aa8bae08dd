"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (seed, size arguments): the same seed
gives byte-identical inputs. Tables follow the program's test-data layout
(one `<name>.parquet` per table, TPC-H-like star schema plus `events`,
`documents` and `embeddings`) with the value domains the operators
expect, so the DuckDB oracle and the Spark engine see the same files.

Timestamps are written without a time zone (parquet
isAdjustedToUTC=false), the encoding both engines read as a plain
local timestamp.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query filter stream group vector").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH = dt.datetime(1970, 1, 1)


def _write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(days, secs=None):
    """Timestamps (us, no zone) from day offsets since 1970 plus seconds."""
    us = days.astype(np.int64) * 86_400_000_000
    if secs is not None:
        us = us + (secs * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _day(d):
    return (d - EPOCH).days


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n, dup_share=0.15):
    """`n` documents; `dup_share` of them are exact or one-word-perturbed
    copies of earlier ones, so the dedup kernels have work to find."""
    texts = []
    for i in range(n):
        if texts and rng.random() < dup_share:
            words = texts[rng.integers(len(texts))].split()
            if rng.random() < 0.5:
                words[rng.integers(len(words))] = WORDS[rng.integers(len(WORDS))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10, dup_share=0.05):
    """Unit vectors scattered around one centroid per label, with a share
    of exact duplicates (the near-dup kernels' hard case)."""
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    for i in range(1, n):
        if rng.random() < dup_share:
            j = int(rng.integers(i))
            vec[i], label[i] = vec[j], label[j]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def corpus(out_dir, seed, sf, orders_sf):
    """The analyst corpus at scale factor `sf` (TPC-H row ratios), except
    `orders`, which has the row count of scale factor `orders_sf` over
    the same date span, so its per-day density is that scale's."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * orders_sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           out_dir, "region")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           out_dir, "nation")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust),
    }), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), out_dir, "supplier")
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                              "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), out_dir, "part")
    d0, d1 = _day(dt.datetime(1995, 1, 1)), _day(dt.datetime(2001, 8, 1))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), out_dir, "orders")
    flags = rng.integers(0, 6, n_line)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _ts(rng.integers(d0 + 1, d1 + 95, n_line)),
    }), out_dir, "lineitem")
    e0 = _day(dt.datetime(2024, 1, 1))
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.full(n_ev, e0), secs),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out_dir, "events")
    _write(documents(rng, n_doc), out_dir, "documents")
    _write(embeddings(rng, n_doc), out_dir, "embeddings")


def etl(out_dir, seed, strategies, backfill, increments, orders_per_day, lines_per_order):
    """Chain observations, token prices and daily order facts for the
    daily ETL replay: `strategies` strategies over `backfill` +
    `increments` days starting 2023-01-01. About one day in twelve of
    each chain series and each price series is missing (never two in a
    row), so the load step's interpolation does real work; the first and
    last day are always observed. The facts of the backfill days come as
    one bulk file per table, those of each later day as one file per
    table and day."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = _day(dt.datetime(2023, 1, 1))
    days = backfill + increments
    day = np.arange(days)

    def observed():
        keep = rng.random(days) >= 1 / 12
        keep[0] = keep[-1] = True
        keep[1:] |= ~keep[:-1]  # no two missing days in a row
        return keep

    chain, asset = [], []
    aave_px = np.round(80 * np.exp(np.cumsum(rng.normal(0, 0.03, days))), 4)
    aave_keep = observed()
    for s in range(strategies):
        keep = observed()
        rate = np.clip(0.02 + np.cumsum(rng.normal(0, 0.0005, days)), 0.001, None)
        supply = np.round(1e6 * (1 + s) * np.exp(np.cumsum(rng.normal(0, 0.01, days))), 2)
        chain.append(pa.table({
            "strategy": pa.array(np.full(keep.sum(), s), pa.int32()),
            "day": pa.array(day[keep], pa.int32()),
            "block": pa.array(10_000_000 + day[keep] * 7000, pa.int64()),
            "liquidity_rate": rate[keep] * 1e27,
            "liquidity_index": np.round(1 + 0.0001 * day[keep] * (1 + s / 10), 8),
            "emission_per_second": np.full(keep.sum(), 1e15 * (1 + s % 3)),
            "atoken_supply": supply[keep],
        }))
        pkeep = observed()
        px = np.round(100 * (1 + s) * np.exp(np.cumsum(rng.normal(0, 0.02, days))), 4)
        asset.append(pa.table({
            "strategy": pa.array(np.full(pkeep.sum(), s), pa.int32()),
            "day": pa.array(day[pkeep], pa.int32()),
            "price": px[pkeep],
        }))
    pq.write_table(pa.concat_tables(chain), os.path.join(out_dir, "chain.parquet"))
    pq.write_table(pa.concat_tables(asset), os.path.join(out_dir, "asset_price.parquet"))
    pq.write_table(pa.table({"day": pa.array(day[aave_keep], pa.int32()),
                             "price": aave_px[aave_keep]}),
                   os.path.join(out_dir, "aave_price.parquet"))

    def facts(d0, d1):
        """Orders and their line items of days [d0, d1)."""
        n, m = (d1 - d0) * orders_per_day, (d1 - d0) * orders_per_day * lines_per_order
        key0 = d0 * orders_per_day
        orders = pa.table({
            "o_orderkey": pa.array(np.arange(key0, key0 + n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, strategies, n), pa.int64()),
            "o_orderstatus": rng.choice(["P", "O", "F"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts(start + np.repeat(np.arange(d0, d1), orders_per_day)),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n),
        })
        lines = pa.table({
            "l_orderkey": pa.array(np.repeat(np.arange(key0, key0 + n), lines_per_order), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 100, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10, m), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1), n), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["O", "F"], m),
            "l_shipdate": _ts(start + np.repeat(np.arange(d0, d1), orders_per_day * lines_per_order)),
        })
        return orders, lines

    # the datamart's facts: the backfill's history in bulk, then one file
    # per day, appended as each day lands
    for tag, d0, d1 in [("backfill", 0, backfill)] + [
            (f"day{d:04d}", d, d + 1) for d in range(backfill, days)]:
        orders, lines = facts(d0, d1)
        pq.write_table(orders, os.path.join(out_dir, f"orders_{tag}.parquet"))
        pq.write_table(lines, os.path.join(out_dir, f"lineitem_{tag}.parquet"))
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(strategies), pa.int64()),
        "c_name": [f"strategy-{s}" for s in range(strategies)],
        "c_nationkey": pa.array(np.zeros(strategies), pa.int32()),
        "c_acctbal": np.zeros(strategies),
        "c_mktsegment": ["DEFI"] * strategies,
    }), os.path.join(out_dir, "customer.parquet"))
