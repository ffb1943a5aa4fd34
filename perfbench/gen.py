"""Seeded input generator for the benchmark workloads.

Pure numpy + pyarrow: no Spark job runs here, so generation time is
small and steady and never competes with the engine being measured.
The tables follow the schemas and value ranges of the sf0.1 test
fixture (TESTDATA.md): the same column names and physical types, the
same dimension tables (5 regions, 25 nations, 1,000 suppliers) and
fact values over the same ranges, synthesized from the seed instead of
copied, so the benchmark reads nothing outside its own working
directory.

Facts are written as directories of ``FACT_PARTS`` parquet files, the
layout ``load_table`` scans in parallel without a rebalance shuffle.
Every writer returns ``{table: {"rows": n, "bytes": b}}`` for the run
record.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FACT_PARTS = 4
US_PER_DAY = 86_400 * 1_000_000
EVENTS_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)
ORDERS_D0 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDERS_DAYS = 2404          # 1995-01-01 .. 2001-08-01, as in sf0.1
SHIP_D0 = np.datetime64("1992-01-01", "us").astype(np.int64)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = ("a the data spark table query row column key value scan sort "
         "hash join group agg filter window stream batch merge order "
         "part line customer vector fast slow small big index shard "
         "page cache commit snapshot lake file").split()


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    return pc.take(pa.array(values), pa.array(idx, pa.int32()))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _write_parts(make, n: int, path: str, pool) -> dict:
    """Write ``make(part, lo, hi)`` for FACT_PARTS contiguous row ranges,
    one pool task per part file."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n, FACT_PARTS + 1).astype(np.int64)
    jobs = [pool.submit(lambda i: _write(
        make(i, int(bounds[i]), int(bounds[i + 1])),
        os.path.join(path, f"part-{i:05d}.parquet")), i)
        for i in range(FACT_PARTS)]
    stats = [j.result() for j in jobs]
    return {"rows": sum(s["rows"] for s in stats),
            "bytes": sum(s["bytes"] for s in stats)}


def write_dims(rng: np.random.Generator, out: str) -> dict:
    stats = {}
    stats["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}), f"{out}/region.parquet")
    stats["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    stats["supplier"] = _write(pa.table({
        "s_suppkey": pa.array(np.arange(1000), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1000)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 1000), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, 1000)),
    }), f"{out}/supplier.parquet")
    return stats


def orders_table(rng: np.random.Generator, lo: int, hi: int) -> pa.Table:
    n = hi - lo
    days = rng.integers(0, ORDERS_DAYS, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(lo, hi), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": _strings(["O", "F", "P"], rng.integers(0, 3, n)),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n)),
        "o_orderdate": _ts(ORDERS_D0 + days * US_PER_DAY),
        "o_orderpriority": _strings(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            rng.integers(0, 5, n)),
    })


def _lineitem_table(rng: np.random.Generator, n: int,
                    n_orders: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _strings(["N", "A", "R"], rng.integers(0, 3, n)),
        "l_linestatus": _strings(["O", "F"], rng.integers(0, 2, n)),
        "l_shipdate": _ts(SHIP_D0 + rng.integers(0, 3800, n) * US_PER_DAY),
    })


def _events_table(rng: np.random.Generator, part: int, lo: int,
                  hi: int) -> pa.Table:
    """Events of one part: part ``i`` covers the i-th slice of the
    30-day window, timestamps ascending with ``event_id``."""
    n = hi - lo
    span = 30 * US_PER_DAY // FACT_PARTS
    ts = EVENTS_T0 + part * span + np.sort(rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(lo, hi), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": _strings([f'{{"k": {k}}}' for k in range(100)],
                          rng.integers(0, 100, n)),
    })


def write_reports_input(seed: int, out: str, n_events: int,
                        n_orders: int, n_lineitem: int) -> dict:
    """The report facts (events, orders, lineitem) plus the dims the
    royalties join reads. Each part file has its own random stream, so
    the parts are written concurrently and still depend only on the
    seed."""
    os.makedirs(out, exist_ok=True)
    stats = write_dims(np.random.default_rng([seed, 1]), out)

    def rng(table: int, part: int) -> np.random.Generator:
        return np.random.default_rng([seed, 1, table, part])

    with ThreadPoolExecutor(FACT_PARTS) as pool:
        stats["events"] = _write_parts(
            lambda i, lo, hi: _events_table(rng(0, i), i, lo, hi),
            n_events, f"{out}/events.parquet", pool)
        stats["orders"] = _write_parts(
            lambda i, lo, hi: orders_table(rng(1, i), lo, hi),
            n_orders, f"{out}/orders.parquet", pool)
        stats["lineitem"] = _write_parts(
            lambda i, lo, hi: _lineitem_table(rng(2, i), hi - lo, n_orders),
            n_lineitem, f"{out}/lineitem.parquet", pool)
    return stats


def cdc_changes(rng: np.random.Generator, n_keys: int, next_key: int,
                live: np.ndarray, n_new: int) -> pa.Table:
    """One upsert batch: ``n_keys - n_new`` updates of live keys plus
    ``n_new`` inserts of fresh keys starting at ``next_key``."""
    upd = rng.choice(live, n_keys - n_new, replace=False)
    keys = np.concatenate([upd, np.arange(next_key, next_key + n_new)])
    t = orders_table(rng, 0, n_keys)
    return t.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))


def corpus(seed: int, n_base: int, replicas: int) -> pa.Table:
    """Near-duplicate corpus: ``n_base`` random documents over a small
    vocabulary, each followed by ``replicas - 1`` copies with about one
    token in eight replaced — clusters of near-duplicates the MinHash
    index must find. Rows are shuffled so every landed batch mixes
    originals with replicas of documents landed earlier and later."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for _ in range(n_base):
        toks = rng.integers(0, len(VOCAB), int(rng.integers(12, 60)))
        for r in range(replicas):
            t = toks.copy()
            if r:
                hit = rng.random(len(t)) < 0.125
                t[hit] = rng.integers(0, len(VOCAB), int(hit.sum()))
            texts.append(" ".join(VOCAB[i] for i in t))
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": pa.array([texts[i] for i in order]),
    })
