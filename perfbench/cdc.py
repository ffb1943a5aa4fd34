"""The CDC half of ``cdc_dedup``: a snapshot table kept current under a
CDC trickle, with reads beside the writes.

The table starts as a generated sf0.1-sized ``orders`` (150 k rows,
key ``o_orderkey``). One cycle, in order:

    upsert, read, cdc, read, delete, read, compact (+ expire), read

``upsert`` is ``snapshot_upsert_keys`` and ``cdc`` is
``snapshot_apply_cdc_mor`` (merge-on-read; 1,500 change rows each, 500 of
them new keys, and the cdc batches also carry 100 'D' changes);
``delete`` is ``snapshot_delete_keys`` of as many live keys as the
cycle added (900), so every cycle ends at the row count it started
from. ``read`` is one
``snapshot_read`` followed by one action computing a key-range aggregate
and a full-table aggregate. ``compact`` is ``snapshot_compact`` then
``snapshot_expire``, which resets the file layout, so every cycle sees
the same table states.

A pure-Python dict model applies the same change stream: every read
must equal the model at that point, and the compacted table must equal
the model at the end. An untimed warmup cycle runs every op kind once
first.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import dir_stats

N_ROWS = 150_000
BATCH = 1_500
NEW_PER_BATCH = 500
CDC_DELETES = 100
RANGE_WIDTH = 4_000
KEY = "o_orderkey"
SCHEDULE = ("upsert", "read", "cdc", "read", "delete", "read", "compact",
            "read")
# warmup: every op kind once, on the same table
WARMUP = ("upsert", "read", "cdc", "delete", "compact")
KINDS = {"commit": ["upsert", "cdc", "delete"], "read": ["read"],
         "compact": ["compact"]}
TAIL_KINDS = ("read",)


def _cents(prices: np.ndarray) -> np.ndarray:
    return np.round(prices * 100).astype(np.int64)


def generate(ctx) -> None:
    """The initial table, every change batch of every cycle (warmup
    included), and the model's expected state after each op."""
    rng = np.random.default_rng([ctx.seed, 2])
    d = os.path.join(ctx.work, "in")
    os.makedirs(d)
    init = gen.orders_table(rng, 0, N_ROWS)
    pq.write_table(init, os.path.join(d, "orders.parquet"))
    inputs = ctx.detail.setdefault("input", {})
    inputs["orders"] = {"rows": N_ROWS, "bytes": os.path.getsize(
        os.path.join(d, "orders.parquet"))}
    changes = inputs["changes"] = {"rows": 0, "bytes": 0}
    model = dict(zip(init["o_orderkey"].to_numpy().tolist(),
                     _cents(init["o_totalprice"].to_numpy()).tolist()))
    next_key = N_ROWS
    ctx.cycles = 1 + ctx.cdc_cycles          # warmup first
    ctx.steps = []          # per cycle: [(kind, payload, expected)]
    for c in range(ctx.cycles):
        steps = []
        schedule = WARMUP if c == 0 else SCHEDULE
        # the delete removes what the cycle added: same row count after
        n_delete = (NEW_PER_BATCH * schedule.count("upsert")
                    + (NEW_PER_BATCH - CDC_DELETES) * schedule.count("cdc"))
        for i, kind in enumerate(schedule):
            payload = None
            if kind in ("upsert", "cdc"):
                live = np.fromiter(model.keys(), np.int64, len(model))
                t = gen.cdc_changes(rng, BATCH, next_key, live,
                                    NEW_PER_BATCH)
                next_key += NEW_PER_BATCH
                keys = t[KEY].to_numpy()
                model.update(zip(keys.tolist(), _cents(
                    t["o_totalprice"].to_numpy()).tolist()))
                if kind == "cdc":
                    gone = rng.choice(np.setdiff1d(live, keys),
                                      CDC_DELETES, replace=False)
                    dels = gen.orders_table(rng, 0, CDC_DELETES)
                    dels = dels.set_column(
                        0, KEY, pa.array(gone, pa.int64()))
                    t = pa.concat_tables([t, dels])
                    n = t.num_rows
                    t = t.append_column("seq", pa.array(
                        np.arange(n), pa.int64()))
                    t = t.append_column("op", pa.array(
                        ["U"] * BATCH + ["D"] * CDC_DELETES))
                    for k in gone.tolist():
                        del model[k]
                payload = os.path.join(d, f"c{c}_{i}_{kind}.parquet")
                pq.write_table(t, payload)
                changes["rows"] += t.num_rows
                changes["bytes"] += os.path.getsize(payload)
            elif kind == "delete":
                live = np.fromiter(model.keys(), np.int64, len(model))
                gone = rng.choice(live, n_delete, replace=False)
                for k in gone.tolist():
                    del model[k]
                payload = os.path.join(d, f"c{c}_{i}_delete.parquet")
                pq.write_table(pa.table({KEY: pa.array(gone, pa.int64())}),
                               payload)
                changes["rows"] += len(gone)
                changes["bytes"] += os.path.getsize(payload)
            elif kind == "read":
                lo = int(rng.integers(0, next_key - RANGE_WIDTH))
                hi = lo + RANGE_WIDTH - 1
                in_range = [v for k, v in model.items() if lo <= k <= hi]
                payload = (lo, hi)
                expected = (len(model), sum(model.values()),
                            len(in_range), sum(in_range))
                steps.append((kind, payload, expected))
                continue
            steps.append((kind, payload, None))
        ctx.steps.append(steps)
    ctx.model = model
    ctx.in_dir = d


def prepare(ctx) -> None:
    """Initial commit, then the warmup cycle (on the same table: it ends
    compacted and expired, the state every timed cycle starts from)."""
    from data_pipeline_stripe_spark.operators.snapshots import snapshot_commit
    from data_pipeline_stripe_spark.sources import load_table

    t = time.perf_counter()
    ctx.eq_deletes = []             # traced reads: live equality deletes
    ctx.table = os.path.join(ctx.work, "table")
    snapshot_commit(ctx.spark, ctx.table,
                    load_table(ctx.spark, ctx.in_dir, "orders",
                               rebalance=False))
    _cycle(ctx, ctx.steps[0], timed=False)
    ctx.phase("warmup", t)


def timed(ctx) -> None:
    for steps in ctx.steps[1:]:
        _cycle(ctx, steps, timed=True)


def _read(ctx, lo: int, hi: int):
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import snapshot_read

    tr = ctx.tracer
    with tr.span("snapshots", "snapshots.read"):
        df = snapshot_read(ctx.spark, ctx.table)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    hit = F.col(KEY).between(lo, hi)
    with tr.span("snapshots", "snapshots.read_exec"):
        row = df.agg(F.count("*"), F.sum(cents),
                     F.count(F.when(hit, 1)),
                     F.sum(F.when(hit, cents))).collect()[0]
    return tuple(int(v or 0) for v in row)


def _cycle(ctx, steps, timed: bool) -> None:
    from data_pipeline_stripe_spark.operators import snapshots as S

    spark, tr, ops = ctx.spark, ctx.tracer, ctx.ops
    for kind, payload, expected in steps:
        if kind == "read":
            op = ops.op(kind) if timed else nullcontext()
            with op:
                got = _read(ctx, *payload)
            if got != expected:
                ops.fail_check(f"read {payload}: got {got}, model says "
                               f"{expected}")
            if timed and ops.last_traced:
                _record_eq_deletes(ctx)
            continue
        if kind == "compact":
            op = ops.op(kind) if timed else nullcontext()
            with op:
                with tr.span("snapshots", "snapshots.compact") as sc:
                    _, f_in, f_out = S.snapshot_compact(spark, ctx.table)
                with tr.span("snapshots", "snapshots.expire") as se:
                    gone = S.snapshot_expire(ctx.table, keep_last=1,
                                             tmp_grace_seconds=0)
            if sc is not None:
                sc.attrs.update(files_in=f_in, files_out=f_out)
                se.attrs["files_deleted"] = (
                    len(gone["deleted_dirs"]) + len(gone["deleted_segments"])
                    + len(gone.get("deleted_files", [])))
            continue
        df = spark.read.parquet(payload)
        op = ops.op(kind) if timed else nullcontext()
        with op:
            with tr.span("snapshots", f"snapshots.{kind}"):
                if kind == "upsert":
                    S.snapshot_upsert_keys(spark, ctx.table, df, KEY)
                elif kind == "cdc":
                    S.snapshot_apply_cdc_mor(spark, ctx.table, df, KEY)
                else:
                    S.snapshot_delete_keys(spark, ctx.table, df, KEY)
        if timed:
            ctx.rows += int(pq.ParquetFile(payload).metadata.num_rows)


def _record_eq_deletes(ctx) -> None:
    """Traced run only: live equality deletes at the version just read,
    from ``snapshot_history`` (outside every span and op)."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_current_version, snapshot_history)

    v = snapshot_current_version(ctx.table)
    row = (snapshot_history(ctx.spark, ctx.table)
           .filter(F.col("version") == v).select("n_eq_deletes").first())
    ctx.eq_deletes.append(int(row[0] or 0) if row else 0)


def check(ctx) -> None:
    """The compacted table must equal the model, row for row."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import snapshot_read

    got = (snapshot_read(ctx.spark, ctx.table)
           .select(KEY, F.round(F.col("o_totalprice") * 100)
                   .cast("long").alias("c")).toArrow())
    table = dict(zip(got[KEY].to_pylist(), got["c"].to_pylist()))
    if got.num_rows != len(table) or table != ctx.model:
        ctx.ops.fail_check(
            f"final table ({got.num_rows} rows, {len(table)} keys) "
            f"differs from the model ({len(ctx.model)} keys)")
    files, size = dir_stats(ctx.table)
    ctx.table_bytes = size
    ctx.detail["table"] = {"rows": got.num_rows, "bytes": size,
                           "files": files}
