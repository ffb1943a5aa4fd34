"""Workload ``reports``: the three reference reports, cycle after cycle.

Each op computes one report through its registry query (``queries``
layer) and writes it through its partitioned sink (``pipelines`` layer):
top10 -> CSV partitioned by date, usage -> parquet partitioned by month,
royalties -> one JSON-lines file. Every cycle writes to fresh output
directories; after the timed region each output is read back with DuckDB
and compared with the query's DuckDB twin (``oracle_sql``) evaluated on
the same generated input.
"""

from __future__ import annotations

import math
import os

import gen
from harness import dir_stats

# x5 replica of the sf0.1 report facts
N_EVENTS = 500_000
N_ORDERS = 750_000
N_LINEITEM = 3_000_000
CYCLE_S = 7.0               # --seconds per timed cycle

REPORTS = {   # kind: (registry query, fact tables it reads)
    "top10": ("top10_event_types_daily", ("events",)),
    "usage": ("platform_usage_monthly", ("events",)),
    "royalties": ("royalties_monthly_usd", ("lineitem", "orders")),
}
KINDS = {k: [k] for k in REPORTS}


def _write(kind: str, df, out: str) -> None:
    from data_pipeline_stripe_spark import pipelines
    if kind == "top10":
        pipelines.write_top10_csv(df, out)
    elif kind == "usage":
        pipelines.write_usage_parquet({"usage": df}, out)
    else:
        pipelines.write_royalties_json(df, out)


def _plan(ctx, kind: str, in_dir: str):
    from data_pipeline_stripe_spark.queries import REGISTRY
    df = REGISTRY[REPORTS[kind][0]].fn(ctx.spark, in_dir)
    # the top10 sink partitions by ``date``; the query names it ``day``
    return df.withColumnRenamed("day", "date") if kind == "top10" else df


def generate(ctx) -> None:
    ctx.in_dir = os.path.join(ctx.work, "in")
    ctx.input = gen.write_reports_input(ctx.seed, ctx.in_dir, N_EVENTS,
                                        N_ORDERS, N_LINEITEM)
    ctx.detail["input"] = ctx.input
    # warmup input: the first part file of each fact, hard-linked
    ctx.warm_dir = os.path.join(ctx.work, "warm_in")
    os.makedirs(ctx.warm_dir)
    for name in os.listdir(ctx.in_dir):
        src = os.path.join(ctx.in_dir, name)
        dst = os.path.join(ctx.warm_dir, name)
        if os.path.isdir(src):
            os.makedirs(dst)
            src, dst = (os.path.join(p, "part-00000.parquet")
                        for p in (src, dst))
        os.link(src, dst)


def prepare(ctx) -> None:
    """Warmup: one cycle over a quarter of the input into throwaway
    output directories (class loading, query compilation, JIT)."""
    import time
    t = time.perf_counter()
    for kind in REPORTS:
        _write(kind, _plan(ctx, kind, ctx.warm_dir),
               os.path.join(ctx.work, "warm_out", kind))
    ctx.phase("warmup", t)
    ctx.cycles = max(1, round(ctx.seconds / CYCLE_S))
    ctx.outputs = []


def timed(ctx) -> None:
    tr, ops = ctx.tracer, ctx.ops
    for c in range(ctx.cycles):
        for kind, (_, facts) in REPORTS.items():
            out = os.path.join(ctx.work, "out", f"c{c}", kind)
            with ops.op(kind):
                with tr.span("queries", f"queries.{kind}"):
                    df = _plan(ctx, kind, ctx.in_dir)
                with tr.span("pipelines", f"pipelines.{kind}") as sp:
                    _write(kind, df, out)
            if sp is not None:
                sp.attrs["files"], sp.attrs["bytes"] = dir_stats(out)
            ctx.rows += sum(ctx.input[f]["rows"] for f in facts)
            ctx.outputs.append((kind, out))


def _read_back(con, kind: str, out: str) -> list[tuple]:
    if kind == "top10":
        return con.execute(
            f"SELECT position, date, event_type, purchases FROM read_csv("
            f"'{out}/*/*.csv', delim='|', header=true, "
            f"hive_partitioning=true, hive_types_autocast=false)").fetchall()
    if kind == "usage":
        return con.execute(
            f"SELECT month, event_type, usage_value, usage_pct FROM "
            f"read_parquet('{out}/usage/*/*.parquet', "
            f"hive_partitioning=true, hive_types_autocast=false)"
        ).fetchall()
    return con.execute(
        f"SELECT month, provider, royalty_usd FROM "
        f"read_json('{out}/*.json')").fetchall()


def _same(got: list[tuple], want: list[tuple], tol: float) -> bool:
    """Row multisets equal; floats within ``tol`` (the reports round to
    2 or 4 decimals, and summation order differs between engines)."""
    if len(got) != len(want):
        return False

    def key(row):           # the non-float columns identify a row
        return tuple("" if isinstance(v, float) else str(v) for v in row)

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if a is None or b is None or not math.isclose(
                        float(a), float(b), rel_tol=1e-9, abs_tol=tol):
                    return False
            elif str(a) != str(b):
                return False
    return True


def check(ctx) -> None:
    import duckdb

    import __spark_entry__
    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in os.listdir(ctx.in_dir):
        name = t.removesuffix(".parquet")
        p = os.path.join(ctx.in_dir, t)
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{src}')")
    want = {k: con.execute(oracle[q]).fetchall()
            for k, (q, _) in REPORTS.items()}
    # top10: position/day/event_type/purchases, day as text
    want["top10"] = [(p, str(d), e, n) for p, d, e, n in want["top10"]]
    tol = {"top10": 0.0, "usage": 0.011, "royalties": 1e-6}
    for kind, out in ctx.outputs:
        got = _read_back(con, kind, out)
        if not _same(got, want[kind], tol[kind]):
            ctx.ops.fail_check(f"{kind} output {out} differs from the "
                               f"DuckDB twin ({len(got)} vs "
                               f"{len(want[kind])} rows)")
    con.close()
    ctx.detail["checked_outputs"] = len(ctx.outputs)
