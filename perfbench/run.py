"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed again at exit); the program only
sees the generated files. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before
it, prefixed ``detail:``, carries per-kind percentiles, sample counts,
input sizes and errors.

``--trace 1`` alternates traced and untraced ops and prints the
per-layer metrics instead of the end-to-end ones; ``--spans FILE``
also writes the raw spans as JSON lines.

``--repeat K`` is the steadiness report: it runs the workload K times,
each in its own process with seeds ``seed .. seed+K-1``, and prints each
metric's median, quartiles, min, max and quartile spread as a share of
the median.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("reports", "cdc_dedup")
DRIVER_MEM = "2g"


def _cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python
    temp files, the warehouse) inside ``work``; must run before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts   # the launcher JVM
    confs = {
        # A fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when G1 decides to grow the heap, so peak_rss_mb
        # moves with off-heap, metaspace and Python-worker memory.
        "spark.driver.extraJavaOptions":
            f"{jvm_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        # the traced run resolves job/stage ids after the timed region
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


class Context:
    """Everything a workload needs: the session, the tracer, the timed
    op recorder, its private work directory and the run parameters."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = _cores()
        self.phases: dict[str, float] = {}
        self.detail: dict = {}
        self.rows = 0
        self.spark = None
        self.tracer = None
        self.ops = None

    def phase(self, name: str, t0: float) -> float:
        t = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + (t - t0)
        return t


def run_once(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Fails (non-zero exit, no result) when the program is not beside
    # the benchmark — e.g. a directory holding only the benchmark.
    import data_pipeline_stripe_spark  # noqa: F401
    import harness
    import importlib

    wl = importlib.import_module(f"wl_{args.workload}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    ctx = Context(args, work)
    try:
        t = time.perf_counter()
        wl.generate(ctx)
        t = ctx.phase("generate", t)

        from data_pipeline_stripe_spark.session import get_session
        ctx.spark = get_session(app_name=f"perfbench-{args.workload}",
                                master=f"local[{ctx.cores}]",
                                shuffle_partitions=ctx.cores)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        t = ctx.phase("session", t)
        ctx.tracer = harness.Tracer(ctx.spark.sparkContext, ctx.trace)
        ctx.ops = harness.Ops(ctx.tracer)

        wl.prepare(ctx)
        setup_s = time.perf_counter() - T_PROCESS

        try:
            wl.timed(ctx)
            t = time.perf_counter()
            wl.check(ctx)
            ctx.phase("check", t)
        except harness.OpFailed:
            pass                    # counted; reported as a failed run
        except Exception as e:      # a check that could not run
            ctx.ops.fail_check(f"{type(e).__name__}: {e}")
        rss, ctx.detail["peak_rss_mb_by_command"] = harness.peak_rss_mb()
        if ctx.trace:
            ctx.tracer.resolve_counts()
            if args.spans:
                ctx.tracer.dump(args.spans)
            import layers
            metrics = layers.metrics(ctx)
        else:
            metrics = end_to_end(ctx, wl, setup_s, rss)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only if no other run's
        except OSError:
            pass
    ops = ctx.ops
    ctx.detail.update(phases_s=ctx.phases, errors=ops.errors,
                      cores=ctx.cores, trace=ctx.trace)
    return {"detail": ctx.detail,
            "result": {"correct": ops.failed == 0 and ops.attempted > 0,
                       "attempted": ops.attempted, "failed": ops.failed,
                       "metrics": metrics}}


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()        # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(ctx: Context, wl, setup_s: float, rss: float) -> dict:
    """The gated metrics. ``op_p50_s`` is the geometric mean of the
    workload's per-kind medians: every op kind keeps its own percentile
    (the detail line lists each as ``<kind>_p50_s``, with its sample
    count) and no kind's samples are pooled with another's."""
    import harness

    kinds = {}
    for name, kind_list in wl.KINDS.items():
        xs = [x for k in kind_list for x in ctx.ops.samples.get(k, [])]
        kinds[f"{name}_p50_s"] = {"value": harness.median(xs), "unit": "s",
                                  "samples": len(xs)}
        if name in getattr(wl, "TAIL_KINDS", ()):
            v, pct, n = harness.tail(xs)
            kinds[f"{name}_tail_s"] = {
                "value": v, "unit": "s", "percentile": pct, "samples": n,
                "beyond": n - round(pct * n / 100)}
    ctx.detail["kinds"] = kinds
    p50s = [k["value"] for name, k in kinds.items()
            if name.endswith("_p50_s")]
    gmean = statistics.geometric_mean(p50s) if all(p50s) else 0.0
    return {
        "setup_s": _m(setup_s, "s"),
        "peak_rss_mb": _m(rss, "MB"),
        "rows_per_s": _m(ctx.rows / ctx.ops.timed_wall
                         if ctx.ops.timed_wall else 0.0, "1/s"),
        "op_p50_s": _m(gmean, "s"),
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def steadiness(args) -> int:
    """Run the workload ``--repeat`` times in fresh processes and print
    per-metric median, quartiles, min, max and (q3-q1)/median."""
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"run {i} failed (exit {out.returncode}):\n"
                  f"{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        print(lines[-2], flush=True)
        print(f"seed {args.seed + i}: wall {wall:.1f}s correct "
              f"{res['correct']} attempted {res['attempted']} failed "
              f"{res['failed']}", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
    report = {}
    for k, xs in values.items():
        q1, q2, q3 = _quartiles(xs)
        report[k] = {"unit": units[k], "median": q2, "q1": q1, "q3": q3,
                     "min": min(xs), "max": max(xs),
                     "spread": (q3 - q1) / q2 if q2 else None}
        print(f"{k:40s} {units[k]:6s} median {q2:12.4f} q1 {q1:12.4f} "
              f"q3 {q3:12.4f} min {min(xs):12.4f} max {max(xs):12.4f} "
              f"spread {report[k]['spread'] if q2 else float('nan'):.3f}")
    print(json.dumps(report))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="traced run: write spans here (JSONL)")
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness report over this many runs")
    args = ap.parse_args()
    if args.repeat:
        return steadiness(args)
    out = run_once(args)
    print("detail: " + json.dumps(out["detail"], default=float))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
