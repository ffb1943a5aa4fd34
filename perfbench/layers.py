"""Per-layer metrics of a traced run, derived from its spans.

Every workload prints the same list (``NAMES``); a layer a workload does
not call reads 0 there. Times are medians per call (seconds unless the
name ends in ``_ms``); ``.jobs``/``.tasks`` are Spark jobs and completed
tasks launched inside the call, children included; ``layer.<name>.self_s``
is the layer's self time summed over the traced ops (span duration
minus the time its child spans cover); ``layer.bench.self_s`` is op time
no layer span covers. ``trace.overhead_*`` is, per op kind, the median
wall of the traced ops minus that of the untraced ops of the same run,
averaged over kinds (with few ops per kind it also carries the run's
warm-up drift); ``trace.bookkeeping_s`` is the time spent inside the
tracer's own calls, summed.
"""

from __future__ import annotations

from harness import median

REPORTS = ("top10", "usage", "royalties")
OP_KINDS = REPORTS + ("upsert", "cdc", "delete", "read", "compact",
                      "trigger")
LAYERS = ("queries", "pipelines", "snapshots", "snapshot_source", "dedup",
          "stream", "bench")
PROGRESS = {"latest_offset_ms": "latestOffset",
            "query_planning_ms": "queryPlanning",
            "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
            "commit_offsets_ms": "commitOffsets"}


def _units() -> dict[str, str]:
    u = {"session.start_s": "s", "setup.generate_s": "s",
         "setup.warmup_s": "s"}
    for r in REPORTS:
        u[f"queries.{r}.plan_s"] = "s"
        u[f"queries.{r}.jobs"] = "count"
        u[f"pipelines.{r}.write_s"] = "s"
        for c in ("jobs", "tasks", "files"):
            u[f"pipelines.{r}.{c}"] = "count"
        u[f"pipelines.{r}.bytes"] = "bytes"
    for v in ("upsert", "cdc", "delete"):
        u[f"snapshots.{v}.s"] = "s"
        u[f"snapshots.{v}.jobs"] = "count"
    u.update({"snapshots.read.plan_s": "s", "snapshots.read.exec_s": "s",
              "snapshots.read.jobs": "count",
              "snapshots.read.live_eq_deletes": "count",
              "snapshots.compact.s": "s", "snapshots.compact.jobs": "count",
              "snapshots.compact.files_in": "count",
              "snapshots.compact.files_out": "count",
              "snapshots.expire.s": "s",
              "snapshots.expire.files_deleted": "count",
              "snapshots.table_bytes": "bytes",
              "snapshots.bytes_per_row": "bytes",
              "snapshots.append.s": "s", "snapshots.append.jobs": "count",
              "dedup.build_s": "s", "dedup.probe_s": "s",
              "dedup.jobs": "count", "dedup.pairs": "count",
              "stream.batch_read_s": "s", "stream.overhead_s": "s"})
    for k in PROGRESS:
        u[f"stream.{k}"] = "ms"
    for k in OP_KINDS:
        u[f"spark.jobs.{k}"] = "count"
        u[f"spark.tasks.{k}"] = "count"
    for layer in LAYERS:
        u[f"layer.{layer}.self_s"] = "s"
    u["trace.overhead_s"] = "s"
    u["trace.overhead_pct"] = "%"
    u["trace.bookkeeping_s"] = "s"
    return u


UNITS = _units()
NAMES = tuple(UNITS)


def metrics(ctx) -> dict:
    tr = ctx.tracer
    spans = tr.spans
    v: dict[str, float] = dict.fromkeys(NAMES, 0.0)

    def dur(name):
        return median([spans[i].end - spans[i].start
                       for i in tr.by_name(name)])

    def jobs(name, tasks=False):
        return median([tr.inclusive(i)[1 if tasks else 0]
                       for i in tr.by_name(name)])

    def attr(name, key):
        return median([spans[i].attrs[key] for i in tr.by_name(name)
                       if key in spans[i].attrs])

    def per_op(names, fn):
        """Median over ops of ``fn(span)`` summed over the op's spans
        named in ``names``."""
        by_op: dict[int, float] = {}
        for i, s in enumerate(spans):
            if s.name in names:
                by_op[s.op] = by_op.get(s.op, 0.0) + fn(i)
        return median(list(by_op.values()))

    v["session.start_s"] = ctx.phases.get("session", 0.0)
    v["setup.generate_s"] = ctx.phases.get("generate", 0.0)
    v["setup.warmup_s"] = ctx.phases.get("warmup", 0.0)
    for r in REPORTS:
        v[f"queries.{r}.plan_s"] = dur(f"queries.{r}")
        v[f"queries.{r}.jobs"] = jobs(f"queries.{r}")
        v[f"pipelines.{r}.write_s"] = dur(f"pipelines.{r}")
        v[f"pipelines.{r}.jobs"] = jobs(f"pipelines.{r}")
        v[f"pipelines.{r}.tasks"] = jobs(f"pipelines.{r}", tasks=True)
        v[f"pipelines.{r}.files"] = attr(f"pipelines.{r}", "files")
        v[f"pipelines.{r}.bytes"] = attr(f"pipelines.{r}", "bytes")
    for verb in ("upsert", "cdc", "delete", "compact", "expire", "append"):
        v[f"snapshots.{verb}.s"] = dur(f"snapshots.{verb}")
        if f"snapshots.{verb}.jobs" in v:
            v[f"snapshots.{verb}.jobs"] = jobs(f"snapshots.{verb}")
    v["snapshots.read.plan_s"] = dur("snapshots.read")
    v["snapshots.read.exec_s"] = dur("snapshots.read_exec")
    v["snapshots.read.jobs"] = jobs("op.read")
    v["snapshots.read.live_eq_deletes"] = median(
        getattr(ctx, "eq_deletes", ()))
    v["snapshots.compact.files_in"] = attr("snapshots.compact", "files_in")
    v["snapshots.compact.files_out"] = attr("snapshots.compact",
                                            "files_out")
    v["snapshots.expire.files_deleted"] = attr("snapshots.expire",
                                               "files_deleted")
    if hasattr(ctx, "table_bytes"):
        v["snapshots.table_bytes"] = ctx.table_bytes
        v["snapshots.bytes_per_row"] = (ctx.table_bytes
                                        / max(1, len(ctx.model)))
    v["dedup.build_s"] = dur("dedup.build")
    v["dedup.probe_s"] = dur("dedup.probe")
    v["dedup.jobs"] = per_op({"dedup.build", "dedup.probe"},
                             lambda i: tr.inclusive(i)[0])
    if hasattr(ctx, "pairs"):
        v["dedup.pairs"] = ctx.pairs / len(ctx.batches)
    v["stream.batch_read_s"] = dur("stream.batch_read")
    if hasattr(ctx, "progress"):
        # data batch k of the stream is landed batch k (0 = warmup)
        traced = [p for k, p in enumerate(ctx.progress)
                  if k in ctx.traced_batches]
        for k, field in PROGRESS.items():
            v[f"stream.{k}"] = median([p["durationMs"].get(field, 0)
                                       for p in traced])
        trig = tr.by_name("op.trigger")
        sink = tr.by_name("stream.sink")
        v["stream.overhead_s"] = median([
            (spans[t].end - spans[t].start) - sum(
                spans[s].end - spans[s].start for s in sink
                if spans[s].op == spans[t].op)
            for t in trig])
    for k in OP_KINDS:
        v[f"spark.jobs.{k}"] = jobs(f"op.{k}")
        v[f"spark.tasks.{k}"] = jobs(f"op.{k}", tasks=True)
    for i, s in enumerate(spans):
        layer = "bench" if s.layer == "op" else s.layer
        if s.op is not None or layer == "bench":
            v[f"layer.{layer}.self_s"] += tr.self_time(i)
    v["trace.bookkeeping_s"] = tr.bookkeeping_s
    diffs, base = [], []
    for k, xs in ctx.ops.traced_samples.items():
        plain = ctx.ops.samples.get(k)
        if plain:
            diffs.append(median(xs) - median(plain))
            base.append(median(plain))
    if diffs:
        v["trace.overhead_s"] = sum(diffs) / len(diffs)
        v["trace.overhead_pct"] = 100.0 * sum(diffs) / sum(base)
    return {k: {"value": float(x), "unit": UNITS[k]} for k, x in v.items()}
