"""The dedup half of ``cdc_dedup``: near-duplicate detection as
documents land.

A seeded near-duplicate corpus lands as equal appends to a source
snapshot table. A ``snapshot_table`` stream (``maxFilesPerTrigger=1``)
drives a ``foreachBatch`` sink owned by the benchmark. Per micro-batch
the sink materializes the batch the source served, builds its LSH index
(``build_lsh_index(checkpoint=True)``), probes it against the persisted
index (``probe_lsh_index``), and appends pairs, bands and signatures to
three snapshot tables with ``snapshot_commit``.

The loop is closed with one client: land one batch, then
``processAllAvailable``; one op is that trigger. The first batch is the
warmup (the stream's first trigger pays query start-up). At the end the
signature and band tables must equal a one-shot ``build_lsh_index`` over
every landed document, and every emitted pair must clear the threshold.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen

BATCH_DOCS = 1_000
REPLICAS = 4
THRESHOLD = 0.5
KINDS = {"trigger": ["trigger"]}
PAIRS_DDL = "doc_a long, doc_b long, est_jaccard double"


def generate(ctx) -> None:
    n = (1 + ctx.triggers) * BATCH_DOCS
    docs = gen.corpus(ctx.seed, -(-n // REPLICAS), REPLICAS).slice(0, n)
    ctx.batches = []
    size = 0
    for i in range(1 + ctx.triggers):
        d = os.path.join(ctx.work, "land", f"b{i:03d}")
        os.makedirs(d)
        path = os.path.join(d, "documents.parquet")
        pq.write_table(docs.slice(i * BATCH_DOCS, BATCH_DOCS), path)
        size += os.path.getsize(path)
        ctx.batches.append(d)
    ctx.detail.setdefault("input", {})["documents"] = {
        "rows": n, "bytes": size, "batches": len(ctx.batches)}


def _sink(ctx):
    from data_pipeline_stripe_spark.llm import dedup
    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read)

    spark, tr = ctx.spark, ctx.tracer

    def sink(batch_df, epoch_id: int) -> None:
        with tr.span("stream", "stream.sink"):
            with tr.span("snapshot_source", "stream.batch_read"):
                batch = batch_df.localCheckpoint(eager=True)
            with tr.span("snapshots", "snapshots.index_read"):
                idx_sig = snapshot_read(spark, ctx.sig_t)
                idx_bands = snapshot_read(spark, ctx.bands_t)
            with tr.span("dedup", "dedup.build"):
                new_sig, new_bands = dedup.build_lsh_index(
                    batch, checkpoint=True)
            with tr.span("dedup", "dedup.probe"):
                pairs = dedup.probe_lsh_index(
                    idx_sig, idx_bands, batch, threshold=THRESHOLD,
                    new_index=(new_sig, new_bands)
                ).localCheckpoint(eager=True)
            for table, df in ((ctx.pairs_t, pairs), (ctx.bands_t, new_bands),
                              (ctx.sig_t, new_sig)):
                with tr.span("snapshots", "snapshots.append"):
                    snapshot_commit(spark, table, df, mode="append",
                                    epoch_key=str(epoch_id))
    return sink


def _land(ctx, i: int) -> None:
    from data_pipeline_stripe_spark.operators.snapshots import snapshot_commit
    from data_pipeline_stripe_spark.sources import load_table

    df = load_table(ctx.spark, ctx.batches[i], "documents", rebalance=False)
    snapshot_commit(ctx.spark, ctx.src, df.coalesce(1), mode="append")


def prepare(ctx) -> None:
    """The source table with the warmup batch landed, empty index
    tables, and the stream, drained once (its first trigger is the
    warmup)."""
    from data_pipeline_stripe_spark.llm import dedup
    from data_pipeline_stripe_spark.operators.snapshots import snapshot_commit
    from data_pipeline_stripe_spark.sources.readers import empty_frame
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        register_snapshot_source)

    t = time.perf_counter()
    spark = ctx.spark
    register_snapshot_source(spark)
    w = ctx.work
    ctx.src, ctx.sig_t = f"{w}/src", f"{w}/index_sig"
    ctx.bands_t, ctx.pairs_t = f"{w}/index_bands", f"{w}/pairs"
    sig0, bands0 = dedup.build_lsh_index(
        empty_frame(spark, "doc_id long, text string"))
    _land(ctx, 0)
    snapshot_commit(spark, ctx.sig_t, sig0)
    snapshot_commit(spark, ctx.bands_t, bands0)
    snapshot_commit(spark, ctx.pairs_t, empty_frame(spark, PAIRS_DDL))
    ctx.query = (spark.readStream.format("snapshot_table")
                 .option("maxFilesPerTrigger", "1").load(ctx.src)
                 .writeStream.outputMode("append")
                 .foreachBatch(_sink(ctx))
                 .trigger(processingTime="50 milliseconds")
                 .option("checkpointLocation", f"{w}/_ckpt")
                 .start())
    ctx.query.processAllAvailable()
    ctx.phase("warmup", t)


def timed(ctx) -> None:
    ops = ctx.ops
    ctx.traced_batches = []
    for i in range(1, 1 + ctx.triggers):
        _land(ctx, i)
        with ops.op("trigger"):
            ctx.query.processAllAvailable()
        if ops.last_traced:
            ctx.traced_batches.append(i)
        ctx.rows += BATCH_DOCS
    ctx.progress = [p for p in ctx.query.recentProgress
                    if p["numInputRows"] > 0]
    ctx.query.stop()


def check(ctx) -> None:
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.llm import dedup
    from data_pipeline_stripe_spark.operators.snapshots import snapshot_read
    from data_pipeline_stripe_spark.queries.io_roundtrip import frames_differ

    spark = ctx.spark
    corpus = spark.read.parquet(
        *[os.path.join(b, "documents.parquet") for b in ctx.batches])
    full_sig, full_bands = dedup.build_lsh_index(corpus, checkpoint=True)
    if frames_differ(snapshot_read(spark, ctx.sig_t), full_sig):
        ctx.ops.fail_check("streamed signature index differs from the "
                           "one-shot build_lsh_index")
    if frames_differ(snapshot_read(spark, ctx.bands_t), full_bands):
        ctx.ops.fail_check("streamed band index differs from the "
                           "one-shot build_lsh_index")
    pairs = snapshot_read(spark, ctx.pairs_t)
    stats = pairs.agg(F.count("*").alias("n"),
                      F.min("est_jaccard").alias("lo")).first()
    ctx.pairs = int(stats["n"])
    if ctx.pairs == 0 or stats["lo"] < THRESHOLD:
        ctx.ops.fail_check(f"pairs: {ctx.pairs} emitted, lowest estimate "
                           f"{stats['lo']} (threshold {THRESHOLD})")
    ctx.detail["pairs"] = ctx.pairs
    ctx.detail["progress_batches"] = len(ctx.progress)
