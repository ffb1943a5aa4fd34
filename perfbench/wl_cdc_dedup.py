"""Workload ``cdc_dedup``: the snapshot table format under its two
production loads, in one JVM.

- ``dedup_stream.py``: documents land in a source snapshot table and a
  ``snapshot_table`` stream deduplicates them (``dedup`` and
  ``snapshot_source`` layers, ``snapshots`` through appends).
- ``cdc.py``: a CDC trickle of merge-on-read upserts, CDC applies and
  equality deletes, each commit followed by a read, then compaction
  (``snapshots`` through its merge-on-read verbs).

Set-up warms both halves. The timed region runs the dedup triggers with
the stream alone, stops the stream, then runs the CDC cycles with no
stream polling in the background. Every op kind keeps its own samples.
"""

from __future__ import annotations

import cdc
import dedup_stream

KINDS = {**cdc.KINDS, **dedup_stream.KINDS}
TAIL_KINDS = cdc.TAIL_KINDS
CDC_CYCLE_S = 20        # --seconds per timed CDC cycle (at least one)
TRIGGER_S = 6           # --seconds per timed trigger (at least three)


def generate(ctx) -> None:
    ctx.cdc_cycles = max(1, ctx.seconds // CDC_CYCLE_S)
    ctx.triggers = max(3, ctx.seconds // TRIGGER_S)
    dedup_stream.generate(ctx)
    cdc.generate(ctx)


def prepare(ctx) -> None:
    cdc.prepare(ctx)
    dedup_stream.prepare(ctx)


def timed(ctx) -> None:
    dedup_stream.timed(ctx)
    cdc.timed(ctx)


def check(ctx) -> None:
    dedup_stream.check(ctx)
    cdc.check(ctx)
