"""batch_pipeline: the batch jobs a user waits on, in one driver thread.

Two halves share one Spark session (see ``ingest.py`` and
``dataprep.py``):

- the write path: OTLP batches ingested one at a time into a lake until
  queryable, then a compaction sweep and queries over the 10s, 60s and 1h
  tiers;
- data prep: LLM data-prep registrations, each fully materialized.

Untimed warm-up, in two threads at once: every data-prep query collected
and checked against its oracle, and the lake's first batch ingested.
Timed: the remaining ingest batches, data-prep passes until the run's time
is up (at least two), the compaction sweep and the tier queries, with the
host-speed anchor (``common.Anchor``) timed between them.

An operation is one batch job a user launches and waits for: an ingest
batch from files landed to queryable, a data-prep pass (every query once),
the compaction sweep, the tier-query sweep.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import dataprep, ingest
from perfbench.common import Context, anchored, timed_setup
from perfbench.stats import median, tail

MIN_PASSES = 2  # data-prep passes timed in every run


def _build(ctx: Context, d: str) -> dict:
    os.makedirs(d)
    return {"ingest": ingest.build(ctx, d), "docs": dataprep.build(ctx, d)}


def run(ctx: Context) -> dict:
    setup_s, setup = timed_setup(ctx, lambda d: _build(ctx, d))
    prep = dataprep.DataPrep(ctx, setup["docs"])
    lake = ingest.IngestPlane(ctx, setup["ingest"])
    with ThreadPoolExecutor(1) as pool:
        history = pool.submit(lake.ingest_next, False)
        prep.check_pass()
        history.result()
    ctx.anchor.warm()

    # the anchor is timed before the first job and after each one
    ops_ms: list[float] = []
    ctx.anchor.mark()
    t_end = time.perf_counter() + ctx.seconds
    while lake.batches_left():
        ops_ms.append(lake.ingest_next(timed=True) * 1e3)
        ctx.anchor.mark()
    while prep.passes < MIN_PASSES or time.perf_counter() < t_end:
        ops_ms.append(sum(prep.timed_pass()))
        ctx.anchor.mark()
    ops_ms.append(lake.compact() * 1e3)
    ctx.anchor.mark()
    ops_ms.append(sum(lake.tier_queries()))
    ctx.anchor.mark()

    f = ctx.anchor.factor()
    ops_ms = [x * f for x in ops_ms]
    tl = tail(ops_ms)
    named = {
        **anchored({**lake.named(), **prep.named()}, f),
        "op_tail_pct": (tl[0], ""),
        "fail_frac": (ctx.failed / max(ctx.attempted, 1), ""),
    }
    res = {
        "setup_s": setup_s,
        "op_p50_ms": median(ops_ms),
        "op_tail_ms": tl[1],
        "throughput_per_s": named["ingest_events_per_s"][0],
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failures": ctx.failures,
        "named": named,
    }
    if ctx.tracer.enabled:
        res["per_layer"] = {**lake.per_layer(), **prep.per_layer()}
    return res
