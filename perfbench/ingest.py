"""The write path of ``batch_pipeline``: OTLP batches -> cooked lake ->
compaction -> tier queries.

Set-up writes seeded OTLP metric and log batches (``.binpb.gz``). Each
batch goes ``read_otlp_metrics`` -> attribute pivot -> ``cook_metrics``
(10s, 60s and 1h tiers, DDSketch at 1% accuracy) and ``read_otlp_logs``
-> ``cook_logs(incremental=True)`` into one lake, and is queryable when a
PromQL probe over ``layout_metric_catalog`` and a LogQL probe over the log
segments both account for every datapoint and record landed so far. The
first batch is the lake's history, ingested untimed. After the timed
batches a compaction sweep rewrites every fragmented partition, then
fixed queries run over the three tiers.

Checks: both probes after every batch; the 10s tier's
``sum(chq_rollup_count)`` equals the input datapoints; log segment rows
equal the input records; compaction keeps each partition's row count and
content hash; every tier query matches DuckDB over the raw generated
samples.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

from perfbench import gen
from perfbench.common import Context, Stopwatch
from perfbench.stats import median
from perfbench.trace import python_ms_since, sql_cursor, stage_cursor, stage_work

BATCHES = 3  # batch 0 is the untimed history, the others are timed
BATCH_SPAN_MS = 15 * 60_000
POINTS = 8  # datapoints per series per family per batch
LOG_RECORDS = 2000  # per batch
T0_MS = gen.EPOCH_MS + 9 * gen.HOUR_MS
LABELS = ["resource_service_name", "attr_host", "attr_route", "bucket_le"]
TIERS = {"10s": 10_000, "60s": 60_000, "1h": 3_600_000}  # cooked and queried
# one query per tier, each with its reference over the raw samples
TIER_QUERIES = {
    "10s": ("sum by (resource_service_name) (sum_over_time(http_requests_total[10s]))",
            "SELECT ts - ts % {step}, service, sum(value) FROM raw_metrics "
            "WHERE metric = 'http_requests_total' AND ts < {end} GROUP BY 1, 2"),
    "60s": ("sum by (attr_host) (count_over_time(cpu_utilization[60s]))",
            "SELECT ts - ts % {step}, host, count(*) FROM raw_metrics "
            "WHERE metric = 'cpu_utilization' AND ts < {end} GROUP BY 1, 2"),
    "1h": ("sum by (attr_route) (sum_over_time(http_requests_total[3600s]))",
           "SELECT ts - ts % {step}, route, sum(value) FROM raw_metrics "
           "WHERE metric = 'http_requests_total' AND ts < {end} GROUP BY 1, 2"),
}


def build(ctx: Context, d: str) -> dict:
    """Write the OTLP batches under ``d``; returns their raw samples."""
    points = max(2, int(POINTS * ctx.scale))
    records = max(100, int(LOG_RECORDS * ctx.scale))
    raw_m, raw_l = [], []
    for b in range(BATCHES):
        t0 = T0_MS + b * BATCH_SPAN_MS
        for kind, (payload, raw) in (
            ("metrics", gen.otlp_metric_batch(ctx.seed, b, t0, BATCH_SPAN_MS, points)),
            ("logs", gen.otlp_log_batch(ctx.seed, b, t0, BATCH_SPAN_MS, records)),
        ):
            os.makedirs(f"{d}/batch{b}/{kind}")
            with open(f"{d}/batch{b}/{kind}/part-0.binpb.gz", "wb") as f:
                f.write(payload)
            (raw_m if kind == "metrics" else raw_l).append(raw)
    return {"dir": d, "metrics": raw_m, "logs": raw_l}


def _pivot(df):
    """attr_keys/attr_values -> one attr_<key> column per fixed key."""
    from pyspark.sql import functions as F

    m = F.map_from_arrays("attr_keys", "attr_values")
    for k in gen.ATTR_KEYS:
        df = df.withColumn(f"attr_{k}", m.getItem(k))
    return df.drop("attr_keys", "attr_values")


def _parquet_files(root: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(root) for f in fs
            if f.endswith(".parquet") and "/_compact_" not in r]


def _partition_digest(con, files: list[str], cols: list[str] | None = None):
    """(rows, order-free content hash, columns) of a set of parquet files."""
    rel = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "], union_by_name = true)"
    if cols is None:
        cols = [c for (c,) in con.execute(
            f"SELECT column_name FROM (DESCRIBE SELECT * FROM {rel})").fetchall()]
    h = ", ".join(f'"{c}"' for c in cols)
    n, s = con.execute(f"SELECT count(*), sum(hash({h})) FROM {rel}").fetchone()
    return n, s, cols


class IngestPlane:
    """One lake fed batch by batch; accumulates the write-path metrics."""

    def __init__(self, ctx: Context, setup: dict):
        self.ctx, self.setup, self.spark = ctx, setup, ctx.spark
        self.path = ctx.path("lake")
        self.next_batch = 0
        self.points = self.logs = 0
        self.acc: dict[str, list] = {k: [] for k in (
            "metrics_s", "logs_s", "to_queryable_s", "probe_ms",
            "work", "python_ms", "decode_ms")}
        self.events = 0
        self.ingest_s = 0.0
        self.tier_ms: dict[str, float] = {}
        self.maint: dict[str, float] = {}

    def batches_left(self) -> int:
        return BATCHES - self.next_batch

    # -- engine calls ---------------------------------------------------------

    def _cook(self, batch_dir: str) -> dict:
        from pyspark.sql import functions as F

        import lakerunner_spark.ingest.cook as cook
        import lakerunner_spark.sources.otel as otel

        tr, spark = self.ctx.tracer, self.spark
        cur = stage_cursor(spark) if tr.enabled else None
        scur = sql_cursor(spark) if tr.enabled else None
        sw = Stopwatch()
        with tr.span("sources.read_otlp_metrics"):
            metrics = _pivot(otel.read_otlp_metrics(spark, f"{batch_dir}/metrics"))
        with tr.span("ingest.cook_metrics"):
            cook.cook_metrics(metrics, self.path, sketch_accuracy=0.01,
                              tiers_ms=list(TIERS.values()))
        metrics_s = sw.seconds()
        sw = Stopwatch()
        with tr.span("sources.read_otlp_logs"):
            logs = (otel.read_otlp_logs(spark, f"{batch_dir}/logs")
                    .withColumn("service_identifier", F.col("resource_service_name"))
                    .drop("attr_keys", "attr_values", "resource_service_name"))
        with tr.span("ingest.cook_logs"):
            cook.cook_logs(logs, self.path, incremental=True)
        out = {"metrics_s": metrics_s, "logs_s": sw.seconds()}
        t2 = time.perf_counter()
        if tr.enabled:
            out["work"] = stage_work(spark, cur)
            py = python_ms_since(spark, scur)
            out["python_ms"] = sum(py.values())
            out["decode_ms"] = py.get("MapInPandas", 0.0)
        out["counters_s"] = time.perf_counter() - t2
        return out

    def promql(self, query: str, step: int, start: int, end: int):
        from lakerunner_spark.catalog import layout_metric_catalog
        from lakerunner_spark.promql.compiler import compile_promql

        cat = layout_metric_catalog(self.spark, f"{self.path}/metrics", step, LABELS)
        return compile_promql(query, cat, step, start_ms=start, end_ms=end).collect()

    def logql(self, query: str, step: int, start: int, end: int):
        from lakerunner_spark.logql.compiler import LogSource, compile_logql

        seg = self.spark.read.parquet(f"{self.path}/logs")
        src = LogSource(seg, ["service_identifier"], line_col="log_message")
        return compile_logql(query, src, step, start_ms=start, end_ms=end).collect()

    # -- workload steps -------------------------------------------------------

    def ingest_next(self, timed: bool) -> float:
        """Ingest the next batch and probe until it is accounted for;
        returns files-landed-to-queryable seconds."""
        ctx, tr = self.ctx, self.ctx.tracer
        b = self.next_batch
        self.next_batch += 1
        m, lg = self.setup["metrics"][b], self.setup["logs"][b]
        landed = Stopwatch()
        r = self._cook(f"{self.setup['dir']}/batch{b}")
        self.points += len(m["ts"])
        self.logs += len(lg["ts"])
        start, end = T0_MS, T0_MS + BATCHES * BATCH_SPAN_MS
        want = sum(1 for bb in self.setup["metrics"][:b + 1] for x in bb["metric"]
                   if x == "http_requests_total")
        sw = Stopwatch()
        with tr.span("plans.freshness_promql"):
            rows = self.promql("sum(count_over_time(http_requests_total[1h]))",
                               3_600_000, start, end)
        probe_ms = [sw.seconds() * 1e3]
        got = sum(x.value or 0 for x in rows)
        ctx.check(got == want, f"batch{b}: PromQL probe counts {got} of {want} datapoints")
        sw = Stopwatch()
        with tr.span("plans.freshness_logql"):
            rows = self.logql('sum(count_over_time({service_identifier=~".+"}[1h]))',
                              3_600_000, start, end)
        probe_ms.append(sw.seconds() * 1e3)
        got = sum(x.value or 0 for x in rows)
        ctx.check(got == self.logs, f"batch{b}: LogQL probe counts {got} of {self.logs} records")
        # counter reads of the traced run excluded
        raw = landed.raw()
        queryable_s = landed.seconds() * (raw - r["counters_s"]) / raw
        if timed:
            a = self.acc
            self.ingest_s += r["metrics_s"] + r["logs_s"]
            self.events += len(m["ts"]) + len(lg["ts"])
            a["metrics_s"].append(r["metrics_s"])
            a["logs_s"].append(r["logs_s"])
            a["to_queryable_s"].append(queryable_s)
            a["probe_ms"] += probe_ms
            for k in ("work", "python_ms", "decode_ms"):
                if k in r:
                    a[k].append(r[k])
        return queryable_s

    def compact(self) -> float:
        """Layout checks, then one compaction sweep; returns its seconds."""
        from lakerunner_spark.maintenance.compaction import (
            compact_segments,
            plan_table_compaction,
        )

        ctx, tr = self.ctx, self.ctx.tracer
        con = duckdb.connect()
        m10 = [f for f in _parquet_files(f"{self.path}/metrics") if "frequency_ms=10000" in f]
        (n10,) = con.execute("SELECT sum(chq_rollup_count) FROM "
                             "read_parquet(?, union_by_name = true)", [m10]).fetchone()
        ctx.check(n10 == self.points, f"10s tier counts {n10} of {self.points} datapoints")
        (nl,) = con.execute("SELECT count(*) FROM read_parquet(?)",
                            [_parquet_files(f"{self.path}/logs")]).fetchone()
        ctx.check(nl == self.logs, f"log segments hold {nl} of {self.logs} records")
        files = _parquet_files(self.path)
        self.maint["files_written"] = len(files)
        self.maint["bytes_written"] = sum(os.path.getsize(f) for f in files)

        sw = Stopwatch()
        with tr.span("maintenance.plan_table_compaction"):
            tasks = [(fam, t) for fam in ("metrics", "logs")
                     for t in plan_table_compaction(f"{self.path}/{fam}")]
        plan_s = sw.seconds()
        before = {t["dir"]: _partition_digest(con, t["files"]) for _f, t in tasks}
        sw = Stopwatch()
        with tr.span("maintenance.compact_segments"):
            for fam, t in tasks:
                compact_segments(self.spark, t, fam)
        exec_s = sw.seconds()
        for d, (n, h, cols) in before.items():
            after = _partition_digest(
                con, [f for f in _parquet_files(d) if os.path.dirname(f) == d], cols)
            ctx.check(after[:2] == (n, h), f"compaction changed {d}: rows {n} -> {after[0]}")
        con.close()
        files = _parquet_files(self.path)
        events = self.points + self.logs
        self.maint.update(
            plan_s=plan_s, exec_s=exec_s, compact_s=plan_s + exec_s,
            rewritten_b_per_event=sum(t["total_bytes"] for _f, t in tasks) / events,
            files_after=len(files),
            stored_b_per_event=sum(os.path.getsize(f) for f in files) / events,
        )
        return self.maint["compact_s"]

    def tier_queries(self) -> list[float]:
        """One query per tier, checked; returns their ms."""
        ctx, tr = self.ctx, self.ctx.tracer
        raw = duckdb.connect()
        cols = self.setup["metrics"][0].keys()
        raw.register("raw_metrics", pa.table(
            {k: sum((b[k] for b in self.setup["metrics"][:self.next_batch]), []) for k in cols}))
        start, end = T0_MS, T0_MS + self.next_batch * BATCH_SPAN_MS
        out = []
        for tier, step in TIERS.items():
            q, ref = TIER_QUERIES[tier]
            sw = Stopwatch()
            with tr.span(f"plans.tier_query.{tier}"):
                rows = self.promql(q, step, start, end)
            ms = sw.seconds() * 1e3
            out.append(ms)
            self.tier_ms[tier] = ms
            got = {}
            for row in rows:
                d = row.asDict()
                if d["value"] is not None:
                    label = next(v for c, v in d.items() if c not in ("bucket_ts", "value"))
                    got[(d["bucket_ts"], label)] = float(d["value"])
            want = {(b, lab): float(v) for b, lab, v in
                    raw.execute(ref.format(step=step, end=end)).fetchall()}
            ctx.check(got == want, f"tier {tier} {q}: {len(got)} points, {len(want)} expected")
        raw.close()
        return out

    # -- metrics ----------------------------------------------------------------

    def named(self) -> dict:
        return {
            "ingest_events_per_s": (self.events / self.ingest_s, "1/s"),
            "ingest_to_queryable_s": (median(self.acc["to_queryable_s"]), "s"),
            "compact_s": (self.maint["compact_s"], "s"),
            "layout_query_p50_ms": (median(self.acc["probe_ms"] + list(self.tier_ms.values())), "ms"),
            "stored_bytes_per_event": (self.maint["stored_b_per_event"], "B"),
            "timed_batches": (len(self.acc["metrics_s"]), ""),
        }

    def per_layer(self) -> dict:
        a, w = self.acc, self.acc["work"]

        def med(xs):
            return median(xs) if xs else 0.0

        pl = {
            # Python worker time of the binaryFile decode (MapInPandas)
            "sources.otlp_decode_s": (med(a["decode_ms"]) / 1e3, "s"),
            "sources.python_ms": (med(a["python_ms"]), "ms"),
            "sources.files_written": (self.maint["files_written"], "count"),
            "sources.bytes_written": (self.maint["bytes_written"], "B"),
            "ingest.cook_metrics_s": (med(a["metrics_s"]), "s"),
            "ingest.cook_logs_s": (med(a["logs_s"]), "s"),
            "ingest.tasks": (med([x.get("tasks", 0) for x in w]), "count"),
            "ingest.shuffle_write_mb": (med([x.get("shuffle_write_b", 0) / 2**20 for x in w]), "MB"),
            "ingest.spill_mb": (med([x.get("spill_b", 0) / 2**20 for x in w]), "MB"),
            "ingest.to_queryable_s": (med(a["to_queryable_s"]), "s"),
            "ingest.stored_bytes_per_event": (self.maint["stored_b_per_event"], "B"),
            "maintenance.plan_s": (self.maint["plan_s"], "s"),
            "maintenance.exec_s": (self.maint["exec_s"], "s"),
            "maintenance.compact_s": (self.maint["compact_s"], "s"),
            "maintenance.bytes_rewritten_per_event": (self.maint["rewritten_b_per_event"], "B"),
            "maintenance.files_after": (self.maint["files_after"], "count"),
        }
        for tier in TIERS:
            pl[f"plans.tier_query_ms.{tier}"] = (self.tier_ms.get(tier, 0.0), "ms")
        return pl
