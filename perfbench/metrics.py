"""The metric catalogue: every name the benchmark reports, with its unit.

End-to-end metrics are reported by every workload (``--trace 0``).
Per-layer metrics are reported by every workload in the traced run
(``--trace 1``); a layer a workload does not exercise reads 0 there,
which is the prediction for that workload.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_tail_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

DATAPREP_QUERIES = [
    "dd2_minhash_lsh",
    "ds1_hash_split",
    "txt7_quality_pipeline",
    "mm1_byte_histogram",
]
API_CLASSES = ("promql_range", "promql_instant", "logql_metric", "logql_select",
               "meta", "trace")
TIERS = ("10s", "60s", "1h")


def _per_layer() -> dict[str, str]:
    pl = {
        # query plane (api_dashboard)
        "promql.parse_ms": "ms",
        "promql.compile_ms": "ms",
        "logql.parse_ms": "ms",
        "logql.compile_ms": "ms",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "spark.exec_ms": "ms",
        "spark.jobs_per_req": "count",
        "spark.tasks_per_req": "count",
        "spark.input_rows_per_req": "count",
        "spark.shuffle_kb_per_req": "KB",
        "api.rows_scanned_per_row_out": "ratio",
        "api.render_ms": "ms",
        "api.response_kb": "KB",
        # write path (batch_pipeline)
        "sources.otlp_decode_s": "s",
        "sources.python_ms": "ms",
        "sources.files_written": "count",
        "sources.bytes_written": "B",
        "ingest.cook_metrics_s": "s",
        "ingest.cook_logs_s": "s",
        "ingest.tasks": "count",
        "ingest.shuffle_write_mb": "MB",
        "ingest.spill_mb": "MB",
        "ingest.to_queryable_s": "s",
        "ingest.stored_bytes_per_event": "B",
        "maintenance.plan_s": "s",
        "maintenance.exec_s": "s",
        "maintenance.compact_s": "s",
        "maintenance.bytes_rewritten_per_event": "B",
        "maintenance.files_after": "count",
        # data prep (batch_pipeline)
        "dataprep.total_s": "s",
        "dataprep.geomean_s": "s",
        # the tracer itself
        "trace.overhead_ms": "ms",
    }
    for cls in API_CLASSES:
        pl[f"api.http_ms.{cls}"] = "ms"
    for tier in TIERS:
        pl[f"plans.tier_query_ms.{tier}"] = "ms"
    for q in DATAPREP_QUERIES:
        pl[f"dataprep.{q}_s"] = "s"
        for k, unit in (("tasks", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                        ("input_rows", "count"), ("python_ms", "ms")):
            pl[f"dataprep.{q}.{k}"] = unit
    return pl


PER_LAYER = _per_layer()
