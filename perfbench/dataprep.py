"""The data-prep half of ``batch_pipeline``: LLM data-prep registrations,
one after another.

Each query is a registered ``queries_*`` entry over a seeded ``documents``
table, fully materialized through a ``noop``-sink write (never
``.count()``, which lets Catalyst prune the computed columns). The seed
makes the table and permutes the order. Correctness: every query's
collected output is compared with its ``oracle_sql()`` DuckDB result once,
in the untimed warm-up pass.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Context, Stopwatch
from perfbench.metrics import DATAPREP_QUERIES as QUERIES
from perfbench.stats import geomean, median
from perfbench.trace import (
    catalyst_phases,
    python_ms_since,
    sql_cursor,
    stage_cursor,
    stage_work,
)

N_DOCS = 500


def build(ctx: Context, d: str) -> str:
    os.makedirs(d, exist_ok=True)
    n_docs = max(50, int(N_DOCS * ctx.scale))
    pq.write_table(gen.documents_table(ctx.seed, n_docs), f"{d}/documents.parquet")
    return d


def _noop(df) -> None:
    """Materialize every column of every row, keep nothing."""
    df.write.format("noop").mode("overwrite").save()


class DataPrep:
    def __init__(self, ctx: Context, sf: str):
        import lakerunner_spark.queries as q
        import lakerunner_spark.queries_dataops  # noqa: F401 (registers)
        import lakerunner_spark.queries_multimodal  # noqa: F401 (registers)

        self.ctx, self.sf, self.spark = ctx, sf, ctx.spark
        self.fns, self.oracle = q.QUERIES, q.ORACLE
        rng = np.random.default_rng([ctx.seed, 11])
        self.order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        self.times: dict[str, list[float]] = {n: [] for n in QUERIES}
        self.traced: dict[str, list[float]] = {}
        self.untraced: dict[str, list[float]] = {}
        self.layer: dict[str, dict[str, list[float]]] = {n: {} for n in QUERIES}
        self.passes = 0

    def check_pass(self) -> None:
        """Untimed: collect each output once and compare it with its
        oracle through the repository's own gate (tests/oracle_harness.py)."""
        import duckdb

        from tests.oracle_harness import compare

        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.sf}/documents.parquet')")
        for name in self.order:
            try:
                res = compare(self.fns[name](self.spark, self.sf),
                              con.execute(self.oracle[name]).df())
                bad = None if res["values_match"] else str(res)[:300]
            except Exception as e:  # noqa: BLE001 - counted, reported
                bad = f"error {type(e).__name__}: {str(e)[:200]}"
            self.ctx.check(not bad, f"{name}: {bad}")
        con.close()

    def timed_pass(self) -> list[float]:
        """Every query once, in the seeded order; returns their ms. In the
        traced run each query is traced in every other pass, so traced
        and untraced times of one query give the tracing overhead."""
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.spark
        out = []
        for k, name in enumerate(self.order):
            traced = tr.enabled and (k + self.passes) % 2 == 0
            tr.begin_request(f"{name}#{self.passes}", traced)
            if traced:
                cur, scur = stage_cursor(spark), sql_cursor(spark)
            sw = Stopwatch()
            try:
                with tr.span("dataops." + name):
                    df = self.fns[name](spark, self.sf)
                    if traced:  # plan on the frame's own QueryExecution
                        df._jdf.queryExecution().executedPlan()
                    _noop(df)
            except Exception as e:  # noqa: BLE001 - counted, reported
                ctx.check(False, f"{name}: error {type(e).__name__}: {str(e)[:200]}")
                continue
            ms = sw.seconds() * 1e3
            out.append(ms)
            self.times[name].append(ms / 1e3)
            (self.traced if traced else self.untraced).setdefault(name, []).append(ms)
            if traced:
                w = stage_work(spark, cur)
                for key, v in (
                    ("tasks", w.get("tasks", 0)),
                    ("shuffle_mb", w.get("shuffle_write_b", 0) / 2**20),
                    ("spill_mb", w.get("spill_b", 0) / 2**20),
                    ("input_rows", w.get("input_rows", 0)),
                    ("python_ms", sum(python_ms_since(spark, scur).values())),
                    ("planning_ms", catalyst_phases(df).get("planning", 0.0)),
                ):
                    self.layer[name].setdefault(key, []).append(float(v))
        tr.begin_request(None)
        self.passes += 1
        return out

    def named(self) -> dict:
        per_q = {n: median(v) for n, v in self.times.items() if v}
        return {
            "dataprep_total_s": (sum(per_q.values()), "s"),
            "dataprep_geomean_s": (geomean(per_q.values()), "s"),
            "dataprep_passes": (self.passes, ""),
            **{f"{n}_s": (v, "s") for n, v in per_q.items()},
        }

    def per_layer(self) -> dict:
        named = self.named()
        pl = {"dataprep.total_s": named["dataprep_total_s"],
              "dataprep.geomean_s": named["dataprep_geomean_s"]}
        for n in QUERIES:
            rec = self.layer[n]
            pl[f"dataprep.{n}_s"] = named.get(f"{n}_s", (0.0, "s"))
            for k, unit in (("tasks", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                            ("input_rows", "count"), ("python_ms", "ms")):
                pl[f"dataprep.{n}.{k}"] = (median(rec[k]) if rec.get(k) else 0.0, unit)
        plan = [x for n in QUERIES for x in self.layer[n].get("planning_ms", [])]
        pl["catalyst.planning_ms"] = (median(plan) if plan else 0.0, "ms")
        d = [median(self.traced[n]) - median(self.untraced[n])
             for n in self.traced if n in self.untraced]
        pl["trace.overhead_ms"] = (median(d) if d else 0.0, "ms")
        return pl
