"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.check_api import Checker  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.stats import tail  # noqa: E402
from perfbench.wl_api import Sample, dashboard, key, schedule, score  # noqa: E402

# -- generators ------------------------------------------------------------


@pytest.mark.parametrize("make", [
    lambda s: gen.events_table(s, 5000),
    lambda s: gen.documents_table(s, 200),
    lambda s: gen.otlp_metric_batch(s, 0, gen.EPOCH_MS, 600_000, 3)[0],
    lambda s: gen.otlp_log_batch(s, 1, gen.EPOCH_MS, 600_000, 300)[0],
    lambda s: [key(r) for r in schedule(s, 50)],
])
def test_generators_are_deterministic_per_seed(make):
    assert make(1) == make(1)
    assert make(1) != make(2)


def test_otlp_batches_decode_to_the_raw_samples():
    from lakerunner_spark.sources.otel import (
        _maybe_gunzip,
        decode_otlp_logs_payload,
        decode_otlp_metrics_payload,
    )

    payload, raw = gen.otlp_metric_batch(3, 0, gen.EPOCH_MS, 600_000, 2)
    rows = decode_otlp_metrics_payload(_maybe_gunzip("m.gz", payload))
    got = sorted((r["chq_timestamp"], r["metric_name"], r["resource_service_name"],
                  r["value"]) for r in rows)
    want = sorted(zip(raw["ts"], raw["metric"], raw["service"], raw["value"]))
    assert got == want
    payload, raw = gen.otlp_log_batch(3, 0, gen.EPOCH_MS, 600_000, 50)
    rows = decode_otlp_logs_payload(_maybe_gunzip("l.gz", payload))
    assert sorted(r["log_message"] for r in rows) == sorted(raw["message"])


# -- tail percentile -------------------------------------------------------


def test_tail_keeps_ten_samples_beyond_it():
    xs = list(range(1, 41))  # 40 samples
    pct, v = tail(xs)
    assert v == 30 and pct == 75.0
    assert sum(1 for x in xs if x > v) == 10
    pct, v = tail(list(range(100)))
    assert (pct, v) == (90.0, 89) and sum(1 for x in range(100) if x > v) == 10


def test_tail_falls_back_to_the_maximum_below_twenty_samples():
    assert tail([5.0, 1.0, 3.0]) == (100.0, 5.0)
    assert tail(list(range(19))) == (100.0, 18.0)
    assert tail(list(range(20))) == (50.0, 9.0)


# -- failures count --------------------------------------------------------


@pytest.fixture(scope="module")
def checker(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ev") / "events.parquet")
    pq.write_table(gen.events_table(5, 3000), path)
    c = Checker(path)
    yield c
    c.close()


def _label_values_req():
    return next(r for r in dashboard() if r["check"] == "label_values")


def test_checker_accepts_the_right_reply_and_rejects_wrong_ones(checker):
    r = _label_values_req()
    right = json.dumps({"status": "success", "data": sorted(gen.EVENT_TYPES)}).encode()
    assert checker.check(r, 200, right) is None
    wrong = json.dumps({"status": "success", "data": sorted(gen.EVENT_TYPES)[1:]}).encode()
    assert checker.check(r, 200, wrong)
    assert checker.check(r, 500, b'{"error": "boom"}')
    assert checker.check(r, 200, b'{"status": "error", "error": "bad_data"}')


def test_injected_wrong_and_error_replies_count_in_fail_frac(checker):
    r = _label_values_req()
    right = json.dumps({"status": "success", "data": sorted(gen.EVENT_TYPES)}).encode()
    reqs = [r, dict(r, path="/api/v1/label/user_id/values")]
    samples = [Sample(0, "meta", 1.0, 200, right, 0.0),
               Sample(0, "meta", 1.0, 200, right, 0.0),
               Sample(1, "meta", 1.0, 400, b'{"error": "x"}', 0.0)]
    verdict, failed = score(samples, reqs, checker.check)
    assert failed == 1 and verdict[key(reqs[1])]
    # a repeat that differs from the checked reply fails every sample of it
    samples.append(Sample(0, "meta", 1.0, 200, b'{"status": "success", "data": []}', 0.0))
    verdict, failed = score(samples, reqs, checker.check)
    assert failed == 4 and verdict[key(reqs[0])]


# -- whole runs ------------------------------------------------------------


def _run(workload: str, cwd: str = ROOT, trace: int = 0):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [
    ("api_dashboard", 0), ("api_dashboard", 1), ("batch_pipeline", 0), ("batch_pipeline", 1)])
def test_tiny_smoke_run(workload, trace):
    p = _run(workload, trace=trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().split("\n")[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = PER_LAYER if trace else END_TO_END
    assert set(out["metrics"]) == set(names)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
    else:  # each workload feeds the layers it exercises
        own = (["promql.parse_ms", "spark.exec_ms", "api.response_kb"]
               if workload == "api_dashboard" else
               ["ingest.cook_metrics_s", "maintenance.compact_s", "dataprep.total_s",
                "plans.tier_query_ms.1h"])
        assert all(out["metrics"][k]["value"] > 0 for k in own)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = _run("api_dashboard", cwd=str(tmp_path))
    assert p.returncode != 0 and not p.stdout.strip()
