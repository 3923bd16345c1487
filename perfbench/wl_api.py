"""api_dashboard: dashboard viewers against the stdlib HTTP adapter.

A closed loop of ``CLIENTS`` client threads, each sending its next
request only after the previous reply, drives ``serve()`` on 127.0.0.1
over a seeded 30-day ``events`` corpus. Every second request is a panel
of one fixed dashboard (the same request text on every refresh); the
others are ad-hoc windows, matchers and line filters drawn from the
seed. An untimed warm-up of the same loop comes first. Every distinct
request of the timed loop is checked once after it (see ``check``), and
every repeat must return the same bytes as the checked reply.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import threading
import time
import types
from typing import NamedTuple
from urllib.parse import urlencode

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Anchor, Context, Stopwatch, timed_setup
from perfbench.metrics import API_CLASSES
from perfbench.stats import median, tail
from perfbench.trace import catalyst_phases, max_job_id, stage_cursor, stage_work

CLIENTS = 2
MIN_REQUESTS = 40  # the window stretches until this many replies are in
# untimed closed loop before the window, counted in requests, not
# seconds: over the first 50-100 requests the JIT compiler threads take
# up to two of four cores and latency falls by a third. A warm-up of
# fixed length would leave the JIT further behind on a slower host.
WARMUP_REQUESTS = 40
ANCHOR_EVERY_S = 5.0  # how often the timed loop pauses to time the anchor
N_EVENTS = 250_000
END_MS = gen.EPOCH_MS + 30 * gen.DAY_MS  # "now" for the dashboard
H = gen.HOUR_MS
CLASSES = API_CLASSES


# -- request mix ---------------------------------------------------------


def _req(cls: str, path: str, check: str, **params) -> dict:
    return {"cls": cls, "path": path, "check": check, "params": params}


def _range(query, start_ms, end_ms, step_ms, check):
    return _req("promql_range", "/api/v1/query_range", check, query=query,
                start=start_ms / 1000, end=end_ms / 1000, step=step_ms / 1000)


def dashboard() -> list[dict]:
    """The fixed dashboard: the same panels for every seed."""
    return [
        _range("sum by (event_type) (count_over_time(events[5m]))",
               END_MS - 6 * H, END_MS, 300_000, "prom_bucket"),
        _range("sum by (event_type) (rate(events[15m]))",
               END_MS - 24 * H, END_MS, 300_000, "prom_shape"),
        _range('sum by (event_type) (sum_over_time(events{event_type=~"purchase|signup"}[1h]))',
               END_MS - 30 * 24 * H, END_MS, H, "prom_bucket"),
        _req("promql_instant", "/api/v1/query", "prom_instant",
             query="sum by (event_type) (count_over_time(events[1h]))",
             time=(END_MS - H) / 1000, step=3600),
        _req("logql_metric", "/api/v1/logs/query", "logql_bucket",
             query='sum by (event_type) (count_over_time({event_type=~"error|purchase"} |= "7" [1h]))',
             start_ms=END_MS - 24 * H, end_ms=END_MS, step_ms=H),
        _req("logql_select", "/api/v1/logs/query", "logql_select",
             query='{event_type="error"} |= "9"', start_ms=END_MS - 6 * H,
             end_ms=END_MS, limit=100),
        _req("meta", "/api/v1/label/event_type/values", "label_values"),
        _req("meta", "/api/v1/series", "series", **{
            "match[]": 'events{event_type="purchase"}'}),
        _req("trace", "/api/v1/spans/trace", "trace",
             trace_id=f"7-{END_MS - 2 * H}"),
    ]


def adhoc(rng: np.random.Generator, cls: str, k: int = 0) -> dict:
    """The ``k``-th ad-hoc request of class ``cls``: the window's
    position, the matchers and the line filter come from the seed; the
    window's length is fixed per class and the query shape rotates with
    ``k``, so every seed asks for the same amount of work."""
    i = int(rng.integers(0, len(gen.EVENT_TYPES)))
    et, et2 = gen.EVENT_TYPES[i], gen.EVENT_TYPES[(i + 1) % len(gen.EVENT_TYPES)]
    end = END_MS - int(rng.integers(1, 28 * 24)) * H
    start = end - 6 * H
    digit = str(int(rng.integers(0, 10)))
    if cls == "promql_range":
        fn = ("count_over_time", "sum_over_time")[k % 2]
        if k // 2 % 2 == 0:
            q = f'sum by (event_type) ({fn}(events{{event_type="{et}"}}[5m]))'
        else:
            q = f'sum by (user_id) ({fn}(events{{event_type=~"{et}|{et2}"}}[5m]))'
        return _range(q, start, end, 300_000, "prom_bucket")
    if cls == "promql_instant":
        return _req(cls, "/api/v1/query", "prom_instant",
                    query=f'sum by (event_type) (count_over_time(events{{event_type!="{et}"}}[1h]))',
                    time=end / 1000, step=3600)
    if cls == "logql_metric":
        return _req(cls, "/api/v1/logs/query", "logql_bucket",
                    query=f'sum by (event_type) (count_over_time({{event_type="{et}"}} |= "{digit}" [5m]))',
                    start_ms=start, end_ms=end, step_ms=300_000)
    if cls == "logql_select":
        return _req(cls, "/api/v1/logs/query", "logql_select",
                    query=f'{{event_type="{et}"}} |= "{digit}"', start_ms=start,
                    end_ms=end, limit=100)
    if cls == "meta":
        return _req(cls, "/api/v1/series", "series",
                    **{"match[]": f'events{{event_type="{et}"}}',
                       "start": start / 1000, "end": end / 1000})
    uid = int(rng.integers(0, gen.N_USERS))
    return _req("trace", "/api/v1/spans/trace", "trace",
                trace_id=f"{uid}-{end - H}")


def schedule(seed: int, n: int, stream: int = 0) -> list[dict]:
    """n requests: dashboard panels (in order, cycled) interleaved with
    ad-hoc requests. The warm-up draws its ad-hoc requests from another
    ``stream`` than the timed window, so none of them repeats there."""
    rng = np.random.default_rng([seed, 7, stream])
    panels = itertools.cycle(dashboard())
    # the same class mix for every seed
    classes = itertools.cycle((cls, k) for k in itertools.count() for cls in CLASSES)
    return [next(panels) if i % 2 == 0 else adhoc(rng, *next(classes))
            for i in range(n)]


def key(r: dict) -> str:
    return r["path"] + "?" + urlencode(sorted(r["params"].items()))


class Sample(NamedTuple):
    idx: int  # position in the schedule
    cls: str
    ms: float
    status: int
    body: bytes
    start: float


def score(samples: list[Sample], reqs: list[dict], check) -> tuple[dict, int]:
    """Check each distinct request once (``check(req, status, body)``
    returns None or what is wrong); a repeat must return the bytes of
    the checked reply. Returns (verdict per request key, failed count);
    every sample of a wrong request counts as failed."""
    verdict: dict[str, str | None] = {}
    first: dict[str, bytes] = {}
    for s in samples:
        k = key(reqs[s.idx])
        if k not in verdict:
            first[k] = s.body
            verdict[k] = check(reqs[s.idx], s.status, s.body)
        elif s.body != first[k] and not verdict[k]:
            verdict[k] = "a repeat returned different bytes"
    failed = sum(1 for s in samples if verdict[key(reqs[s.idx])])
    return verdict, failed


# -- HTTP ----------------------------------------------------------------


# engine-native routes take typed parameters as a JSON body; the
# Prometheus-compatible routes take the query string, as Grafana sends them
NATIVE = ("/api/v1/logs/", "/api/v1/spans/")


def fetch(port: int, r: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        if r["path"].startswith(NATIVE):
            conn.request("POST", r["path"], body=json.dumps(r["params"]),
                         headers={"Content-Type": "application/json"})
        else:
            conn.request("GET", key(r))
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _build(ctx: Context, d: str):
    from lakerunner_spark.api import QueryAPI, serve

    os.makedirs(d)
    n = max(20_000, int(N_EVENTS * ctx.scale))
    pq.write_table(gen.events_table(ctx.seed, n), f"{d}/events.parquet",
                   row_group_size=256 * 1024)
    server = serve(QueryAPI(ctx.spark, d), port=0)
    # shutdown() waits for the next poll; every set-up but the last stops it
    threading.Thread(target=server.serve_forever, args=(0.05,), daemon=True).start()
    return d, server


def _stop(server) -> None:
    server.shutdown()
    server.server_close()


def _install_tracing(ctx: Context, state: dict) -> None:
    """Spans around the front-ends and the API, from this file."""
    import lakerunner_spark.api as api
    import lakerunner_spark.promql.compiler as pc

    tr = ctx.tracer
    tr.wrap(pc, "parse_promql", "promql.parse")
    tr.wrap(api, "compile_promql", "promql.compile", capture=True)
    tr.wrap(api, "parse_logql", "logql.parse")
    tr.wrap(api, "compile_logql", "logql.compile", capture=True)
    tr.wrap(api, "compile_logql_exemplar", "logql.compile", capture=True)
    orig_handle = api.QueryAPI.handle
    seq = itertools.count()
    lock = threading.Lock()

    def handle(self, path, params=None):
        # requests that start in odd time slots run untraced: the
        # latency difference between the two sets is the overhead
        tr.begin_request(f"r{next(seq)}", traced=_traced_slot(state, time.perf_counter()))
        with tr.span("api.handle", path=path):
            out = orig_handle(self, path, params)
        if tr.active():
            ph = {}
            for df in tr.captured_dfs():
                for k, v in catalyst_phases(df).items():
                    ph[k] = ph.get(k, 0.0) + v
            with lock:
                state["phases"].append(ph)
        return out

    api.QueryAPI.handle = handle

    def dumps(obj, *a, **kw):
        t0 = time.perf_counter()
        s = json.dumps(obj, *a, **kw)
        if tr.active():
            with lock:
                state["render_ms"].append((time.perf_counter() - t0) * 1e3)
        return s

    api.json = types.SimpleNamespace(dumps=dumps, loads=json.loads)


TRACE_SLOT_S = 1.0


def _traced_slot(state: dict, t: float) -> bool:
    return int((t - state["t0"]) / TRACE_SLOT_S) % 2 == 0


def drive(port: int, reqs: list[dict], seconds: float, min_requests: int = 0,
          anchor: Anchor | None = None) -> tuple[list[Sample], float]:
    """The closed loop: ``CLIENTS`` threads take the next request of
    ``reqs`` when their previous reply is in, until ``seconds`` are over
    and ``min_requests`` replies are in. With an ``anchor``, the loop
    stops every ``ANCHOR_EVERY_S`` seconds, lets the requests in flight
    finish, and times the anchor. Returns (samples, seconds the clients
    ran)."""
    nxt = iter(range(len(reqs)))
    lock = threading.Lock()
    samples: list[Sample] = []

    def client(t_end: float, least: int):
        while time.perf_counter() < t_end or len(samples) < least:
            with lock:
                i = next(nxt)
            r = reqs[i]
            sw = Stopwatch()
            try:
                status, body = fetch(port, r)
            except Exception as e:  # noqa: BLE001 - counted as failed
                status, body = 0, str(e).encode()
            ms = sw.seconds() * 1e3
            with lock:
                samples.append(Sample(i, r["cls"], ms, status, body, sw.t0))

    every = ANCHOR_EVERY_S if anchor is not None and anchor.enabled else seconds
    wall, left = 0.0, seconds
    while True:
        last = left <= every
        t_end = time.perf_counter() + min(left, every)
        window = Stopwatch()
        threads = [threading.Thread(target=client, args=(t_end, min_requests if last else 0))
                   for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall += window.seconds()
        if anchor is not None:
            anchor.mark()
        if last:
            return samples, wall
        left -= every


def run(ctx: Context) -> dict:
    spark = ctx.spark
    setup_s, (d, server) = timed_setup(ctx, lambda p: _build(ctx, p),
                                       lambda built: _stop(built[1]))
    port = server.server_address[1]
    # warm-up, untimed and unchecked (tiny test runs shorten it)
    ctx.anchor.warm()
    drive(port, schedule(ctx.seed, 100_000, stream=1), 0,
          int(WARMUP_REQUESTS * min(ctx.scale, 1.0)))
    state = {"phases": [], "render_ms": [], "t0": time.perf_counter()}
    if ctx.tracer.enabled:
        _install_tracing(ctx, state)

    reqs = schedule(ctx.seed, 100_000)
    cur = stage_cursor(spark) if ctx.tracer.enabled else None
    jobs0 = max_job_id(spark) if ctx.tracer.enabled else 0
    ctx.anchor.mark()
    samples, wall = drive(port, reqs, ctx.seconds, MIN_REQUESTS, ctx.anchor)
    f = ctx.anchor.factor()
    work = stage_work(spark, cur) if ctx.tracer.enabled else {}
    jobs = max_job_id(spark) - jobs0 if ctx.tracer.enabled else 0
    _stop(server)

    # correctness, untimed: each distinct request once; repeats must match
    from perfbench.check_api import Checker

    checker = Checker(f"{d}/events.parquet")
    verdict, failed = score(samples, reqs, checker.check)
    checker.close()
    for k, why in verdict.items():
        if why:
            ctx.fail(f"{k}: {why}")
    ok = len(samples) - failed
    lat = [s.ms * f for s in samples]
    wall *= f
    tl = tail(lat)
    named = {
        "query_p50_ms": (median(lat), "ms"),
        "query_tail_ms": (tl[1], "ms"),
        "query_tail_pct": (tl[0], ""),
        "query_rps": (ok / wall, "1/s"),
        "fail_frac": (failed / max(len(samples), 1), ""),
        "requests": (len(samples), ""),
        "distinct_requests": (len(verdict), ""),
    }
    res = {
        "setup_s": setup_s,
        "op_p50_ms": median(lat),
        "op_tail_ms": tl[1],
        "throughput_per_s": ok / wall,
        "attempted": len(samples),
        "failed": failed,
        "failures": ctx.failures,
        "named": named,
    }
    if ctx.tracer.enabled:
        res["per_layer"] = _per_layer(ctx, samples, state, work, jobs)
    return res


def _rows_out(body: bytes) -> int:
    try:
        out = json.loads(body)
    except ValueError:
        return 0
    data = out.get("data", out)
    if isinstance(data, dict) and "result" in data:
        return sum(len(s.get("values", [1])) for s in data["result"])
    for k in ("result", "streams", "spans", "data"):
        if isinstance(out.get(k), list):
            return len(out[k])
    return 0


def _per_layer(ctx, samples, state, work, jobs) -> dict:
    tr = ctx.tracer
    n = max(len(samples), 1)
    pl = {}
    for name in ("promql.parse", "logql.parse"):
        d = tr.durations_ms(name)
        pl[name + "_ms"] = (median(d) if d else 0.0, "ms")
    for name in ("promql.compile", "logql.compile"):
        d = tr.self_ms(name)  # parse is a child span of compile
        pl[name + "_ms"] = (median(d) if d else 0.0, "ms")
    for ph in ("analysis", "optimization", "planning"):
        v = [p[ph] for p in state["phases"] if ph in p]
        pl[f"catalyst.{ph}_ms"] = (median(v) if v else 0.0, "ms")
    # execution + collect: the handler's time outside front-end spans and
    # Catalyst's analysis/optimization/planning
    by_req: dict = {}
    for s in tr.spans:
        by_req.setdefault(s["req"], []).append(s)
    exec_ms = []
    for spans in by_req.values():
        h = [s for s in spans if s["name"] == "api.handle"]
        if not h:
            continue
        fe = sum(s["end"] - s["start"] for s in spans
                 if s["name"] in ("promql.compile", "logql.compile")
                 or (s["name"] == "logql.parse"))
        exec_ms.append((h[0]["end"] - h[0]["start"] - fe) * 1e3)
    cat = median([sum(p.values()) for p in state["phases"]]) if state["phases"] else 0.0
    pl["spark.exec_ms"] = (max(median(exec_ms) - cat, 0.0) if exec_ms else 0.0, "ms")
    pl["spark.jobs_per_req"] = (jobs / n, "count")
    pl["spark.tasks_per_req"] = (work.get("tasks", 0) / n, "count")
    pl["spark.input_rows_per_req"] = (work.get("input_rows", 0) / n, "count")
    pl["spark.shuffle_kb_per_req"] = (work.get("shuffle_write_b", 0) / 1024 / n, "KB")
    rows_out = sum(_rows_out(s.body) for s in samples)
    pl["api.rows_scanned_per_row_out"] = (
        work.get("input_rows", 0) / rows_out if rows_out else 0.0, "ratio")
    for cls in CLASSES:
        v = [s.ms for s in samples if s.cls == cls]
        pl[f"api.http_ms.{cls}"] = (median(v) if v else 0.0, "ms")
    pl["api.render_ms"] = (median(state["render_ms"]) if state["render_ms"] else 0.0, "ms")
    pl["api.response_kb"] = (median([len(s.body) / 1024 for s in samples]), "KB")
    traced = [s.ms for s in samples if _traced_slot(state, s.start)]
    untraced = [s.ms for s in samples if not _traced_slot(state, s.start)]
    pl["trace.overhead_ms"] = (
        median(traced) - median(untraced) if traced and untraced else 0.0, "ms")
    return pl
