"""API surface tests: every reference route answers, and the HTTP
adapter serves the same handlers over a real socket."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from lakerunner_spark.api import QueryAPI, serve


@pytest.fixture(scope="module")
def api(spark, sf_dir):
    return QueryAPI(spark, sf_dir)


def test_all_routes_answer(api):
    params_by_route = {
        "/api/v1/metrics/tags": {"metric": "events"},
        "/api/v1/metrics/tagvalues": {"metric": "events", "tag": "event_type"},
        "/api/v1/metrics/query": {
            "query": "sum by (event_type) (events)", "step_ms": 3_600_000
        },
        "/api/v1/query": {
            "query": "sum by (event_type) (events)", "time": 10**9,
            "step": 3600,
        },
        "/api/v1/query_range": {
            "query": "sum by (event_type) (events)", "step": 3600
        },
        "/api/v1/query_range/stream": {
            "query": "sum by (event_type) (events)", "step": 3600
        },
        "/api/v1/logs/tagvalues": {"tag": "event_type"},
        "/api/v1/logs/query": {"query": '{event_type="error"}', "limit": 5},
        "/api/v1/logs/query/stream": {
            "query": '{event_type="error"}', "limit": 5
        },
        "/api/v1/spans/tagvalues": {"tag": "span_name"},
        "/api/v1/spans/query": {"limit": 5},
        "/api/v1/spans/trace": {"trace_id": "_none_"},
        "/api/v1/spans/trace/stream": {"trace_id": "_none_"},
        "/api/v1/promql/validate": {"query": "rate(events[5m])"},
        "/api/v1/logql/validate": {"query": '{a="b"} |= "x"'},
        "/api/v1/series": {"match[]": 'events{event_type="error"}'},
    }
    for route in QueryAPI.ROUTES:
        out = api.handle(route, params_by_route.get(route))
        if hasattr(out, "__next__"):  # streaming route: consume chunks
            chunks = list(out)
            assert chunks and all(
                isinstance(c, dict) and c.get("status") != "error"
                for c in chunks
            ), route
            continue
        assert isinstance(out, dict) and out, route


def test_metrics_query_shape(api):
    out = api.metrics_query(
        {"query": "sum by (event_type) (events)", "step_ms": 3_600_000}
    )
    assert out["step_ms"] == 3_600_000
    assert out["result"]
    s = out["result"][0]
    assert set(s["labels"]) == {"event_type"}
    assert all(len(v) == 2 for v in s["values"])
    ts = [v[0] for v in s["values"]]
    assert ts == sorted(ts)


def test_logs_query_exemplar_vs_aggregate(api):
    ex = api.logs_query({"query": '{event_type="error"}', "limit": 7})
    assert len(ex["streams"]) == 7
    agg = api.logs_query(
        {
            "query": 'sum by (event_type) (count_over_time({event_type="error"}[10m]))',
            "step_ms": 600_000,
        }
    )
    assert agg["result"] and "value" in agg["result"][0]


def test_validate_rejects_bad_queries(api):
    assert api.promql_validate({"query": "sum by ((("})["valid"] is False
    assert api.promql_validate({"query": "a / group_left b"})["valid"] is False
    assert api.logql_validate({"query": "rate({a='b'})"})["valid"] is False


def test_step_ladder_applied(api):
    out = api.metrics_query(
        {
            "query": "sum by (event_type) (events)",
            "start_ms": 1_704_067_200_000,
            "end_ms": 1_704_067_200_000 + 2 * 3_600_000,
        }
    )
    assert out["step_ms"] == 60_000  # <=12h -> 1m ladder rung


def test_http_adapter_round_trip(api):
    server = serve(api, port=18321)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        def post(path, params):
            req = urllib.request.Request(
                f"http://127.0.0.1:18321{path}",
                data=json.dumps(params).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        code, out = post("/api/v1/ping", {})
        assert code == 200 and out == {"status": "ok"}
        code, out = post(
            "/api/v1/metrics/query",
            {"query": "sum by (event_type) (events)", "step_ms": 3_600_000},
        )
        assert code == 200 and out["result"]
        # unknown route -> 404
        req = urllib.request.Request("http://127.0.0.1:18321/nope", data=b"{}")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
        # bad promql -> 400
        req = urllib.request.Request(
            "http://127.0.0.1:18321/api/v1/metrics/query",
            data=json.dumps({"query": "((("}).encode(),
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()


def test_missing_param_is_400_not_404(api):
    server = serve(api, port=18322)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            "http://127.0.0.1:18322/api/v1/metrics/query", data=b"{}"
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            # missing 'query' param: client error, NOT route-miss
            assert e.code == 400
            assert "missing parameter" in json.loads(e.read())["error"]
    finally:
        server.shutdown()


def test_step_ladder_applies_at_epoch_zero(api):
    """start_ms=0 is a legitimate epoch value; the falsy-zero check
    used to silently fall back to a hardcoded 60s step."""
    out = api.metrics_query(
        {
            "query": "sum by (event_type) (events)",
            "start_ms": 0,
            "end_ms": 3_600_000,
        }
    )
    assert out["step_ms"] == 10_000  # <=65m rung, not the 60s fallback


def test_prometheus_query_range_shape(api):
    """The /api/v1/query_range shim renders the Prometheus wire format:
    matrix resultType, [sec, "str"] sample pairs, per-series metric
    label objects — and accepts Prometheus-style second-based params."""
    out = api.handle(
        "/api/v1/query_range",
        {
            "query": 'sum by (event_type) (rate(events[5m]))',
            "start": 0,
            "end": 10**10,
            "step": 60,
        },
    )
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "matrix"
    result = out["data"]["result"]
    assert result, "expected at least one series"
    for series in result:
        assert set(series["metric"]) == {"event_type"}
        for ts, v in series["values"]:
            assert isinstance(ts, float) and isinstance(v, str)
            float(v)  # parseable sample value
        assert series["values"] == sorted(series["values"])


def test_http_adapter_serves_prometheus_client_shapes(api):
    """Real Prometheus clients send GET with a query string (duration
    step, RFC3339 start) or POST form bodies; both must reach the
    query_range handler through the HTTP adapter, and bad queries get
    the Prometheus error envelope."""
    import http.client
    import json as _json
    import threading
    from urllib.parse import urlencode

    srv = serve(api, port=0)  # ephemeral port
    try:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        qs = urlencode({
            "query": "sum by (event_type) (events)",
            "start": "1970-01-01T00:00:00Z",
            "end": 10**10,
            "step": "1h",
        })
        conn.request("GET", f"/api/v1/query_range?{qs}")
        resp = conn.getresponse()
        out = _json.loads(resp.read())
        assert resp.status == 200 and out["status"] == "success"
        assert out["data"]["result"], out

        body = urlencode({"query": "rate(events[5m]", "step": "60"})
        conn.request(
            "POST", "/api/v1/query_range", body,
            {"Content-Type": "application/x-www-form-urlencoded"},
        )
        resp = conn.getresponse()
        out = _json.loads(resp.read())
        assert out["status"] == "error" and out["errorType"] == "bad_data"
        conn.close()
    finally:
        srv.shutdown()


def test_spans_trace_lookup(api):
    """The trace endpoint returns every span of the requested trace,
    time-ordered, and an unknown id yields an empty span list."""
    # pick a real trace id from the synthetic view
    from lakerunner_spark.queries_spans import _traced_spans

    tid = (
        _traced_spans(api.spark, api.sf_dir)
        .limit(1)
        .collect()[0]
        .span_trace_id
    )
    out = api.handle("/api/v1/spans/trace", {"trace_id": tid})
    assert out["trace_id"] == tid and out["spans"]
    ts = [s["chq_timestamp"] for s in out["spans"]]
    assert ts == sorted(ts)
    assert all(s["span_trace_id"] == tid for s in out["spans"])
    empty = api.handle("/api/v1/spans/trace", {"trace_id": "_none_"})
    assert empty["spans"] == []


def _events_window_s(api):
    from pyspark.sql import functions as F

    from lakerunner_spark.testdata import events_stream

    ev = events_stream(api.spark, api.sf_dir)
    lo, hi = ev.agg(F.min("chq_timestamp"), F.max("chq_timestamp")).first()
    return int(lo) / 1000.0, (int(hi) + 1) / 1000.0


def _merge_stream_chunks(chunks):
    """Client-side merge: concatenate chunk values per label set —
    what an SSE consumer renders incrementally."""
    merged: dict[tuple, list] = {}
    for c in chunks:
        assert c["status"] == "success", c
        assert c["data"]["resultType"] == "matrix"
        for s in c["data"]["result"]:
            merged.setdefault(
                tuple(sorted(s["metric"].items())), []
            ).extend(s["values"])
    return merged


def test_query_range_stream_incremental_then_merges_to_one_shot(
    api, monkeypatch
):
    """O4 through the API (r9 verdict task #6): the FIRST chunk's
    payload reaches the consumer before the LAST slice's plan is even
    built — a batch-complete implementation would deadlock here and
    time out — and the merged chunks reproduce the one-shot
    /api/v1/query_range payload exactly (irate is gate-free, so the
    slice concat is exact; wire format unchanged per chunk)."""
    import threading

    from lakerunner_spark.plans import ordered as ordered_mod

    start_s, end_s = _events_window_s(api)
    params = {
        "query": "sum by (event_type) (irate(events[2h]))",
        "start": start_s,
        "end": end_s,
        "step": 60,
        "n_slices": 4,
        "max_parallel": 3,
    }
    one_shot = api.prometheus_query_range(params)
    assert one_shot["status"] == "success"
    expect = {
        tuple(sorted(s["metric"].items())): s["values"]
        for s in one_shot["data"]["result"]
    }
    assert expect

    # latch: the last slice's build blocks until chunk 0 was CONSUMED
    first_chunk_seen = threading.Event()
    real_build = ordered_mod.build_slice_plan
    end_ms = int(end_s * 1000)

    def gated_build(query, catalog, step_ms, start_ms, lo, hi):
        if hi == end_ms and not first_chunk_seen.wait(timeout=120):
            raise RuntimeError("stream is not incremental")
        return real_build(query, catalog, step_ms, start_ms, lo, hi)

    monkeypatch.setattr(ordered_mod, "build_slice_plan", gated_build)

    chunks = []
    for chunk in api.prometheus_query_range_stream(params):
        first_chunk_seen.set()
        chunks.append(chunk)
    assert len(chunks) == 4
    assert _merge_stream_chunks(chunks) == expect


def test_query_range_stream_error_and_no_bounds_paths(api):
    """A bad query yields ONE Prometheus error envelope (not a raise
    mid-stream); without start/end there is nothing to slice and the
    one-shot payload arrives as a single chunk."""
    bad = list(api.prometheus_query_range_stream(
        {"query": "rate(events[5m", "start": 0, "end": 3600}
    ))
    assert len(bad) == 1 and bad[0]["status"] == "error"

    single = list(api.prometheus_query_range_stream(
        {"query": "sum by (event_type) (events)", "step": 3600}
    ))
    assert len(single) == 1 and single[0]["status"] == "success"
    assert single[0]["data"]["result"]


def test_http_adapter_streams_sse(api):
    """The /api/v1/query_range/stream route serves Server-Sent Events:
    one `data:` frame per slice, each a complete query_range payload,
    merging to the one-shot result."""
    import http.client
    import json as _json
    import threading

    from lakerunner_spark.api import serve

    start_s, end_s = _events_window_s(api)
    srv = serve(api, port=0)
    try:
        port = srv.server_address[1]
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        qs = urllib.parse.urlencode({
            "query": "sum by (event_type) (irate(events[2h]))",
            "start": start_s, "end": end_s, "step": "60s", "n_slices": 3,
        })
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        conn.request("GET", f"/api/v1/query_range/stream?{qs}")
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"
        frames = [
            _json.loads(line[len("data: "):])
            for line in resp.read().decode().split("\n\n")
            if line.startswith("data: ")
        ]
        assert len(frames) == 3

        one_shot = api.prometheus_query_range({
            "query": "sum by (event_type) (irate(events[2h]))",
            "start": start_s, "end": end_s, "step": "60s",
        })
        expect = {
            tuple(sorted(s["metric"].items())): s["values"]
            for s in one_shot["data"]["result"]
        }
        assert _merge_stream_chunks(frames) == expect

        # missing `query` on the stream route is still the 400 path
        conn2 = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn2.request("GET", "/api/v1/query_range/stream")
        assert conn2.getresponse().status == 400
    finally:
        srv.shutdown()


def test_query_range_stream_abandonment_cancels_cleanly(api):
    """A consumer that closes the stream after the first chunk (client
    disconnect) must return promptly — ordered_slice_results' finally
    cancels queued slices — and later requests still work."""
    import time

    start_s, end_s = _events_window_s(api)
    params = {
        "query": "sum by (event_type) (events)",
        "start": start_s, "end": end_s, "step": 60,
        "n_slices": 6, "max_parallel": 2,
    }
    gen = api.prometheus_query_range_stream(params)
    first = next(gen)
    assert first["status"] == "success"
    t0 = time.monotonic()
    gen.close()  # abandon: at most max_parallel in-flight collects drain
    assert time.monotonic() - t0 < 60
    # the session is healthy afterwards
    again = list(api.prometheus_query_range_stream(params))
    assert len(again) == 6


def test_logs_query_stream_aggregate_merges_to_one_shot(api):
    """Aggregate LogQL slicing: window == step makes the coverage gate
    trivially satisfied, so the four sliced chunks concatenate to the
    one-shot logs_query result exactly, and chunks arrive in time
    order (disjoint, ascending bucket windows)."""
    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    q = 'sum by (event_type) (count_over_time({event_type=~".+"}[1m]))'
    params = {"query": q, "start_ms": start_ms, "end_ms": end_ms,
              "step_ms": 60_000, "n_slices": 4}
    one_shot = api.logs_query(params)
    expect = sorted(
        (r["bucket_ts"], r["event_type"], r["value"])
        for r in one_shot["result"]
    )
    assert expect

    got, last_hi = [], None
    chunks = list(api.logs_query_stream(params))
    assert len(chunks) == 4
    for c in chunks:
        assert c["step_ms"] == 60_000
        if c["result"]:
            lo = min(r["bucket_ts"] for r in c["result"])
            if last_hi is not None:
                assert lo > last_hi  # strictly later window per chunk
            last_hi = max(r["bucket_ts"] for r in c["result"])
        got.extend(
            (r["bucket_ts"], r["event_type"], r["value"])
            for r in c["result"]
        )
    assert sorted(got) == expect


def test_logs_query_stream_exemplars_newest_first_with_early_stop(
    api, monkeypatch
):
    """Selector streaming: rows arrive newest-first in global time
    order, the concatenation equals the one-shot exemplar result, and
    once `limit` rows streamed the OLD slices are never evaluated —
    the lazy early stop a batch-complete global top-n cannot do."""
    from lakerunner_spark.logql import compiler as logql_compiler
    from lakerunner_spark.plans import ordered as ordered_mod

    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    params = {
        "query": '{event_type=~".+"}',
        "start_ms": start_ms, "end_ms": end_ms,
        "limit": 12, "n_slices": 6, "tiebreak": ["chq_timestamp"],
    }
    one_shot = api.logs_query(params)
    expect = [r["chq_timestamp"] for r in one_shot["streams"]]
    assert len(expect) == 12

    built = []
    real = ordered_mod.compile_logql_exemplar if hasattr(
        ordered_mod, "compile_logql_exemplar"
    ) else logql_compiler.compile_logql_exemplar

    def counting(query, source, **kw):
        built.append((kw["start_ms"], kw["end_ms"]))
        return real(query, source, **kw)

    monkeypatch.setattr(
        logql_compiler, "compile_logql_exemplar", counting
    )

    got = []
    for chunk in api.logs_query_stream(params):
        assert "streams" in chunk, chunk
        got.extend(r["chq_timestamp"] for r in chunk["streams"])
    assert got == expect  # newest-first, globally ordered, trimmed
    # the data is uniform over the window, so the newest 1-2 of 6
    # slices hold 12 rows; with max_parallel=2 prefetch at most a few
    # builds start — the oldest slices must never have been compiled
    assert len(built) < 6, built
    assert min(b[0] for b in built) > start_ms  # oldest slice untouched


def test_logs_step_default_agrees_between_one_shot_and_stream(api):
    """r10 verdict minor #3: with step_ms omitted, both logs paths
    derive the SAME step from the request window via the step ladder
    (the hard-coded 60s default only applies when there is no window)."""
    from lakerunner_spark.promql.compiler import step_for_duration

    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    q = 'sum by (event_type) (count_over_time({event_type=~".+"}[1m]))'
    params = {"query": q, "start_ms": start_ms, "end_ms": end_ms}
    want = step_for_duration(end_ms - start_ms)
    assert want != 60_000, "window must exercise the ladder, not the fallback"
    one_shot = api.logs_query(params)
    assert one_shot["step_ms"] == want
    chunk = next(api.logs_query_stream(dict(params, n_slices=2)))
    assert chunk["step_ms"] == want


def test_logs_stream_selector_zero_matches_yields_empty_chunk(api):
    """ADVICE r10 (medium): a selector stream with zero matching rows
    must mirror the one-shot's 200 {"streams": []} — one empty chunk
    at the handler level, a 200 SSE response over HTTP (never the 400
    path StopIteration used to trigger)."""
    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    params = {
        "query": '{event_type="___no_such_type___"}',
        "start_ms": start_ms, "end_ms": end_ms, "limit": 5, "n_slices": 3,
    }
    chunks = list(api.logs_query_stream(params))
    assert chunks == [{"streams": []}]
    one_shot = api.logs_query(params)
    assert one_shot == {"streams": []}

    import http.client
    from urllib.parse import urlencode

    srv = serve(api, port=0)
    try:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        qs = urlencode({k: v for k, v in params.items()})
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        conn.request("GET", f"/api/v1/logs/query/stream?{qs}")
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"
        frames = [
            json.loads(line[len("data: "):])
            for line in resp.read().decode().split("\n\n")
            if line.startswith("data: ")
        ]
        assert frames == [{"streams": []}]
    finally:
        srv.shutdown()


def test_http_adapter_logs_query_get_matches_json_post(api):
    """Integer parameters in a URL query string arrive as strings; the
    engine-native routes coerce them, so a GET answers exactly what the
    same request as a JSON POST body answers."""
    import http.client
    from urllib.parse import urlencode

    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    requests = [
        ("/api/v1/logs/query", {
            "query": 'sum by (event_type) (count_over_time({event_type=~".+"}[10m]))',
            "start_ms": start_ms, "end_ms": end_ms, "step_ms": 600_000,
        }),
        ("/api/v1/logs/query", {
            "query": 'count_over_time({event_type="error"}[10m])',
            "start_ms": start_ms, "end_ms": end_ms,
        }),
        ("/api/v1/logs/query", {
            "query": '{event_type="error"}',
            "start_ms": start_ms, "end_ms": end_ms, "limit": 5,
        }),
        ("/api/v1/metrics/query", {
            "query": "sum by (event_type) (events)",
            "start_ms": start_ms, "end_ms": end_ms,
        }),
    ]

    def canonical(body: bytes):
        out = json.loads(body)
        for key in ("result", "streams"):  # row order is not part of the reply
            if key in out:
                out[key] = sorted(out[key], key=json.dumps)
        return out

    srv = serve(api, port=0)
    try:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        for path, params in requests:
            conn.request("GET", f"{path}?{urlencode(params)}")
            get = conn.getresponse()
            get_body = get.read()
            conn.request("POST", path, json.dumps(params),
                         {"Content-Type": "application/json"})
            post = conn.getresponse()
            post_body = post.read()
            assert (get.status, post.status) == (200, 200), (path, get_body)
            assert canonical(get_body) == canonical(post_body), params
            assert any(canonical(get_body).get(k) for k in ("result", "streams"))
        conn.close()
    finally:
        srv.shutdown()


def test_http_adapter_empty_generator_is_200_zero_events(api, monkeypatch):
    """Belt-and-braces for the same ADVICE item: even a handler that
    yields NOTHING (an empty generator) gets a 200 SSE response with
    zero data frames, not a 400 from the StopIteration."""
    import http.client

    monkeypatch.setitem(
        QueryAPI.ROUTES, "/api/v1/_test/empty_stream", "_empty_stream"
    )
    monkeypatch.setattr(
        QueryAPI, "_empty_stream", lambda self, params: iter(()),
        raising=False,
    )
    srv = serve(api, port=0)
    try:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET", "/api/v1/_test/empty_stream")
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"
        assert resp.read() == b""
    finally:
        srv.shutdown()


def test_http_adapter_mid_stream_failure_closes_without_second_response(
    api, monkeypatch
):
    """ADVICE r10 (low): an exception escaping the generator AFTER SSE
    headers/chunks went out must terminate the connection — not fall
    back into _respond's send_response(400), which would append a
    second HTTP response onto the partially-written 200 stream."""
    import http.client

    def exploding(self, params):
        yield {"ok": 1}
        raise KeyError("late-slice failure")

    monkeypatch.setitem(
        QueryAPI.ROUTES, "/api/v1/_test/exploding_stream", "_exploding"
    )
    monkeypatch.setattr(QueryAPI, "_exploding", exploding, raising=False)
    srv = serve(api, port=0)
    try:
        port = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET", "/api/v1/_test/exploding_stream")
        resp = conn.getresponse()
        assert resp.status == 200
        body = resp.read().decode()  # reads until connection close
        assert body.startswith("data: ")
        # no second HTTP response appended after the stream broke
        assert "HTTP/1." not in body and '"error"' not in body
    finally:
        srv.shutdown()


def test_logs_stream_selector_order_asc(api):
    """ADVICE r10 (low): order=asc on the stream route walks slices
    oldest-first and returns ascending rows — matching the one-shot
    handler's order=asc result instead of silently returning desc."""
    start_ms, end_ms = (int(v * 1000) for v in _events_window_s(api))
    params = {
        "query": '{event_type=~".+"}',
        "start_ms": start_ms, "end_ms": end_ms,
        "limit": 12, "n_slices": 6, "order": "asc",
        "tiebreak": ["chq_timestamp"],
    }
    one_shot = api.logs_query(params)
    expect = [r["chq_timestamp"] for r in one_shot["streams"]]
    assert expect == sorted(expect) and len(expect) == 12

    got = []
    for chunk in api.logs_query_stream(params):
        got.extend(r["chq_timestamp"] for r in chunk["streams"])
    assert got == expect


def test_spans_ordered_trace_newest_first_with_early_stop(api, monkeypatch):
    """r10 verdict task #7 (plans level): a trace's spans stream
    newest-first with lazy early stop — once `limit` spans streamed,
    older slices are never even compiled (build-call counting, the
    logs plane's proof). Reference: spans_worker_sql.go:85-112 orders
    a trace's exemplar spans newest-first. Synthetic table so the
    span distribution over slices is pinned."""
    from lakerunner_spark.plans import ordered as ordered_mod

    rows = [
        ("t1", f"s{i:02d}", "op", i * 300_000, 10 + i) for i in range(12)
    ] + [("t2", "x0", "op", 600_000, 99)]
    spans = api.spark.createDataFrame(
        rows,
        "span_trace_id string, span_id string, span_name string,"
        " chq_timestamp long, span_duration long",
    )

    built = []
    real = ordered_mod.build_trace_slice

    def counting(df, trace_id, lo, hi, limit, descending=True):
        built.append((lo, hi))
        return real(df, trace_id, lo, hi, limit, descending=descending)

    monkeypatch.setattr(ordered_mod, "build_trace_slice", counting)

    got = []
    for chunk in ordered_mod.spans_ordered_trace(
        spans, "t1", 0, 3_600_000, limit=4, n_slices=6, max_parallel=1
    ):
        got.extend((r["chq_timestamp"], r["span_id"]) for r in chunk)
    # newest 4 of t1's 12 spans (t2 excluded), global DESC order
    assert got == [
        (3_300_000, "s11"), (3_000_000, "s10"),
        (2_700_000, "s09"), (2_400_000, "s08"),
    ]
    # 12 spans spread uniformly: the newest 2 of 6 slices hold 4 rows;
    # with max_parallel=1 the 4 oldest slices are never compiled
    assert len(built) <= 3, built
    assert min(b[0] for b in built) > 0  # oldest slice untouched

    # order=asc flips the walk: oldest-first, ascending rows
    got_asc = []
    for chunk in ordered_mod.spans_ordered_trace(
        spans, "t1", 0, 3_600_000, limit=4, n_slices=6, max_parallel=1,
        descending=False,
    ):
        got_asc.extend((r["chq_timestamp"], r["span_id"]) for r in chunk)
    assert got_asc == [
        (0, "s00"), (300_000, "s01"), (600_000, "s02"), (900_000, "s03")
    ]


def test_spans_trace_stream_api_parity(api):
    """The /api/v1/spans/trace/stream endpoint: streamed chunks
    concatenate to the one-shot trace lookup's spans, newest-first."""
    from pyspark.sql import functions as F

    from lakerunner_spark.queries_spans import _traced_spans

    s = _traced_spans(api.spark, api.sf_dir)
    tid = (
        s.groupBy("span_trace_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("span_trace_id").asc())
        .first()[0]
    )
    hour_start = int(tid.split("-")[-1])
    params = {
        "trace_id": tid,
        "start_ms": hour_start, "end_ms": hour_start + 3_600_000,
        "limit": 100, "n_slices": 4, "max_parallel": 2,
    }
    got = []
    for chunk in api.spans_trace_stream(params):
        assert chunk["trace_id"] == tid
        got.extend(
            (r["chq_timestamp"], r["span_id"]) for r in chunk["spans"]
        )
    one_shot = api.spans_trace({"trace_id": tid})
    assert one_shot["spans"]
    newest_first = sorted(
        ((r["chq_timestamp"], r["span_id"]) for r in one_shot["spans"]),
        reverse=True,
    )
    assert got == newest_first


def test_spans_trace_stream_no_bounds_single_chunk(api):
    out = list(api.spans_trace_stream({"trace_id": "_none_"}))
    assert out == [{"trace_id": "_none_", "spans": []}]


def test_prometheus_instant_query(api):
    """/api/v1/query (instant): resultType=vector, the value at `time`
    equals the range evaluation's bucket containing it, timestamps
    echo the request time, values stringified."""
    start_s, end_s = _events_window_s(api)
    # pick a bucket that actually holds samples (the fixture is sparse
    # at 60s grain) and ask for the instant 30s into it
    probe = api.metrics_query({
        "query": "sum by (event_type) (events)",
        "start_ms": int(start_s * 1000), "end_ms": int(end_s * 1000),
        "step_ms": 60_000,
    })
    bucket = next(
        ts
        for s in probe["result"]
        for ts, v in s["values"]
        if v is not None
    )
    t_s = bucket / 1000.0 + 30
    out = api.handle("/api/v1/query", {
        "query": "sum by (event_type) (events)", "time": t_s, "step": 60,
    })
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "vector"
    vec = out["data"]["result"]
    assert vec
    t_ms = int(t_s * 1000)
    assert t_ms - t_ms % 60_000 == bucket
    want = {
        tuple(sorted(s["labels"].items())): v
        for s in probe["result"]
        for ts, v in s["values"]
        if ts == bucket and v is not None
    }
    got = {
        tuple(sorted(s["metric"].items())): float(s["value"][1])
        for s in vec
    }
    assert got == {k: float(v) for k, v in want.items()}
    for s in vec:
        assert s["value"][0] == t_ms / 1000.0
        assert isinstance(s["value"][1], str)
    # bad query -> Prometheus error envelope, not a raise
    bad = api.handle("/api/v1/query", {"query": "rate(events[5m", "time": t_s})
    assert bad["status"] == "error" and bad["errorType"] == "bad_data"


def test_prometheus_labels_and_label_values(api):
    """/api/v1/labels and the path-parameterized
    /api/v1/label/<name>/values: Prometheus wire shapes over the
    engine catalog; __name__ yields metric names."""
    labels = api.handle("/api/v1/labels")
    assert labels["status"] == "success"
    assert "__name__" in labels["data"] and "event_type" in labels["data"]
    assert labels["data"] == sorted(labels["data"])

    names = api.handle("/api/v1/label/__name__/values")
    assert names["status"] == "success" and "events" in names["data"]

    vals = api.handle("/api/v1/label/event_type/values")
    tagvals = api.metrics_tagvalues({"metric": "events", "tag": "event_type"})
    assert set(vals["data"]) >= set(v for v in tagvals["values"] if v)

    import pytest as _pytest

    from lakerunner_spark.api import QueryAPI as _Q

    with _pytest.raises(_Q.RouteNotFound):
        api.handle("/api/v1/label//values")


def test_prometheus_instant_query_lookback(api):
    """r11 verdict task #5: the instant query's optional ``lookback``
    serves a sparse series' NEWEST non-empty bucket within the window
    (Prometheus's 5m staleness rule at bucket granularity); the
    DEFAULT stays the reference-faithful bucket semantics — both modes
    pinned here."""
    start_s, end_s = _events_window_s(api)
    probe = api.metrics_query({
        "query": "sum by (event_type) (events)",
        "start_ms": int(start_s * 1000), "end_ms": int(end_s * 1000),
        "step_ms": 60_000,
    })
    # a (series, bucket) whose NEXT bucket holds no sample
    series = None
    for s in probe["result"]:
        have = {ts for ts, v in s["values"] if v is not None}
        for ts in sorted(have):
            if ts + 60_000 not in have and ts + 60_000 <= end_s * 1000:
                series, bucket, val = s, ts, dict(s["values"])[ts]
                break
        if series:
            break
    assert series, "fixture has no sparse 60s series"
    t_s = (bucket + 60_000 + 30_000) / 1000.0  # inside the EMPTY bucket
    key = tuple(sorted(series["labels"].items()))

    # default bucket semantics: the empty bucket answers nothing
    dflt = api.handle("/api/v1/query", {
        "query": "sum by (event_type) (events)", "time": t_s, "step": 60,
    })
    got_dflt = {
        tuple(sorted(s["metric"].items())) for s in dflt["data"]["result"]
    }
    assert key not in got_dflt

    # lookback=5m: the previous bucket's value, timestamped at `time`
    lb = api.handle("/api/v1/query", {
        "query": "sum by (event_type) (events)", "time": t_s, "step": 60,
        "lookback": "5m",
    })
    got_lb = {
        tuple(sorted(s["metric"].items())): s["value"]
        for s in lb["data"]["result"]
    }
    assert key in got_lb
    assert float(got_lb[key][1]) == val
    assert got_lb[key][0] == t_s
    # a lookback too short to reach the previous bucket changes nothing
    short = api.handle("/api/v1/query", {
        "query": "sum by (event_type) (events)", "time": t_s, "step": 60,
        "lookback": 10,
    })
    got_short = {
        tuple(sorted(s["metric"].items())) for s in short["data"]["result"]
    }
    assert key not in got_short


def test_prometheus_label_values_single_job_many_metrics(
    api, spark, monkeypatch
):
    """r11 verdict task #6: /api/v1/label/<name>/values issues ONE
    Spark job for a k-metric catalog (unioned plan, one distinct, one
    collect) and returns the same values the per-leaf loop did."""
    import lakerunner_spark.api as apimod
    from pyspark.sql import DataFrame
    from lakerunner_spark.promql.compiler import LeafSource, MetricCatalog

    leaves = {}
    values = {"m1": ["a", "b"], "m2": ["b", "c"], "m3": ["d"]}
    for name, vals in values.items():
        df = spark.createDataFrame(
            [(1_000, v, 1.0) for v in vals] + [(2_000, None, 2.0)],
            "chq_timestamp long, region string, value double",
        )
        leaves[name] = LeafSource(df, ["region"])
    # one leaf NOT carrying the label must not break the union
    leaves["m4"] = LeafSource(
        spark.createDataFrame(
            [(1_000, "x", 1.0)],
            "chq_timestamp long, other string, value double",
        ),
        ["other"],
    )
    cat = MetricCatalog(leaves)
    monkeypatch.setattr(
        apimod, "default_metric_catalog", lambda s, d: cat
    )
    collects = []
    # patch the CONCRETE class (Spark 4 instances are
    # pyspark.sql.classic subclasses overriding the abstract base)
    cls = type(leaves["m1"].df)
    orig = cls.collect
    monkeypatch.setattr(
        cls, "collect",
        lambda self: (collects.append(1), orig(self))[1],
    )
    out = api.prometheus_label_values({"label": "region"})
    assert out["data"] == ["a", "b", "c", "d"]
    assert len(collects) == 1, f"{len(collects)} collects for one call"
    # __name__ and absent-label paths
    assert api.prometheus_label_values({"label": "__name__"})["data"] == [
        "m1", "m2", "m3", "m4"
    ]
    assert api.prometheus_label_values({"label": "nope"})["data"] == []


def test_prometheus_series_endpoint(api):
    """r11 verdict task #7: /api/v1/series answers match[] selectors
    with distinct label sets incl __name__ — the Prometheus wire shape
    Grafana's browse flows consume."""
    out = api.handle(
        "/api/v1/series", {"match[]": 'events{event_type="error"}'}
    )
    assert out["status"] == "success"
    assert out["data"], "selector should match series"
    for d in out["data"]:
        assert d["__name__"] == "events"
        assert d["event_type"] == "error"
    # distinct + sorted, matches the catalog's own distinct count
    keys = [tuple(sorted(d.items())) for d in out["data"]]
    assert keys == sorted(set(keys))

    # bare selector (no metric name) scans the catalog
    bare = api.handle(
        "/api/v1/series", {"match": '{event_type="error"}'}
    )
    assert bare["data"] == out["data"]

    # regex matcher routes through the same stage operators
    rex = api.handle(
        "/api/v1/series", {"match[]": 'events{event_type=~"err.*"}'}
    )
    assert {d["event_type"] for d in rex["data"]} == {"error"}

    # absent label: ="" matches everything, !="" nothing
    all_s = api.handle("/api/v1/series", {"match[]": 'events{nope=""}'})
    none_s = api.handle("/api/v1/series", {"match[]": 'events{nope!=""}'})
    assert len(all_s["data"]) > len(out["data"])
    assert none_s["data"] == []

    # unknown metric matches nothing; non-selector -> error envelope;
    # missing match[] -> the adapter's 400 (KeyError)
    assert api.handle("/api/v1/series", {"match[]": "nosuch"})["data"] == []
    bad = api.handle("/api/v1/series", {"match[]": "rate(events[5m])"})
    assert bad["status"] == "error" and bad["errorType"] == "bad_data"
    import pytest as _pytest

    with _pytest.raises(KeyError):
        api.prometheus_series({})


def test_series_wire_multiple_match_params(api):
    """Prometheus clients send REPEATED match[] query params; the
    adapter must accumulate them into a list (a plain dict(parse_qsl)
    kept only the last — the r12 fix), and the endpoint unions the
    selectors' results."""
    server = serve(api, port=18327)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        from urllib.parse import quote

        m1 = quote('events{event_type="error"}')
        m2 = quote('events{event_type="purchase"}')
        url = (
            "http://127.0.0.1:18327/api/v1/series"
            f"?match%5B%5D={m1}&match%5B%5D={m2}"
        )
        with urllib.request.urlopen(url) as resp:
            assert resp.status == 200
            out = json.loads(resp.read())
        assert out["status"] == "success"
        types = {d["event_type"] for d in out["data"]}
        assert types == {"error", "purchase"}
        # single param still works (scalar, not list)
        with urllib.request.urlopen(
            f"http://127.0.0.1:18327/api/v1/series?match%5B%5D={m1}"
        ) as resp:
            one = json.loads(resp.read())
        assert {d["event_type"] for d in one["data"]} == {"error"}
        # missing match[] -> 400
        try:
            urllib.request.urlopen("http://127.0.0.1:18327/api/v1/series")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        server.shutdown()
