"""In-memory span tracer and Spark work counters for the traced run.

A span is one call into a layer: name, start, end, parent span and
request id. Spans are recorded around the engine's public functions by
wrapping them from here (``Tracer.wrap``); the engine itself is not
instrumented. Spans stay in memory and are written out as JSON lines
when the run ends.

Spark work comes from two driver-side stores that exist with the UI
off: the AppStatusStore for stage counters (``tools/work_metrics.py``)
and the SQL status store for per-operator SQL metrics (the Python seam
timers on MapInPandas / MapInArrow / ArrowEvalPython nodes).
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- request context --------------------------------------------------

    def begin_request(self, req_id: str | None, traced: bool = True) -> None:
        """Bind the calling thread to a request; ``traced=False`` makes
        the wrappers pass straight through for it."""
        self._local.req = req_id
        self._local.on = self.enabled and traced
        self._local.stack = []
        self._local.dfs = []

    def active(self) -> bool:
        return getattr(self._local, "on", self.enabled)

    def captured_dfs(self) -> list:
        return getattr(self._local, "dfs", [])

    def capture_df(self, df) -> None:
        if self.active():
            self._local.__dict__.setdefault("dfs", []).append(df)

    # -- spans ------------------------------------------------------------

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, capture: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``capture`` keeps a returned DataFrame so the caller can read
        its Catalyst phase timings after execution."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer.active():
                return fn(*a, **kw)
            with tracer.span(name):
                out = fn(*a, **kw)
            if capture and hasattr(out, "_jdf"):
                tracer.capture_df(out)
            return out

        setattr(owner, attr, wrapper)

    def _push(self, name: str, attrs: dict) -> dict:
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "req": getattr(self._local, "req", None),
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        return rec

    def _pop(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._local.stack.pop()
        with self._lock:
            self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name]

    def self_ms(self, name: str) -> list[float]:
        """Per-span self time: duration minus the part its children cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [(s["end"] - s["start"] - kids.get(s["id"], 0.0)) * 1e3
                for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.rec = None

    def __enter__(self):
        if self.tracer.active():
            self.rec = self.tracer._push(self.name, self.attrs)
        return self

    def __exit__(self, *exc):
        if self.rec is not None:
            self.tracer._pop(self.rec)
        return False


# -- Spark counters --------------------------------------------------------


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on a DataFrame's own
    QueryExecution: analysis, optimization and planning."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
    except Exception:  # noqa: BLE001 - counters are advisory
        pass
    return out


def stage_cursor(spark) -> int | None:
    import tools.work_metrics as wm

    return wm.cursor(spark)


def stage_work(spark, cursor: int | None) -> dict:
    """Stage work since ``cursor``: tasks, shuffle, input rows, spill."""
    import tools.work_metrics as wm

    if cursor is None:
        return {}
    work, _ = wm.totals_since(spark, cursor, settle_s=0.5)
    return work or {}


def max_job_id(spark) -> int:
    """Highest job id so far; job ids are monotonic, so the difference
    of two readings counts the jobs in between."""
    sc = spark.sparkContext
    try:
        it = sc._jsc.sc().statusStore().jobsList(
            sc._gateway.jvm.java.util.ArrayList()).iterator()
        m = -1
        while it.hasNext():
            m = max(m, it.next().jobId())
        return m
    except Exception:  # noqa: BLE001 - counters are advisory
        return -1


_PY_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
             "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "BatchEvalPython",
             "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")
_DUR = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _parse_ms(text: str) -> float:
    """First duration in a formatted SQL metric ('7.2 s (...)')."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _DUR[m.group(2)] if m else 0.0


def sql_cursor(spark) -> int:
    try:
        st = spark._jsparkSession.sharedState().statusStore()
        it = st.executionsList().iterator()
        m = -1
        while it.hasNext():
            m = max(m, it.next().executionId())
        return m
    except Exception:  # noqa: BLE001
        return -1


def python_ms_since(spark, cursor: int, settle_s: float = 0.5) -> dict[str, float]:
    """Python worker time ('time to run Python workers', the
    pythonTotalTime SQL metric) per Python seam node kind, summed over
    every SQL execution after ``cursor``."""
    def read() -> dict[str, float]:
        st = spark._jsparkSession.sharedState().statusStore()
        tot: dict[str, float] = {}
        it = st.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= cursor:
                continue
            vals = st.executionMetrics(eid)
            ni = st.planGraph(eid).allNodes().iterator()
            while ni.hasNext():
                n = ni.next()
                kind = n.name().split(" ")[0]
                if kind not in _PY_NODES:
                    continue
                mi = n.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    if m.name() == "time to run Python workers":
                        v = vals.get(m.accumulatorId())
                        if v.isDefined():
                            tot[kind] = tot.get(kind, 0.0) + _parse_ms(v.get())
        return tot

    try:
        prev = read()
        deadline = time.monotonic() + settle_s
        while time.monotonic() < deadline:
            time.sleep(0.05)
            cur = read()
            if cur == prev:
                break
            prev = cur
        return prev
    except Exception:  # noqa: BLE001 - counters are advisory
        return {}
