"""Reference answers for the api_dashboard requests, from DuckDB over the
same parquet the engine serves.

Which shape gets which check:

- ``prom_bucket``: ``sum by (l) (count_over_time|sum_over_time(sel[r]))``
  with range == step. Exact buckets: the engine keeps samples with
  ``start - range <= t < end`` and puts each in bucket ``t - t % step``;
  with range == step a bucket's value is the count or sum of its own
  samples. Compared per (labels, bucket); sums to 1e-9 relative.
- ``prom_instant``: the same bucket rule at the one bucket that holds
  ``time`` (``/api/v1/query`` evaluates ``[t0, t0 + step)``).
- ``logql_bucket``: LogQL ``count_over_time`` with a ``|=`` line filter,
  range == step; the line is the ``props`` column.
- ``logql_select``: selector + ``|=`` filter, newest first with a limit:
  the multiset of returned timestamps equals the newest ``limit``
  matching timestamps, and every returned line matches.
- ``label_values``, ``series``, ``trace``: exact sets.
- ``prom_shape``: range > step (``rate`` over 15m at a 5m step) follows
  the reference's sparse, coverage-gated semantics
  (operators/range_agg.py), so it is checked structurally: success
  status, step-aligned timestamps inside the window, finite values.
"""

from __future__ import annotations

import json
import math
import re

import duckdb

_EV = ("SELECT event_id, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS t, "
       "user_id, event_type, value, props FROM read_parquet('{path}')")


def _matchers(sel: str) -> str:
    """PromQL/LogQL label matchers -> a SQL predicate."""
    preds = ["TRUE"]
    for lab, op, val in re.findall(r'(\w+)\s*(=~|!~|!=|=)\s*"([^"]*)"', sel):
        col = f"CAST({lab} AS VARCHAR)"
        if op == "=":
            preds.append(f"{col} = '{val}'")
        elif op == "!=":
            preds.append(f"{col} <> '{val}'")
        elif op == "=~":
            preds.append(f"regexp_full_match({col}, '{val}')")
        else:
            preds.append(f"NOT regexp_full_match({col}, '{val}')")
    return " AND ".join(preds)


def _dur_ms(s: str) -> int:
    return int(s[:-1]) * {"s": 1000, "m": 60_000, "h": 3_600_000}[s[-1]]


class Checker:
    def __init__(self, events_path: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW ev AS {_EV.format(path=events_path)}")

    def close(self) -> None:
        self.con.close()

    def q(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def check(self, r: dict, status: int, body: bytes) -> str | None:
        """None when the reply is right, else what is wrong."""
        if status != 200:
            return f"HTTP {status}: {body[:200]!r}"
        try:
            out = json.loads(body)
        except ValueError:
            return "reply is not JSON"
        if isinstance(out, dict) and out.get("status") == "error":
            return f"error reply: {str(out.get('error'))[:200]}"
        try:
            return getattr(self, "_" + r["check"])(r, out)
        except (KeyError, TypeError, ValueError, IndexError) as e:
            return f"malformed reply: {type(e).__name__}: {e}"

    # -- PromQL -----------------------------------------------------------

    def _bucket_sql(self, query: str, start: int, end: int, step: int) -> tuple[str, str]:
        m = re.fullmatch(r"sum by \((\w+)\) \((count_over_time|sum_over_time)"
                         r"\((\w+)(\{[^}]*\})?\[(\w+)\]\)\)", query)
        if not m:
            raise ValueError(f"no reference for {query!r}")
        label, fn, _metric, sel, rng = m.groups()
        rng_ms = _dur_ms(rng)
        if rng_ms != step:
            raise ValueError("bucket reference needs range == step")
        agg = "count(*)" if fn == "count_over_time" else "sum(value)"
        sql = (f"SELECT CAST({label} AS VARCHAR), t - t % {step} AS b, {agg} "
               f"FROM ev WHERE t >= {start - rng_ms} AND t < {end} "
               f"AND {_matchers(sel or '')} GROUP BY 1, 2")
        return sql, label

    @staticmethod
    def _close(a: float, b: float) -> bool:
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))

    def _compare(self, got: dict, want: dict) -> str | None:
        if set(got) != set(want):
            extra = sorted(set(got) - set(want))[:3]
            miss = sorted(set(want) - set(got))[:3]
            return f"points differ: extra {extra} missing {miss}"
        for k, v in want.items():
            if not self._close(got[k], float(v)):
                return f"value at {k}: {got[k]} != {v}"
        return None

    def _prom_bucket(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        start, end = int(p["start"] * 1000), int(p["end"] * 1000)
        step = int(p["step"] * 1000)
        sql, label = self._bucket_sql(p["query"], start, end, step)
        want = {(lab, b): v for lab, b, v in self.q(sql)}
        got = {}
        for s in out["data"]["result"]:
            for ts, v in s["values"]:
                got[(str(s["metric"][label]), round(ts * 1000))] = float(v)
        return self._compare(got, want)

    def _prom_instant(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        step = int(p["step"] * 1000)
        t_ms = int(p["time"] * 1000)
        t0 = t_ms - t_ms % step
        sql, label = self._bucket_sql(p["query"], t0, t0 + step, step)
        want = {lab: v for lab, b, v in self.q(sql) if b == t0}
        got = {str(s["metric"][label]): float(s["value"][1])
               for s in out["data"]["result"]}
        return self._compare(got, want)

    def _prom_shape(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        start, end = int(p["start"] * 1000), int(p["end"] * 1000)
        step = int(p["step"] * 1000)
        if out.get("status") != "success" or not out["data"]["result"]:
            return "no series"
        for s in out["data"]["result"]:
            for ts, v in s["values"]:
                t = round(ts * 1000)
                if t % step or not (start - step <= t < end):
                    return f"timestamp {t} off the step grid or window"
                if not math.isfinite(float(v)):
                    return f"non-finite value {v}"
        return None

    # -- LogQL ------------------------------------------------------------

    def _logql_bucket(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        m = re.fullmatch(r'sum by \((\w+)\) \(count_over_time\((\{[^}]*\}) '
                         r'\|= "([^"]*)" \[(\w+)\]\)\)', p["query"])
        if not m:
            raise ValueError(f"no reference for {p['query']!r}")
        label, sel, needle, rng = m.groups()
        step, start, end = int(p["step_ms"]), int(p["start_ms"]), int(p["end_ms"])
        rng_ms = _dur_ms(rng)
        if rng_ms != step:
            raise ValueError("bucket reference needs range == step")
        sql = (f"SELECT {label}, t - t % {step}, count(*) FROM ev "
               f"WHERE t >= {start - rng_ms} AND t < {end} AND {_matchers(sel)} "
               f"AND contains(props, '{needle}') GROUP BY 1, 2")
        want = {(lab, b): v for lab, b, v in self.q(sql)}
        got = {(r[label], r["bucket_ts"]): float(r["value"])
               for r in out["result"] if r["value"] is not None}
        return self._compare(got, want)

    def _logql_select(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        m = re.fullmatch(r'(\{[^}]*\}) \|= "([^"]*)"', p["query"])
        sel, needle = m.groups()
        limit = int(p["limit"])
        start, end = int(p["start_ms"]), int(p["end_ms"])
        want = [t for (t,) in self.q(
            f"SELECT t FROM ev WHERE t >= {start} AND t < {end} AND {_matchers(sel)} "
            f"AND contains(props, '{needle}') ORDER BY t DESC LIMIT {limit}")]
        rows = out["streams"]
        for r in rows:
            if needle not in r["log_message"]:
                return f"line {r['log_message']!r} does not match"
        got = sorted((r["chq_timestamp"] for r in rows), reverse=True)
        if got != want:
            return f"timestamps differ ({len(got)} vs {len(want)} rows)"
        return None

    # -- metadata and traces ----------------------------------------------

    def _label_values(self, r: dict, out: dict) -> str | None:
        label = r["path"].split("/")[4]  # /api/v1/label/<name>/values
        want = sorted(v for (v,) in self.q(
            f"SELECT DISTINCT CAST({label} AS VARCHAR) FROM ev WHERE {label} IS NOT NULL"))
        got = out["data"]
        return None if got == want else f"values differ: {len(got)} vs {len(want)}"

    def _series(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        sel = p["match[]"]
        where = _matchers(sel)
        if "start" in p:
            where += (f" AND t >= {int(p['start'] * 1000)}"
                      f" AND t <= {int(p['end'] * 1000)}")
        want = {(et, str(u)) for et, u in self.q(
            f"SELECT DISTINCT event_type, user_id FROM ev WHERE {where}")}
        got = {(s["event_type"], str(s["user_id"])) for s in out["data"]}
        if any(s.get("__name__") != "events" for s in out["data"]):
            return "series without __name__=events"
        return None if got == want else f"series differ: {len(got)} vs {len(want)}"

    def _trace(self, r: dict, out: dict) -> str | None:
        p = r["params"]
        uid, hour = p["trace_id"].split("-")
        want = [(str(i), t) for i, t in self.q(
            f"SELECT event_id, t FROM ev WHERE user_id = {uid} AND "
            f"t - t % 3600000 = {hour} ORDER BY t, CAST(event_id AS VARCHAR)")]
        got = [(s["span_id"], s["chq_timestamp"]) for s in out["spans"]]
        return None if got == want else f"spans differ: {len(got)} vs {len(want)}"
