"""Seeded input generators. The same seed always yields the same bytes.

- ``events_table``: the ``events`` corpus in the engine's testdata schema
  (event_id, ts, user_id, event_type, value, props), spread over 30 days.
- ``otlp_metric_batch`` / ``otlp_log_batch``: OTLP protobuf payloads
  (``.binpb.gz``), hand-encoded with ``sources/otlp_encode.py``
  primitives, returned together with the raw samples they carry so the
  checks never go through the engine's decoder.
- ``documents_table``: the data-prep input in the testdata schema.
"""

from __future__ import annotations

import gzip
import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lakerunner_spark.sources.otlp_encode import f_fixed64, f_len, f_str, keyvalue, tag

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
HOUR_MS = 3_600_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_USERS = 150


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# -- events corpus -------------------------------------------------------


def events_table(seed: int, n: int, days: int = 30) -> pa.Table:
    rng = _rng(seed, 1)
    ts_us = EPOCH_MS * 1000 + np.sort(rng.integers(0, days * DAY_MS * 1000, n))
    etype = rng.integers(0, len(EVENT_TYPES), n)
    k = rng.integers(0, 100, n)
    props = pc.binary_join_element_wise(
        pa.array(np.full(n, '{"k": ')), pc.cast(pa.array(k), pa.string()),
        pa.array(np.full(n, "}")), "",
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n)),
            "event_type": pa.DictionaryArray.from_arrays(
                pa.array(etype.astype(np.int32)), pa.array(EVENT_TYPES)
            ).cast(pa.string()),
            "value": pa.array(np.round(rng.exponential(30.0, n), 2)),
            "props": props,
        }
    )


# -- OTLP wire encoding --------------------------------------------------

SERVICES = ["checkout", "billing", "search", "auth"]
HOSTS = ["h0", "h1", "h2"]
ROUTES = ["/pay", "/cart", "/items", "/login"]
HIST_BOUNDS = [5.0, 25.0, 100.0, 500.0]
ATTR_KEYS = ["host", "route"]  # the fixed key set pivoted to attr_* columns
LEVELS = ["INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR"]
TEMPLATES = [
    "GET /api/items/{a} returned 200 in {b}ms",
    "user {a} logged in from 10.0.{c}.{d}",
    "payment {h} failed: timeout after {b}ms",
    "cache miss for key item:{a} shard {c}",
    "worker {c} processed batch {a} with {d} records",
]


def _f_double(field: int, v: float) -> bytes:
    return tag(field, 1) + struct.pack("<d", v)


def _resource(service: str) -> bytes:
    """The ``resource`` field (1) of a ResourceMetrics / ResourceLogs."""
    return f_len(1, f_len(1, keyvalue("service.name", service)))


def otlp_metric_batch(seed: int, batch: int, t0_ms: int, span_ms: int,
                      points: int) -> tuple[bytes, dict]:
    """One ExportMetricsServiceRequest: a gauge, a monotonic sum and one
    explicit-bucket histogram family per (service, host, route) series,
    ``points`` datapoints per series per family spread over
    ``[t0_ms, t0_ms + span_ms)``. Returns (gzip payload, raw samples);
    the samples are one row per decoded row (histogram buckets
    exploded), in the columns the checks need."""
    rng = _rng(seed, 100 + batch)
    raw: dict[str, list] = {k: [] for k in (
        "ts", "metric", "service", "host", "route", "value", "le")}
    rms = []
    for svc in SERVICES:
        gauge, summ, hist = [], [], []
        for host in HOSTS:
            for route in ROUTES:
                attrs = (f_len(7, keyvalue("host", host))
                         + f_len(7, keyvalue("route", route)))
                hattrs = (f_len(9, keyvalue("host", host))
                          + f_len(9, keyvalue("route", route)))
                ts = np.sort(rng.integers(t0_ms, t0_ms + span_ms, points))
                gv = np.round(rng.uniform(0, 100, points), 3)
                sv = rng.integers(0, 50, points)
                hc = rng.integers(0, 20, (points, len(HIST_BOUNDS) + 1))
                for i in range(points):
                    ns = int(ts[i]) * 1_000_000
                    gauge.append(f_len(1, f_fixed64(3, ns) + _f_double(4, float(gv[i]))
                                       + attrs))
                    summ.append(f_len(1, f_fixed64(3, ns) + tag(6, 1)
                                      + struct.pack("<q", int(sv[i])) + attrs))
                    counts = [int(c) for c in hc[i]]
                    hist.append(f_len(1, f_fixed64(3, ns) + f_fixed64(4, sum(counts))
                                  + _f_double(5, 0.0)
                                  + f_len(6, struct.pack(f"<{len(counts)}Q", *counts))
                                  + f_len(7, struct.pack(f"<{len(HIST_BOUNDS)}d",
                                                             *HIST_BOUNDS))
                                      + hattrs))
                    base = (int(ts[i]), svc, host, route)
                    for name, v, le in (("cpu_utilization", float(gv[i]), None),
                                        ("http_requests_total", float(sv[i]), None)):
                        for col, x in zip(("ts", "service", "host", "route"), base):
                            raw[col].append(x)
                        raw["metric"].append(name)
                        raw["value"].append(v)
                        raw["le"].append(le)
                    for c, le in zip(counts, HIST_BOUNDS + [float("inf")]):
                        for col, x in zip(("ts", "service", "host", "route"), base):
                            raw[col].append(x)
                        raw["metric"].append("http_request_duration")
                        raw["value"].append(float(c))
                        raw["le"].append(le)
        metrics = (
            f_len(2, f_str(1, "cpu_utilization") + f_len(5, b"".join(gauge)))
            + f_len(2, f_str(1, "http_requests_total")
                    + f_len(7, b"".join(summ) + tag(2, 0) + b"\x02" + tag(3, 0) + b"\x01"))
            + f_len(2, f_str(1, "http_request_duration")
                    + f_len(9, b"".join(hist) + tag(2, 0) + b"\x02"))
        )
        rms.append(f_len(1, _resource(svc) + f_len(2, metrics)))
    return gzip.compress(b"".join(rms), compresslevel=1, mtime=0), raw


def otlp_log_batch(seed: int, batch: int, t0_ms: int, span_ms: int,
                   records: int) -> tuple[bytes, dict]:
    """One ExportLogsServiceRequest: ``records`` log records spread over
    the services, each a templated message with variable tokens (so
    fingerprinting and the trigram index see many shapes and values).
    Returns (gzip payload, raw records)."""
    rng = _rng(seed, 200 + batch)
    svc_i = rng.integers(0, len(SERVICES), records)
    lvl_i = rng.integers(0, len(LEVELS), records)
    tpl_i = rng.integers(0, len(TEMPLATES), records)
    ts = np.sort(rng.integers(t0_ms, t0_ms + span_ms, records))
    a = rng.integers(0, 100_000, records)
    b = rng.integers(1, 5000, records)
    c = rng.integers(0, 16, records)
    d = rng.integers(1, 255, records)
    h = rng.integers(0, 2**32, records)
    per_svc: dict[int, list[bytes]] = {i: [] for i in range(len(SERVICES))}
    raw: dict[str, list] = {"ts": [], "service": [], "level": [], "message": []}
    for i in range(records):
        msg = TEMPLATES[tpl_i[i]].format(a=a[i], b=b[i], c=c[i], d=d[i],
                                         h=f"{int(h[i]):08x}")
        lvl = LEVELS[lvl_i[i]]
        ns = int(ts[i]) * 1_000_000
        per_svc[int(svc_i[i])].append(f_len(2, f_fixed64(1, ns) + f_str(3, lvl)
                                            + f_len(5, f_str(1, msg))))
        raw["ts"].append(int(ts[i]))
        raw["service"].append(SERVICES[svc_i[i]])
        raw["level"].append(lvl)
        raw["message"].append(msg)
    payload = b"".join(
        f_len(1, _resource(SERVICES[s]) + f_len(2, b"".join(recs)))
        for s, recs in per_svc.items() if recs
    )
    return gzip.compress(payload, compresslevel=1, mtime=0), raw


# -- data-prep corpus ----------------------------------------------------

_VOCAB = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window data column join small customer query big "
          "order group filter stream").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def documents_table(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents; about one in eight is a near copy of an
    earlier one (a word swapped), so the dedup operators find pairs."""
    rng = _rng(seed, 300)
    texts: list[str] = []
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    text = pa.array(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{j % 20}" for j in range(n)]),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )
