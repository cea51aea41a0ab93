"""Seeded OTLP protobuf generator with ground truth.

Encodes `Export{Traces,Logs,Metrics}ServiceRequest` payloads with a small
wire-format writer (public protobuf encoding rules and the public
opentelemetry-proto field numbers), and records, per generated record,
the facts the workloads check committed tables against.

Every record becomes exactly one row of one flat table: a span is one
`otel_traces` row, a log record one `otel_logs` row and a metric data
point one row of the metric-type table it belongs to. Values are chosen
so the checks are exact: gauge values are multiples of 1/4 (sums of a few
thousand of them are exact in a double) and sum values are integers.

Knobs: records per request, attribute-map width, the Zipf skew of the
services' popularity, the time window timestamps fall in (sorted within
a request when `ordered`, scattered over the window otherwise) and the
metric data-point types a metrics request carries.

`python3 perfbench/otlpgen.py` round-trips one request of every signal,
with all five metric types, through the engine's decoder.
"""

from __future__ import annotations

import random
import struct
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

NS_PER_HOUR = 3_600_000_000_000
# 2026-01-05T00:00:00Z: a fixed epoch base so a seed fully determines the
# payload bytes (no wall clock in the inputs).
BASE_NS = 1_767_571_200 * 1_000_000_000

METRIC_KINDS = ("gauge", "sum", "histogram", "exponential_histogram", "summary")
METRIC_TABLES = {k: f"metrics_{k}" for k in METRIC_KINDS}
SERVICES = 8
ERROR_SEVERITY = 17  # OTLP SEVERITY_NUMBER_ERROR and above

# ---------------------------------------------------------------------------
# wire-format writer


def _varint(v: int) -> bytes:
    if v < 0:  # int64 negatives: 10-byte two's complement
        v &= (1 << 64) - 1
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _tag(fno: int, wt: int) -> bytes:
    return _varint((fno << 3) | wt)


def f_uint(fno: int, v: int) -> bytes:
    return _tag(fno, 0) + _varint(v)


def f_sint32(fno: int, v: int) -> bytes:
    return f_uint(fno, ((v << 1) ^ (v >> 31)) & 0xFFFFFFFF)


def f_fixed64(fno: int, v: int) -> bytes:
    return _tag(fno, 1) + struct.pack("<Q", v)


def f_sfixed64(fno: int, v: int) -> bytes:
    return _tag(fno, 1) + struct.pack("<q", v)


def f_double(fno: int, v: float) -> bytes:
    return _tag(fno, 1) + struct.pack("<d", v)


def f_fixed32(fno: int, v: int) -> bytes:
    return _tag(fno, 5) + struct.pack("<I", v)


def f_bytes(fno: int, payload: bytes) -> bytes:
    return _tag(fno, 2) + _varint(len(payload)) + payload


def f_str(fno: int, s: str) -> bytes:
    return f_bytes(fno, s.encode("utf-8"))


def f_packed_fixed64(fno: int, vals) -> bytes:
    return f_bytes(fno, struct.pack(f"<{len(vals)}Q", *vals))


def f_packed_double(fno: int, vals) -> bytes:
    return f_bytes(fno, struct.pack(f"<{len(vals)}d", *vals))


def f_packed_varint(fno: int, vals) -> bytes:
    return f_bytes(fno, b"".join(_varint(v) for v in vals))


def any_value(v) -> bytes:
    if isinstance(v, bool):
        return f_uint(2, int(v))
    if isinstance(v, int):
        return f_uint(3, v)
    if isinstance(v, float):
        return f_double(4, v)
    return f_str(1, v)


def key_value(fno: int, key: str, v) -> bytes:
    return f_bytes(fno, f_str(1, key) + f_bytes(2, any_value(v)))


def attributes(fno: int, attrs: dict) -> bytes:
    return b"".join(key_value(fno, k, v) for k, v in attrs.items())


# ---------------------------------------------------------------------------
# record facts (ground truth)


@dataclass
class Truth:
    """Facts of every record generated so far, keyed for the checks.

    `rows[table]` counts rows per flat table. `spans` holds
    (service, hour, trace_id, duration_ns, is_error) per span, `logs`
    (service, hour, severity) per log record and `points`
    (table, service, hour, value) per metric data point (value is the
    gauge double / sum int, None for the distribution types)."""

    rows: Counter = field(default_factory=Counter)
    spans: list = field(default_factory=list)
    logs: list = field(default_factory=list)
    points: list = field(default_factory=list)

    def extend(self, other: "Truth") -> None:
        self.rows.update(other.rows)
        self.spans.extend(other.spans)
        self.logs.extend(other.logs)
        self.points.extend(other.points)

    def purge(self, table: str, service: str, hour: int) -> int:
        """Drop one service-hour from one table, as a purge DML does;
        returns the number of rows dropped."""
        if table == "traces":
            kept = [s for s in self.spans if (s[0], s[1]) != (service, hour)]
            dropped = len(self.spans) - len(kept)
            self.spans = kept
        elif table == "logs":
            kept = [r for r in self.logs if (r[0], r[1]) != (service, hour)]
            dropped = len(self.logs) - len(kept)
            self.logs = kept
        else:
            kept = [p for p in self.points if (p[0], p[1], p[2]) != (table, service, hour)]
            dropped = len(self.points) - len(kept)
            self.points = kept
        self.rows[table] -= dropped
        return dropped


# ---------------------------------------------------------------------------
# generator


@dataclass
class GenConfig:
    records: int = 512  # records per request
    attr_width: int = 10  # keys per attribute map
    zipf_s: float = 1.1  # service popularity skew (0 = uniform)
    hours: int = 1  # timestamps fall in [BASE_NS, BASE_NS + hours)
    ordered: bool = True  # timestamps sorted within a request
    # data-point types, rotated per record; a workload that commits
    # metrics leaves out the types the engine cannot commit
    metric_kinds: tuple = METRIC_KINDS


_ROUTES = ("/api/cart", "/api/checkout", "/api/search", "/api/user", "/health")
_METHODS = ("GET", "POST", "PUT", "DELETE")
_SEVERITIES = ((5, "DEBUG"), (9, "INFO"), (13, "WARN"), (17, "ERROR"), (21, "FATAL"))


class OtlpGenerator:
    """Deterministic request factory: the same seed and call sequence
    yields byte-identical payloads and identical truth."""

    def __init__(self, seed: int, cfg: GenConfig):
        self.rng = random.Random(seed)
        self.cfg = cfg
        self.service_names = [f"svc-{i:02d}" for i in range(SERVICES)]
        weights = [1.0 / (i + 1) ** cfg.zipf_s for i in range(SERVICES)]
        total = sum(weights)
        self.weights = [w / total for w in weights]
        self._window: tuple[int, int] | None = None

    # -- shared pieces ------------------------------------------------------

    def _timestamps(self, n: int) -> list[int]:
        if self._window is None:
            lo = BASE_NS
            span = self.cfg.hours * NS_PER_HOUR - 10_000_000_000
        else:
            lo, span = self._window
        ts = [lo + self.rng.randrange(span) for _ in range(n)]
        return sorted(ts) if self.cfg.ordered else ts

    def _services(self, n: int) -> list[str]:
        return self.rng.choices(self.service_names, self.weights, k=n)

    def _attrs(self) -> dict:
        r = self.rng
        base = {
            "http.method": r.choice(_METHODS),
            "http.route": r.choice(_ROUTES),
            "http.status_code": r.choice((200, 200, 200, 201, 404, 500)),
            "net.peer.name": f"10.0.{r.randrange(4)}.{r.randrange(256)}",
            "user.id": f"u{r.randrange(100_000)}",
            "retry": r.random() < 0.1,
            "sample.rate": float(r.randrange(1, 9)) / 8,
        }
        attrs = dict(list(base.items())[: self.cfg.attr_width])
        for i in range(len(attrs), self.cfg.attr_width):
            attrs[f"attr.k{i}"] = f"v{r.randrange(1000)}"
        return attrs

    @staticmethod
    def _resource(service: str) -> bytes:
        return attributes(
            1,
            {
                "service.name": service,
                "host.name": f"host-{service}",
                "deployment.environment": "bench",
            },
        )

    @staticmethod
    def _scope() -> bytes:
        return f_str(1, "perfbench.gen") + f_str(2, "1.0")

    def _grouped(self, n: int):
        """[(service, [timestamp, ...])]: one resource block per service;
        records keep their timestamp order inside it."""
        ts = self._timestamps(n)
        svc = self._services(n)
        groups: dict[str, list[int]] = defaultdict(list)
        for t, s in zip(ts, svc):
            groups[s].append(t)
        return sorted(groups.items())

    @staticmethod
    def _hour(ts_ns: int) -> int:
        return (ts_ns - BASE_NS) // NS_PER_HOUR

    # -- signals ------------------------------------------------------------

    def traces(self) -> tuple[bytes, Truth]:
        r = self.rng
        truth = Truth()
        blocks = []
        for service, stamps in self._grouped(self.cfg.records):
            spans = []
            for start in stamps:
                trace_id = r.getrandbits(128) | 1
                span_id = r.getrandbits(64) | 1
                duration = r.randrange(50_000, 500_000_000)
                code = 2 if r.random() < 0.05 else r.choice((0, 1))
                body = (
                    f_bytes(1, trace_id.to_bytes(16, "big"))
                    + f_bytes(2, span_id.to_bytes(8, "big"))
                    + f_str(5, f"{r.choice(_METHODS)} {r.choice(_ROUTES)}")
                    + f_uint(6, r.randrange(1, 6))
                    + f_fixed64(7, start)
                    + f_fixed64(8, start + duration)
                    + attributes(9, self._attrs())
                    + f_bytes(15, f_uint(3, code) if code else b"")
                )
                if r.random() < 0.5:
                    body += f_bytes(4, (r.getrandbits(64) | 1).to_bytes(8, "big"))
                if r.random() < 0.1:
                    body += f_bytes(
                        11,
                        f_fixed64(1, start + duration // 2)
                        + f_str(2, "exception")
                        + attributes(3, {"exception.type": "Timeout"}),
                    )
                spans.append(f_bytes(2, body))
                truth.spans.append(
                    (service, self._hour(start), f"{trace_id:032x}", duration, code == 2)
                )
            scope_spans = f_bytes(1, self._scope()) + b"".join(spans)
            blocks.append(
                f_bytes(1, f_bytes(1, self._resource(service)) + f_bytes(2, scope_spans))
            )
        truth.rows["traces"] = self.cfg.records
        return b"".join(blocks), truth

    def logs(self) -> tuple[bytes, Truth]:
        r = self.rng
        truth = Truth()
        blocks = []
        for service, stamps in self._grouped(self.cfg.records):
            recs = []
            for t in stamps:
                sev, text = r.choices(_SEVERITIES, (10, 60, 15, 12, 3))[0]
                body = (
                    f_fixed64(1, t)
                    + f_fixed64(11, t + 1_000_000)
                    + f_uint(2, sev)
                    + f_str(3, text)
                    + f_bytes(5, any_value(f"request {r.randrange(10**6)} {text.lower()}"))
                    + attributes(6, self._attrs())
                )
                if r.random() < 0.5:
                    body += f_bytes(9, (r.getrandbits(128) | 1).to_bytes(16, "big"))
                    body += f_bytes(10, (r.getrandbits(64) | 1).to_bytes(8, "big"))
                recs.append(f_bytes(2, body))
                truth.logs.append((service, self._hour(t), sev))
            scope_logs = f_bytes(1, self._scope()) + b"".join(recs)
            blocks.append(
                f_bytes(1, f_bytes(1, self._resource(service)) + f_bytes(2, scope_logs))
            )
        truth.rows["logs"] = self.cfg.records
        return b"".join(blocks), truth

    def _data_point(self, kind: str, t: int) -> tuple[bytes, object]:
        r = self.rng
        common = f_fixed64(2, t - 60_000_000_000) + f_fixed64(3, t)
        if kind == "gauge":
            v = r.randrange(0, 4000) / 4
            return attributes(7, self._attrs()) + common + f_double(4, v), v
        if kind == "sum":
            v = r.randrange(0, 100_000)
            return attributes(7, self._attrs()) + common + f_sfixed64(6, v), v
        if kind == "histogram":
            counts = [r.randrange(20) for _ in range(5)]
            return (
                attributes(9, self._attrs())
                + common
                + f_fixed64(4, sum(counts))
                + f_double(5, float(sum(counts) * 3))
                + f_packed_fixed64(6, counts)
                + f_packed_double(7, [1.0, 5.0, 10.0, 50.0])
                + f_double(11, 0.5)
                + f_double(12, 90.0)
            ), None
        if kind == "exponential_histogram":
            pos = [r.randrange(10) for _ in range(4)]
            neg = [r.randrange(3) for _ in range(2)]
            zero = r.randrange(3)
            return (
                attributes(1, self._attrs())
                + common
                + f_fixed64(4, sum(pos) + sum(neg) + zero)
                + f_double(5, 12.5)
                + f_sint32(6, 2)
                + f_fixed64(7, zero)
                + f_bytes(8, f_sint32(1, 1) + f_packed_varint(2, pos))
                + f_bytes(9, f_sint32(1, 0) + f_packed_varint(2, neg))
                + f_double(14, 0.001)
            ), None
        quantiles = b"".join(
            f_bytes(6, f_double(1, q) + f_double(2, q * 100)) for q in (0.5, 0.9, 0.99)
        )
        return (
            attributes(7, self._attrs())
            + common
            + f_fixed64(4, 10)
            + f_double(5, 250.0)
            + quantiles
        ), None

    def metrics(self) -> tuple[bytes, Truth]:
        """One metric per (service, kind) with that service's points of
        that kind; kinds rotate per record, so every table of
        `cfg.metric_kinds` gets rows."""
        truth = Truth()
        blocks = []
        n = 0
        for service, stamps in self._grouped(self.cfg.records):
            by_kind: dict[str, list[bytes]] = defaultdict(list)
            for t in stamps:
                kind = self.cfg.metric_kinds[n % len(self.cfg.metric_kinds)]
                n += 1
                dp, value = self._data_point(kind, t)
                by_kind[kind].append(f_bytes(1, dp))
                truth.points.append((METRIC_TABLES[kind], service, self._hour(t), value))
                truth.rows[METRIC_TABLES[kind]] += 1
            metrics = []
            for kind, dps in by_kind.items():
                payload = b"".join(dps)
                if kind == "gauge":
                    data = f_bytes(5, payload)
                elif kind == "sum":
                    data = f_bytes(7, payload + f_uint(2, 2) + f_uint(3, 1))
                elif kind == "histogram":
                    data = f_bytes(9, payload + f_uint(2, 2))
                elif kind == "exponential_histogram":
                    data = f_bytes(10, payload + f_uint(2, 2))
                else:
                    data = f_bytes(11, payload)
                metrics.append(
                    f_bytes(2, f_str(1, f"bench.{kind}") + f_str(3, "1") + data)
                )
            scope_metrics = f_bytes(1, self._scope()) + b"".join(metrics)
            blocks.append(
                f_bytes(1, f_bytes(1, self._resource(service)) + f_bytes(2, scope_metrics))
            )
        return b"".join(blocks), truth

    def request(
        self, signal: str, window: tuple[int, int] | None = None
    ) -> tuple[bytes, Truth]:
        """One request of `cfg.records` records; `window` = (start_ns,
        width_ns) narrows the timestamps to a slice of the window."""
        self._window = window
        try:
            return getattr(self, signal)()
        finally:
            self._window = None


def timed_round_trip(payload: bytes, signal: str, truth: Truth) -> float:
    """Decode `payload` with the engine's own protobuf decoder and check
    the record count against the truth; raises on any mismatch. Returns
    the decode time in seconds."""
    from opentelemetry_iceberg_exporter_spark.otlp import protobuf as pb

    desc = {"traces": pb.TRACES_REQUEST, "logs": pb.LOGS_REQUEST, "metrics": pb.METRICS_REQUEST}
    t = time.perf_counter()
    msg = pb.decode_message(payload, desc[signal])
    elapsed = time.perf_counter() - t
    if signal == "traces":
        n = sum(
            len(ss.get("spans", []))
            for rs in msg.get("resourceSpans", [])
            for ss in rs.get("scopeSpans", [])
        )
        expected = truth.rows["traces"]
    elif signal == "logs":
        n = sum(
            len(sl.get("logRecords", []))
            for rl in msg.get("resourceLogs", [])
            for sl in rl.get("scopeLogs", [])
        )
        expected = truth.rows["logs"]
    else:
        n = 0
        for rm in msg.get("resourceMetrics", []):
            for sm in rm.get("scopeMetrics", []):
                for m in sm.get("metrics", []):
                    for kind in ("gauge", "sum", "histogram", "exponentialHistogram", "summary"):
                        if kind in m:
                            n += len(m[kind].get("dataPoints", []))
        expected = sum(truth.rows[t] for t in METRIC_TABLES.values())
    if n != expected:
        raise ValueError(f"{signal} round trip decoded {n} records, generated {expected}")
    return elapsed


if __name__ == "__main__":
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    generator = OtlpGenerator(0, GenConfig(records=100))
    for signal in ("traces", "logs", "metrics"):
        payload, truth = generator.request(signal)
        timed_round_trip(payload, signal, truth)
        print(signal, len(payload), "bytes", dict(truth.rows))
