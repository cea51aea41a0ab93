"""`query_mix`: users reading what the exporter committed.

Set-up ingests a seeded day of telemetry with `export_batch` into a
filesystem-catalog warehouse and registers the tables as SQL views
(`register_table_views`). Service popularity is Zipf-skewed. The client
then runs a fixed seeded sequence: trace-id point lookups, per-service
p99 span duration over one hour, error-log counts per service over the
day and per-hour gauge and sum roll-ups; every tenth operation
is a deletion-vector purge of one service-hour from one table, so later
reads pay the merge-on-read cost. Every answer and every purge's row
count is checked against the generator's ground truth, updated by each
purge.

Only `otel_logs` is read through the Python data source: the span table
has list columns, so its view is the library scan, whose plan is pinned
to the snapshot current when the view was registered. The client therefore re-registers the views after each
purge (untimed), as the `sql` CLI does on every invocation.

The metrics of the day carry gauge and sum points, the two types the
roll-ups read. The ingest still runs the 5-way metric demux (a cached
explode, then a count of each type and, for each non-empty one, a Parquet
write and a commit). Histogram and exponential histogram points are left
out because their writes and commits added ~7 s to every run's set-up,
which the time limit on all runs together cannot spare. Summary points
are left out because an append to the summary table fails in the engine
(its dotted `quantile_values.*` column names are resolved as struct
fields when the writer stamps field ids).

The traced run also times the `operators` layer, which neither kept
workload otherwise calls: after the timed loop it builds a seeded
document corpus with `build_corpus` (see `corpus.py`) a few times and
checks each output.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone
from statistics import median

import corpus
from common import OpRecord, snapshot_facts
from otlpgen import (
    BASE_NS,
    ERROR_SEVERITY,
    GenConfig,
    OtlpGenerator,
    Truth,
    timed_round_trip,
)
from tracer import Tracer

SIGNALS = ("traces", "logs", "metrics")
# records per signal for the day, sent as REQUESTS requests of equal size
DAY_RECORDS = {"traces": 2048, "logs": 2048, "metrics": 2048}
REQUESTS = 4
# the metric types the roll-ups read (see the module docstring)
COMMITTED_KINDS = ("gauge", "sum")
# every kind comes within the first five reads, so a short run reaches
# each kind the latency estimate averages over
READS = ("lookup", "p99", "errors", "rollup_gauge", "rollup_sum", "lookup", "p99", "errors", "lookup")
# the table each read scans
READ_TABLE = {
    "lookup": "traces",
    "p99": "traces",
    "errors": "logs",
    "rollup_gauge": "metrics_gauge",
    "rollup_sum": "metrics_sum",
}
# the value column each roll-up sums
ROLLUP_COL = {"rollup_gauge": "as_double", "rollup_sum": "as_int"}
DML_EVERY = 10
# the purge's place in each cycle of DML_EVERY: early enough that a short
# run reaches it
DML_SLOT = 5
# untimed warm-up: one whole cycle, the purge first so the views are
# registered once, after it. With one operation per kind, the first
# cycle of the timed loop still ran up to ~20% slower than later ones
# (its reads are the second of their kind in a fresh JVM).
WARM_UP = ("dml",) + READS
PURGE_TABLES = ("traces", "logs")
TIME_COL = {"traces": "start_time_unix_nano"}
BASE = datetime.fromtimestamp(BASE_NS // 1_000_000_000, tz=timezone.utc).replace(tzinfo=None)
# per-layer metrics of layers this workload never calls (reported as 0)
BYPASSED = (
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.wal_commit_ms",
    "streaming.latest_offset_ms",
    "streaming.query_planning_ms",
    "streaming.pickup_wait_ms",
    "otlp.flatten_plan_ms",
    "sinks.append_ms",
    "sinks.write_ms",
    "sinks.commit_ms",
    "sinks.rest_requests_per_commit",
    "sinks.commit_attempts_per_commit",
)


def _hour_ts(h: int) -> str:
    return (BASE + timedelta(hours=h)).strftime("%Y-%m-%d %H:%M:%S")


def _percentile(values: list[int], p: float) -> float:
    """Spark's exact `percentile`: linear interpolation between ranks."""
    v = sorted(values)
    pos = p * (len(v) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return float(v[lo]) if lo == hi else (hi - pos) * v[lo] + (pos - lo) * v[hi]


def _same(got, expected) -> bool:
    """Equal, with floats compared to a relative 1e-9 (Spark's
    interpolation may round the last bit differently)."""
    if isinstance(got, dict) and isinstance(expected, dict):
        return got.keys() == expected.keys() and all(_same(got[k], expected[k]) for k in got)
    if isinstance(got, (list, tuple)) and isinstance(expected, (list, tuple)):
        return len(got) == len(expected) and all(map(_same, got, expected))
    if isinstance(got, float) or isinstance(expected, float):
        return math.isclose(got, expected, rel_tol=1e-9)
    return got == expected


class QueryMix:
    latency_mix = Counter(READS)

    def __init__(self, seed: int, work: str, cores: int, traced: bool):
        self.seed = seed
        self.work = work
        self.traced = traced
        self.inputs = os.path.join(work, "inputs")
        self.warehouse = os.path.join(work, "warehouse")
        self.truth = Truth()
        self.decode_s = 0.0
        self.ops: list[tuple] = []
        self.corpus: corpus.Corpus | None = None
        self.builds: list[tuple[float, float]] = []  # (plan_s, execute_s)

    # -- inputs ---------------------------------------------------------------

    def generate(self, seconds: float) -> None:
        for n, signal in enumerate(SIGNALS):
            gen = OtlpGenerator(
                self.seed * 31 + n,
                GenConfig(
                    records=DAY_RECORDS[signal] // REQUESTS,
                    hours=24,
                    ordered=False,
                    metric_kinds=COMMITTED_KINDS,
                ),
            )
            d = os.path.join(self.inputs, signal)
            os.makedirs(d)
            for k in range(REQUESTS):
                payload, truth = gen.request(signal)
                self.decode_s += timed_round_trip(payload, signal, truth)
                self.truth.extend(truth)
                with open(os.path.join(d, f"{k:03d}.pb"), "wb") as f:
                    f.write(payload)
        self._plan_ops(int(10 * seconds) + DML_EVERY)
        if self.traced:
            self.corpus = corpus.Corpus.generate(self.seed, os.path.join(self.inputs, "corpus"))

    def _plan_ops(self, n: int) -> None:
        """The seeded operation sequence, warm-up first. Purges
        hit distinct (table, service, hour) triples that hold rows, so
        every purge deletes something."""
        rng = random.Random(self.seed)
        trace_ids = [s[2] for s in self.truth.spans]
        populated = Counter()
        for s in self.truth.spans:
            populated[("traces", s[0], s[1])] += 1
        for r in self.truth.logs:
            populated[("logs", r[0], r[1])] += 1
        targets = {t: [k for k in sorted(populated) if k[0] == t] for t in PURGE_TABLES}
        for t in targets.values():
            rng.shuffle(t)

        def read(kind: str) -> tuple:
            if kind == "lookup":
                return (kind, rng.choice(trace_ids))
            if kind == "p99":
                return (kind, rng.randrange(24))
            return (kind, None)

        dml = 0

        def purge() -> tuple:
            nonlocal dml
            table = PURGE_TABLES[dml % len(PURGE_TABLES)]
            dml += 1
            return ("dml", targets[table].pop())

        self.ops = [purge() if kind == "dml" else read(kind) for kind in WARM_UP]
        reads = 0
        for i in range(n):
            if i % DML_EVERY == DML_SLOT:
                self.ops.append(purge())
            else:
                self.ops.append(read(READS[reads % len(READS)]))
                reads += 1

    def has_op(self, i: int) -> bool:
        return len(WARM_UP) + i < len(self.ops)

    def kind(self, i: int) -> str:
        return self.ops[len(WARM_UP) + i][0]

    # -- set-up ---------------------------------------------------------------

    def start_services(self, rss) -> None:
        pass

    def install_tracing(self, tracer) -> None:
        """Nothing to install: each operation opens its own spans."""

    def setup(self, spark) -> dict:
        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            StorageConfig,
        )
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import FsIcebergSink
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import export_batch

        self.spark = spark
        t = time.perf_counter()
        config = ExporterConfig(
            storage=StorageConfig(bucket=os.path.join(self.work, "raw")),
            catalog=CatalogConfig(catalog_type="fs", warehouse=self.warehouse),
        )
        FsIcebergSink(spark, config).ensure_all_tables()
        self.catalog = FsCatalog(self.warehouse)
        tables_s = time.perf_counter() - t

        t = time.perf_counter()
        # the signals ingest concurrently: set-up cost, not a measured
        # path (their first-use compilation overlaps)
        with ThreadPoolExecutor(len(SIGNALS)) as pool:
            futures = [
                pool.submit(
                    export_batch,
                    spark,
                    os.path.join(self.inputs, signal),
                    signal,
                    config,
                    wire_format="protobuf",
                )
                for signal in SIGNALS
            ]
            for f in futures:
                f.result()
        errors = self._check_rows()
        if errors:
            raise RuntimeError(f"ingest: {errors}")
        ingest_s = time.perf_counter() - t
        views_s = 0.0
        for i in range(len(WARM_UP)):
            rec = self._run(i, Tracer())  # an inactive tracer: no spans
            self._check(rec)
            if not rec.ok:
                raise RuntimeError(f"warm-up {rec.kind}: {rec.error}")
            if rec.kind == "dml":
                t_views = time.perf_counter()
                self._register_views()
                views_s = time.perf_counter() - t_views
        return {
            "tables_s": tables_s,
            "warmup_s": time.perf_counter() - t,
            "ingest_s": ingest_s,
            "views_s": views_s,
        }

    def _register_views(self) -> None:
        from opentelemetry_iceberg_exporter_spark.sources.iceberg_source import (
            register_table_views,
        )

        register_table_views(self.spark, self.warehouse, "otel")

    def _table(self, table: str):
        return self.catalog.load_table("otel", f"otel_{table}")

    def _check_rows(self) -> list[str]:
        """Committed rows per table (snapshot totals, before any purge)."""
        errors = []
        for table in sorted(self.truth.rows):
            snap = self._table(table).current_snapshot()
            rows = int(snap["summary"]["total-records"]) if snap else 0
            if rows != self.truth.rows[table]:
                errors.append(f"{table}: {rows} rows, expected {self.truth.rows[table]}")
        return errors

    # -- operations -----------------------------------------------------------

    def _sql(self, kind: str, arg) -> str:
        if kind == "lookup":
            return (
                "SELECT service_name, duration FROM otel_otel_traces "
                f"WHERE trace_id = '{arg}'"
            )
        if kind == "p99":
            return (
                "SELECT service_name, percentile(duration, 0.99) AS p99, count(*) AS n "
                "FROM otel_otel_traces "
                f"WHERE start_time_unix_nano >= TIMESTAMP '{_hour_ts(arg)}' "
                f"AND start_time_unix_nano < TIMESTAMP '{_hour_ts(arg + 1)}' "
                "GROUP BY service_name"
            )
        if kind == "errors":
            return (
                "SELECT service_name, count(*) AS n FROM otel_otel_logs "
                f"WHERE severity_number >= {ERROR_SEVERITY} GROUP BY service_name"
            )
        return (
            f"SELECT hour(time_unix_nano) AS h, sum({ROLLUP_COL[kind]}) AS total, count(*) AS n "
            f"FROM otel_otel_{READ_TABLE[kind]} GROUP BY hour(time_unix_nano)"
        )

    def _purge_predicate(self, table: str, service: str, hour: int) -> str:
        col = TIME_COL.get(table, "time_unix_nano")
        return (
            f"service_name = '{service}' AND {col} >= TIMESTAMP '{_hour_ts(hour)}' "
            f"AND {col} < TIMESTAMP '{_hour_ts(hour + 1)}'"
        )

    def _run(self, k: int, tracer) -> OpRecord:
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import plan_dml_files

        kind, arg = self.ops[k]
        layer: dict = {}
        if kind == "dml":
            t = self._table(arg[0])
            pred = self._purge_predicate(*arg)
            if tracer.active:
                md = t.metadata()
                scan, excluded, _ = plan_dml_files(
                    md, md["current-snapshot-id"], pred, spark=self.spark
                )
                layer.update(dml_files_scanned=len(scan), dml_files_excluded=len(excluded))
        else:
            sql = self._sql(kind, arg)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"op{k}", kind)
        wall0 = time.time()
        t0 = time.perf_counter()
        if kind == "dml":
            with tracer.op(k), tracer.span("sinks"):
                _, layer["deleted"] = t.delete_where(self.spark, pred, mode="deletion-vectors")
            t1 = time.perf_counter()
        else:
            with tracer.op(k), tracer.span("sources"):
                df = self.spark.sql(sql)
                ta = time.perf_counter()
                layer["rows"] = df.collect()
            t1 = time.perf_counter()
            layer.update(analyze_ms=1000 * (ta - t0), execute_ms=1000 * (t1 - ta))
        wall = (wall0, time.time())
        sc.setJobGroup(None, None)
        n = layer["deleted"] if kind == "dml" else len(layer["rows"])
        return OpRecord(k, kind, t1 - t0, n, wall=wall, layer=layer)

    def op(self, i: int, tracer) -> OpRecord:
        rec = self._run(len(WARM_UP) + i, tracer)
        rec.i = i
        return rec

    def after_op(self, rec: OpRecord, stats) -> None:
        k = len(WARM_UP) + rec.i
        self._check(rec, k)
        if rec.kind == "dml":
            self._register_views()
        if stats is None:
            return
        rec.spark = stats.collect(lambda j: j.get("jobGroup") == f"op{k}", rec.wall)
        if rec.kind == "dml":
            rec.layer.update(snapshot_facts(self._table(self.ops[k][1][0]).metadata()))
        else:
            rec.layer.update(self._scan_plan(k))

    def _scan_plan(self, k: int) -> dict:
        """Files the scan plans and prunes for this read, from metadata,
        with the pushdown the Python data source gets for its filter."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import plan_scan_metadata

        kind, arg = self.ops[k]
        table = READ_TABLE[kind]
        kwargs: dict = {}
        if kind == "lookup":
            kwargs["source_predicate"] = ("trace_id", arg)
        elif kind == "p99":
            kwargs["source_range"] = ("start_time_unix_nano", _hour_ts(arg), _hour_ts(arg + 1))
        data, _, pruned = plan_scan_metadata(self._table(table).metadata(), **kwargs)
        return {"files_planned": len(data), "files_pruned": pruned}

    # -- checks ---------------------------------------------------------------

    def _check(self, rec: OpRecord, k: int | None = None) -> None:
        k = rec.i if k is None else k
        kind, arg = self.ops[k]
        if kind == "dml":
            expected = self.truth.purge(*arg)
            got = rec.layer["deleted"]
        else:
            expected = self._expected(kind, arg)
            got = self._answer(kind, rec.layer["rows"])
        rec.ok = _same(got, expected)
        if not rec.ok:
            rec.error = f"{kind} {arg}: got {got}, expected {expected}"

    @staticmethod
    def _answer(kind: str, rows) -> object:
        if kind == "lookup":
            return sorted((r[0], r[1]) for r in rows)
        if kind == "p99":
            return {r[0]: (r[1], r[2]) for r in rows}
        if kind == "errors":
            return {r[0]: r[1] for r in rows}
        return {r[0]: (r[1], r[2]) for r in rows}

    def _expected(self, kind: str, arg) -> object:
        t = self.truth
        if kind == "lookup":
            return sorted((s[0], s[3]) for s in t.spans if s[2] == arg)
        if kind == "p99":
            by: dict[str, list[int]] = defaultdict(list)
            for s in t.spans:
                if s[1] == arg:
                    by[s[0]].append(s[3])
            return {svc: (_percentile(v, 0.99), len(v)) for svc, v in by.items()}
        if kind == "errors":
            return dict(Counter(r[0] for r in t.logs if r[2] >= ERROR_SEVERITY))
        totals: dict[int, list] = {}
        facts = [(p[2], p[3]) for p in t.points if p[0] == READ_TABLE[kind]]
        for hour, value in facts:
            cur = totals.setdefault(hour, [0, 0])
            cur[0] += value
            cur[1] += 1
        return {h: (v[0], v[1]) for h, v in totals.items()}

    def probe(self) -> list[str]:
        """The traced run's `operators` probe: one untimed warm-up build,
        then `corpus.BUILDS` timed ones, each output checked."""
        from opentelemetry_iceberg_exporter_spark.operators.corpus_build import build_corpus

        docs, bench = self.corpus.frames(self.spark)
        errors = []
        for n in range(corpus.BUILDS + 1):
            t0 = time.perf_counter()
            out, _ = build_corpus(
                self.spark,
                docs,
                benchmark=bench,
                pack_budget=corpus.PACK_BUDGET,
                report_counts=False,
            )
            ta = time.perf_counter()
            rows = out.select(*corpus.COLUMNS).collect()
            t1 = time.perf_counter()
            errors.extend(f"corpus build {n}: {e}" for e in self.corpus.check(rows))
            if n:
                self.builds.append((ta - t0, t1 - ta))
        return errors

    def final_check(self) -> list[str]:
        """Rows left after the purges, read through the views."""
        errors = []
        for table in PURGE_TABLES:
            n = self.spark.sql(f"SELECT count(*) FROM otel_otel_{table}").collect()[0][0]
            if n != self.truth.rows[table]:
                errors.append(f"{table}: {n} rows after purges, expected {self.truth.rows[table]}")
        return errors

    # -- per-layer numbers ---------------------------------------------------

    def layer_metrics(self, traced: list[OpRecord]) -> dict:
        def avg(key: str, kinds=None) -> float:
            vals = [
                r.layer[key]
                for r in traced
                if key in r.layer and (kinds is None or r.kind in kinds)
            ]
            return sum(vals) / len(vals) if vals else 0.0

        dml = [r for r in traced if r.kind == "dml"]
        out = {
            "operators.plan_ms": 1000.0 * median([b[0] for b in self.builds]),
            "operators.execute_ms": 1000.0 * median([b[1] for b in self.builds]),
            "otlp.decode_us_per_record": 1e6 * self.decode_s / sum(DAY_RECORDS.values()),
            "query.analyze_ms": avg("analyze_ms"),
            "query.execute_ms": avg("execute_ms"),
            "sources.files_planned_per_query": avg("files_planned"),
            "sources.files_pruned_per_query": avg("files_pruned"),
            "sinks.dml_files_scanned": avg("dml_files_scanned"),
            "sinks.dml_files_excluded": avg("dml_files_excluded"),
            "sinks.files_per_commit": avg("added_files", ("dml",)),
            "sinks.metadata_bytes_per_commit": avg("metadata_bytes", ("dml",)),
            "sinks.manifests_per_snapshot": avg("manifests", ("dml",)),
            "sinks.data_bytes_per_record": sum(r.layer.get("added_bytes", 0) for r in dml)
            / max(1, sum(r.layer.get("deleted", 0) for r in dml)),
        }
        out.update({name: 0.0 for name in BYPASSED})
        return out

    def close(self) -> None:
        pass

