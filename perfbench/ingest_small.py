"""`ingest_small`: the exporter's production cadence over a REST catalog.

The collector's `batch` processor sends 512-record batches and waits for
each export call to return before the next (one client, closed loop).
Each operation publishes one serialized Export*ServiceRequest of 512
records, rotating traces -> logs, by an atomic rename into
that signal's drop-box, which a running
`start_export_stream(..., wire_format="protobuf", max_files_per_trigger=1)`
query consumes; it ends when that query's `processAllAvailable()`
returns. Each batch must land as exactly one snapshot per table it
touches, with exactly the generated row counts.

Timestamps are in order within one hour; attribute maps have 10 keys.

Metrics requests are not in the rotation: the streaming batch body hands
every one of the five per-type frames to the sink, empty or not, and an
append to the summary table fails in the engine (its dotted
`quantile_values.*` column names are resolved as struct fields when the
writer stamps field ids), so no metrics batch can commit on this path,
whether or not it carries summary points.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
import urllib.request
from collections import Counter

from common import OpRecord, snapshot_facts
from otlpgen import BASE_NS, NS_PER_HOUR, GenConfig, OtlpGenerator, Truth, timed_round_trip

HERE = os.path.dirname(os.path.abspath(__file__))
SIGNALS = ("traces", "logs")  # one stream each
ROTATION = SIGNALS
WARM_UP = SIGNALS  # untimed: one request per stream, published at once
RECORDS = 512
# requests generated per second of the timed loop: a floor far above the
# ~0.3 operations per second a 4-core host reaches, so the loop runs out
# of inputs only after a several-fold speed-up (and then says so)
OPS_PER_SECOND = 2
STREAMING_PHASES = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
}
# per-layer metrics of layers this workload never calls (reported as 0)
BYPASSED = (
    "query.analyze_ms",
    "query.execute_ms",
    "sources.files_planned_per_query",
    "sources.files_pruned_per_query",
    "sinks.dml_files_scanned",
    "sinks.dml_files_excluded",
    "operators.plan_ms",
    "operators.execute_ms",
)


class IngestSmall:
    latency_mix = Counter(ROTATION)

    def __init__(self, seed: int, work: str, cores: int, traced: bool):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.warehouse = os.path.join(work, "warehouse")
        self.requests: list[tuple[str, str, Truth]] = []
        self.expected = Truth()
        self.commits: Counter = Counter()  # snapshots expected per table
        self.decode_s = 0.0
        self.decoded_records = 0
        self.server: subprocess.Popen | None = None
        self.queries: dict = {}
        self.last_batch: dict[str, int] = {s: -1 for s in SIGNALS}
        self.tracer = None

    # -- inputs ---------------------------------------------------------------

    def generate(self, seconds: float) -> None:
        """Warm-up requests, then `OPS_PER_SECOND` per second of the timed
        loop."""
        gen = OtlpGenerator(self.seed, GenConfig(records=RECORDS))
        n = math.ceil(OPS_PER_SECOND * seconds) + len(ROTATION)
        signals = list(WARM_UP) + [ROTATION[i % len(ROTATION)] for i in range(n)]
        lo = BASE_NS + (self.seed % 24) * NS_PER_HOUR
        width = NS_PER_HOUR // len(signals)
        os.makedirs(self.inputs)
        for k, signal in enumerate(signals):
            payload, truth = gen.request(signal, window=(lo + k * width, width))
            self.decode_s += timed_round_trip(payload, signal, truth)
            self.decoded_records += RECORDS
            path = os.path.join(self.inputs, f"{k:05d}.pb")
            with open(path, "wb") as f:
                f.write(payload)
            self.requests.append((signal, path, truth))

    def has_op(self, i: int) -> bool:
        return len(WARM_UP) + i < len(self.requests)

    def kind(self, i: int) -> str:
        return self.requests[len(WARM_UP) + i][0]

    # -- services and set-up -------------------------------------------------

    def start_services(self, rss) -> None:
        os.makedirs(self.warehouse)
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rest_server.py"), self.warehouse],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        rss.exclude.add(self.server.pid)

    def install_tracing(self, tracer) -> None:
        """Spans at the layer boundaries the streaming path crosses:
        the foreachBatch body (streaming), the flatten plan build (otlp),
        the public `sink=` hook (sinks) and, inside it, the Parquet write
        and the catalog commit."""
        from opentelemetry_iceberg_exporter_spark.sinks import iceberg_rest
        from opentelemetry_iceberg_exporter_spark.streaming import pipeline

        self.tracer = tracer
        make = pipeline.make_batch_processor

        def traced_make(*args, **kwargs):
            return tracer.wrap("streaming", make(*args, **kwargs))

        pipeline.make_batch_processor = traced_make
        pipeline.flatten_signal_cached = tracer.wrap("otlp", pipeline.flatten_signal_cached)
        iceberg_rest.write_partitioned_batch = tracer.wrap(
            "sinks.write", iceberg_rest.write_partitioned_batch
        )
        iceberg_rest.RestTable.append_files = tracer.wrap(
            "sinks.commit", iceberg_rest.RestTable.append_files
        )

    def setup(self, spark) -> dict:
        from opentelemetry_iceberg_exporter_spark.config import (
            CatalogConfig,
            ExporterConfig,
            StorageConfig,
        )
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_rest import RestCatalogClient
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_sink import RestIcebergSink
        from opentelemetry_iceberg_exporter_spark.streaming.pipeline import (
            default_sink,
            start_export_stream,
        )

        t = time.perf_counter()
        line = self.server.stdout.readline()
        if not line.startswith("URI "):
            raise RuntimeError(f"catalog server did not start: {line!r}")
        self.uri = line.split()[1]
        config = ExporterConfig(
            storage=StorageConfig(bucket=os.path.join(self.work, "raw")),
            catalog=CatalogConfig(catalog_type="rest", uri=self.uri, warehouse=self.warehouse),
        )
        RestIcebergSink(spark, config).ensure_all_tables()
        self.client = RestCatalogClient(self.uri, warehouse=self.warehouse)
        tables_s = time.perf_counter() - t

        t = time.perf_counter()
        for signal in SIGNALS:
            drop = os.path.join(self.work, "drop", signal)
            os.makedirs(drop)
            sink = None
            if self.tracer is not None:
                sink = self.tracer.wrap("sinks", default_sink(config))
            self.queries[signal] = start_export_stream(
                spark,
                drop,
                signal,
                config,
                os.path.join(self.work, "checkpoints", signal),
                sink=sink,
                max_files_per_trigger=1,
                wire_format="protobuf",
            )
        for k in range(len(WARM_UP)):
            self._publish(k)
        for signal in SIGNALS:
            self.queries[signal].processAllAvailable()
            self._progress(signal)
        for k in range(len(WARM_UP)):
            table, _, truth = self.requests[k]
            self.expected.extend(truth)
            self.commits[table] += 1
        errors = [e for table in SIGNALS for e in self._verify(table)]
        if errors:
            raise RuntimeError(f"warm-up: {errors}")
        return {"tables_s": tables_s, "warmup_s": time.perf_counter() - t}

    def _publish(self, k: int) -> None:
        signal, path, _ = self.requests[k]
        os.rename(path, os.path.join(self.work, "drop", signal, os.path.basename(path)))

    # -- the timed operation -------------------------------------------------

    def op(self, i: int, tracer) -> OpRecord:
        k = len(WARM_UP) + i
        signal = self.requests[k][0]
        query = self.queries[signal]
        rest_before = self._rest_counts() if tracer.active else None
        wall0 = time.time()
        t0 = time.perf_counter()
        with tracer.op(i):
            self._publish(k)
            query.processAllAvailable()
        latency = time.perf_counter() - t0
        rec = OpRecord(i, signal, latency, RECORDS, wall=(wall0, time.time()))
        if rest_before is not None:
            # read before any check of ours talks to the catalog, so only
            # the engine's requests of this operation are counted
            rest_after = self._rest_counts()
            rec.layer["rest_requests"] = rest_after["requests"] - rest_before["requests"]
            rec.layer["rest_commits"] = rest_after["commits"] - rest_before["commits"]
        return rec

    def after_op(self, rec: OpRecord, stats) -> None:
        k = len(WARM_UP) + rec.i
        phases = self._progress(rec.kind)
        errors = self._check(k)
        rec.ok = not errors
        rec.error = "; ".join(errors) or None
        rec.layer.update({name: phases.get(key, 0) for name, key in STREAMING_PHASES.items()})
        rec.layer["pickup_wait_ms"] = 1000.0 * rec.latency_s - phases.get("triggerExecution", 0)
        if stats is None:
            return
        rec.spark = stats.collect(
            lambda j: rec.wall[0] - 0.01 <= _epoch(j) <= rec.wall[1] + 0.01, rec.wall
        )
        facts = self._facts(rec.kind)  # one table, one commit per batch
        rec.layer.update(
            {
                "rest_requests_per_commit": rec.layer["rest_requests"],
                "commit_attempts_per_commit": rec.layer["rest_commits"],
                "files_per_commit": facts["added_files"],
                "data_bytes_per_record": facts["added_bytes"] / facts["added_records"],
                "metadata_bytes_per_commit": facts["metadata_bytes"],
                "manifests_per_snapshot": facts["manifests"],
            }
        )

    def _progress(self, signal: str) -> dict:
        """Summed durationMs of the query's triggers that took new data
        since the last call (the progress event trails the commit)."""
        query = self.queries[signal]
        deadline = time.monotonic() + 5
        while True:
            new = [
                p
                for p in query.recentProgress
                if p["batchId"] > self.last_batch[signal] and p["numInputRows"] > 0
            ]
            if new or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        out: Counter = Counter()
        for p in new:
            out.update(p["durationMs"])
            self.last_batch[signal] = max(self.last_batch[signal], p["batchId"])
        return dict(out)

    def _rest_counts(self) -> dict:
        with urllib.request.urlopen(f"{self.uri}/perfbench/requests", timeout=10) as r:
            return json.loads(r.read())

    def _table_md(self, table: str) -> tuple[dict, str]:
        res = self.client.load_table("otel", f"otel_{table}")
        return res["metadata"], res.get("metadata-location")

    def _facts(self, table: str) -> dict:
        md, location = self._table_md(table)
        return snapshot_facts(md, location)

    def _check(self, k: int) -> list[str]:
        """Expect request `k` committed, then verify its table."""
        table, _, truth = self.requests[k]
        self.expected.extend(truth)
        self.commits[table] += 1
        return self._verify(table)

    def _verify(self, table: str) -> list[str]:
        """The table's rows equal the generated total, and each batch
        added exactly one snapshot."""
        md, _ = self._table_md(table)
        snaps = md.get("snapshots", [])
        cur = next((s for s in snaps if s["snapshot-id"] == md.get("current-snapshot-id")), None)
        rows = int(cur["summary"]["total-records"]) if cur else 0
        if rows != self.expected.rows[table] or len(snaps) != self.commits[table]:
            return [
                f"{table}: {rows} rows in {len(snaps)} snapshots, expected "
                f"{self.expected.rows[table]} in {self.commits[table]}"
            ]
        return []

    def probe(self) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        return []

    # -- per-layer numbers ---------------------------------------------------

    def layer_metrics(self, traced: list[OpRecord]) -> dict:
        def avg(key: str) -> float:
            vals = [r.layer[key] for r in traced if key in r.layer]
            return sum(vals) / len(vals) if vals else 0.0

        totals = self.tracer.totals_ms()
        out = {f"streaming.{name}": avg(name) for name in STREAMING_PHASES}
        out["streaming.pickup_wait_ms"] = avg("pickup_wait_ms")
        out["otlp.decode_us_per_record"] = 1e6 * self.decode_s / self.decoded_records
        out["otlp.flatten_plan_ms"] = totals.get("otlp", 0.0)
        out["sinks.append_ms"] = totals.get("sinks", 0.0)
        out["sinks.write_ms"] = totals.get("sinks.write", 0.0)
        out["sinks.commit_ms"] = totals.get("sinks.commit", 0.0)
        for key in (
            "rest_requests_per_commit",
            "commit_attempts_per_commit",
            "files_per_commit",
            "data_bytes_per_record",
            "metadata_bytes_per_commit",
            "manifests_per_snapshot",
        ):
            out[f"sinks.{key}"] = avg(key)
        out.update({name: 0.0 for name in BYPASSED})
        return out

    def close(self) -> None:
        for signal, q in self.queries.items():
            try:
                q.stop()
            except Exception as exc:  # noqa: BLE001 — a failed query re-raises on stop
                print(f"stopping the {signal} stream: {exc}", file=sys.stderr)
        if self.server is not None:
            self.server.stdin.close()
            try:
                self.server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.server.kill()
                self.server.wait()


def _epoch(job: dict) -> float:
    from sparkstats import parse_ts

    return parse_ts(job.get("submissionTime")) or 0.0
