"""Layered benchmark of the OTLP -> Iceberg engine.

    python3 perfbench/run.py --workload ingest_small --seed 1 --seconds 20 --trace 0

Runs one workload (see DESIGN.md for what each stresses) as a
closed loop with a single client against a `local[<cores>]` Spark
session, from the root of a source checkout. Inputs are generated from
the seed before the session starts; set-up (session, catalog and tables,
an untimed warm-up op of every kind) is timed as `setup_s`. Every
operation's output is checked against ground truth computed by the
generator.

Output: a `report` JSON line with every metric the run measured, then,
as the last line, the result object
`{"correct", "attempted", "failed", "metrics"}` whose metrics are the
end-to-end ones (`--trace 0`) or the per-layer ones (`--trace 1`).
The exit code is 1 when an output check failed.

With `--trace 1` each operation kind alternates traced and untraced
operations, its first one traced: spans and Spark stage metrics come
from the traced ones, and the tracing overhead is the traced minus the
untraced median latency over the kinds that ran both ways. After the
loop a workload may probe a layer its loop does not call (query_mix
times `build_corpus`, the `operators` layer). Spans are written to
`.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from procstats import (  # noqa: E402
    RssSampler,
    descendants,
    process_start_epoch,
    tree_cpu_seconds,
    wait_ended,
)
from tracer import Tracer  # noqa: E402

PROCESS_START = process_start_epoch()
# StageMetrics.collect() keys -> per-layer metric names
STAGE_METRICS = {
    "jobs": "spark.jobs_per_op",
    "stages": "spark.stages_per_op",
    "shared_stages": "spark.shared_stages_per_op",
    "tasks": "spark.tasks_per_op",
    "executor_run_ms": "spark.executor_run_ms",
    "executor_cpu_ms": "spark.executor_cpu_ms",
    "shuffle_write_bytes": "spark.shuffle_write_bytes",
    "driver_only_ms": "spark.driver_only_ms",
    "python_bytes_sent": "arrow.python_bytes_sent",
    "python_bytes_received": "arrow.python_bytes_received",
    "python_rows_received": "arrow.python_rows_received",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def workload_class(name: str):
    if name == "ingest_small":
        from ingest_small import IngestSmall

        return IngestSmall
    if name == "query_mix":
        from query_mix import QueryMix

        return QueryMix
    raise SystemExit(f"unknown workload {name!r}")


def start_session(work: str, cores: int):
    from opentelemetry_iceberg_exporter_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # keep every JVM's scratch files (launcher included) inside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM: the gateway JVM outlives `spark.stop()`
    and exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, samples); zeros when there are fewer than 11."""
    n = len(latencies)
    if n < 11:
        return 0.0, 0.0, n
    return sorted(latencies)[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mix_p50(ops: list, mix: dict[str, int]) -> float:
    """Median latency of the workload's operation mix: each kind's median
    latency, averaged with the kind's share of the mix as its weight.
    Every kind moves it in proportion to its share, and it does not jump
    between the kinds' latency modes with where the time limit cuts the
    sequence, as the plain median of all operations would."""
    per_kind = [
        (median([r.latency_s for r in ops if r.kind == k]), w)
        for k, w in mix.items()
        if any(r.kind == k for r in ops)
    ]
    total = sum(w for _, w in per_kind)
    return sum(v * w for v, w in per_kind) / total if total else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def run(args) -> int:
    spec = load_spec()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    rss = RssSampler().start()
    tracer = Tracer()
    wl = spark = None
    inputs_exhausted = False
    ops: list = []
    errors: list[str] = []
    try:
        os.makedirs(work)
        wl = workload_class(args.workload)(args.seed, work, cores, bool(args.trace))
        t = time.perf_counter()
        wl.generate(args.seconds)
        input_gen_s = time.perf_counter() - t

        t = time.perf_counter()
        wl.start_services(rss)
        if args.trace:
            wl.install_tracing(tracer)
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t
        phases = wl.setup(spark)
        setup_s = time.time() - PROCESS_START - input_gen_s

        stats = None
        if args.trace:
            from sparkstats import StageMetrics

            stats = StageMetrics(spark)
        cpu0 = tree_cpu_seconds(os.getpid(), rss.exclude)
        deadline = time.perf_counter() + args.seconds
        i = 0
        # alternation per kind, not per operation: the mixes' cycles have
        # even lengths, so tracing every other operation would trace some
        # kinds always and others never
        seen: Counter = Counter()
        while time.perf_counter() < deadline:
            if not wl.has_op(i):
                inputs_exhausted = True
                print(
                    f"inputs ran out after {i} operations, before the {args.seconds} s deadline",
                    file=sys.stderr,
                )
                break
            kind = wl.kind(i)
            traced = bool(args.trace) and seen[kind] % 2 == 0
            seen[kind] += 1
            tracer.active = traced
            try:
                rec = wl.op(i, tracer)
            except Exception:  # noqa: BLE001 — a failed op ends the loop, reported below
                tracer.active = False
                errors.append(f"op {i}: {traceback.format_exc()}")
                ops.append(None)
                break
            tracer.active = False
            rec.traced = traced
            wl.after_op(rec, stats if traced else None)
            if not rec.ok:
                errors.append(f"op {i} ({rec.kind}): {rec.error}")
            ops.append(rec)
            i += 1
        loop_cpu_s = tree_cpu_seconds(os.getpid(), rss.exclude) - cpu0
        errors.extend(wl.final_check())
        t = time.perf_counter()
        if args.trace:
            errors.extend(wl.probe())
        probe_s = time.perf_counter() - t
    finally:
        started = descendants()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        wait_ended(started, timeout=30)
        peak_rss_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass

    done = [r for r in ops if r is not None]
    attempted = max(1, len(ops))
    failed = sum(1 for r in ops if r is None or not r.ok)
    correct = not errors and failed == 0
    untraced = [r for r in done if not r.traced]
    lat = [r.latency_s for r in done if r.kind in wl.latency_mix]
    busy = sum(r.latency_s for r in done)
    tail_s, tail_pct, tail_n = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1000.0 * mix_p50(untraced, wl.latency_mix),
        "peak_rss_mb": peak_rss_mb,
        "cpu_ms_per_op": 1000.0 * loop_cpu_s / max(1, len(done)),
    }
    extra = {
        "latency_tail_ms": 1000.0 * tail_s,
        "records_per_s": sum(r.records for r in done) / busy if busy else 0.0,
        "dml_latency_p50_ms": 1000.0 * median([r.latency_s for r in done if r.kind == "dml"]),
        "failed_ratio": failed / attempted,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "input_gen_s": input_gen_s,
        "session_s": session_s,
        **phases,
        "ops": {
            k: [sum(1 for r in done if r.kind == k), 1000.0 * median([r.latency_s for r in done if r.kind == k])]
            for k in sorted({r.kind for r in done})
        },
        "inputs_exhausted": inputs_exhausted,
        "probe_s": probe_s,
        "latency_tail_percentile": tail_pct,
        "latency_tail_samples": tail_n,
        **e2e,
        **extra,
    }
    if args.trace:
        layer = per_layer(wl, tracer, done, e2e, extra, session_s, phases, input_gen_s)
        report["per_layer"] = layer
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
        wanted = spec["per_layer"]
        values = layer
    else:
        wanted = spec["end_to_end"]
        values = e2e
    for e in errors:
        print(e, file=sys.stderr)
    print(json.dumps({"report": report}))
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0 if correct else 1


def per_layer(wl, tracer, done, e2e, extra, session_s, phases, input_gen_s) -> dict:
    traced = [r for r in done if r.traced]
    untraced = [r for r in done if not r.traced]
    both = {
        k: w
        for k, w in wl.latency_mix.items()
        if any(r.kind == k for r in traced) and any(r.kind == k for r in untraced)
    }
    p50_t = mix_p50(traced, both)
    p50_u = mix_p50(untraced, both)
    out = {
        "trace.overhead_ms": 1000.0 * (p50_t - p50_u),
        "setup.input_gen_s": input_gen_s,
        "setup.session_s": session_s,
        "setup.tables_s": phases["tables_s"],
        "setup.warmup_s": phases["warmup_s"],
        "records_per_s": extra["records_per_s"],
        "peak_rss_mb": e2e["peak_rss_mb"],
        "cpu_ms_per_op": e2e["cpu_ms_per_op"],
        "latency_tail_ms": extra["latency_tail_ms"],
        "dml_latency_p50_ms": extra["dml_latency_p50_ms"],
    }
    self_ms = tracer.self_times_ms()
    for layer in ("client", "streaming", "otlp", "sinks", "sinks.write", "sinks.commit", "sources"):
        out[f"self_ms.{layer}"] = self_ms.get(layer, 0.0)
    for key, name in STAGE_METRICS.items():
        out[name] = mean([r.spark[key] for r in traced if r.spark])
    out.update(wl.layer_metrics(traced))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
