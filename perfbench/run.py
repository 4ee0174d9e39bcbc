"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload wire_roundtrip --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds nothing: the engine is the
``streamsurfer_spark`` package beside this directory, and the run fails
(exit 2, no result) when that package is missing. Everything the run
writes stays under ``perfbench/_work/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json when ``--trace 0``, its per-layer metrics when ``--trace 1``.
The line before it is a JSON report with the workload's realised inputs,
host context, the metrics under workload-specific names, ``failed_ratio``
and, when tracing, the tracing overhead; a traced run also prints its
per-layer self-time table and writes its spans to
``perfbench/_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"
# Units of the metrics the report carries under workload-specific names.
NAMED_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "replay_events_per_s": "1/s",
    "event_ack_p50_ms": "ms",
    "event_ack_p90_ms": "ms",
    "stream_latency_p50_ms": "ms",
    "stream_latency_p90_ms": "ms",
    "batch_pass_s": "s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _environment(work: str, nproc: int) -> None:
    """Keep every file the engine, Spark and its workers write under
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp}"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _setup(n: int):
    """Create the session ``n`` times (stopping the previous one), each
    time timing get_spark and the first completed job."""
    from streamsurfer_spark.session import get_spark

    spark, times = None, []
    for i in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        times.append((t1 - t0, time.perf_counter() - t1))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _with_event_log(spark, log_dir: str):
    """Restart the session with the uncompressed event log on."""
    from streamsurfer_spark.session import get_spark

    os.makedirs(log_dir)
    system = spark._jvm.java.lang.System
    spark.stop()
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.compress", "false")
    system.setProperty("spark.eventLog.dir", "file://" + log_dir)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(workload: str, seed: int, seconds: float, trace: bool, client=None) -> tuple[dict, dict]:
    """One run; returns (result line, report). ``client`` replaces the
    benchmark's spool client (the lossy-client test uses it)."""
    from perfbench import host, sparklog
    from perfbench.trace import LAYERS, Tracer, layer_table
    from perfbench.workloads import WORKLOADS, Ctx

    spec = _spec()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, "perfbench", "_work", f"{workload}-{seed}-{os.getpid()}")
    traces = os.path.join(ROOT, "perfbench", "_work", "traces")
    os.makedirs(traces, exist_ok=True)
    _environment(work, nproc)
    phases = {}  # wall of each step of the run, for budgeting run time
    t = time.perf_counter()
    host_start = host.context()
    phases["host_start_s"] = time.perf_counter() - t
    spark = None
    try:
        with host.PeakRss() as rss:
            spark, setups = _setup(SETUPS)
            phases["setups_s"] = time.perf_counter() - t - sum(phases.values())
            if trace:
                spark = _with_event_log(spark, os.path.join(work, "eventlog"))
            ctx = Ctx(spark, seed, seconds, work, Tracer(False), nproc)
            if client is not None:
                ctx.client = client
            res = WORKLOADS[workload](ctx)
            phases["workload_s"] = time.perf_counter() - t - sum(phases.values())
            runs = [res]
            if trace:
                # Untraced, traced, untraced, all on the event-log session:
                # the overhead compares the traced measurement with the mean
                # of the two around it, so the JVM's warming over the three
                # cancels to first order.
                tracer = ctx.tracer = Tracer(True)
                traced = WORKLOADS[workload](ctx)
                ctx.tracer = Tracer(False)
                after = WORKLOADS[workload](ctx)
                runs += [traced, after]
                app_id = spark.sparkContext.applicationId
                phases["traced_workloads_s"] = time.perf_counter() - t - sum(phases.values())
            _shutdown(spark)
            spark = None
            phases["shutdown_s"] = time.perf_counter() - t - sum(phases.values())
        host_end = host.context()
        phases["host_end_s"] = time.perf_counter() - t - sum(phases.values())

        get_spark_s = statistics.median(a for a, _ in setups)
        first_job_s = statistics.median(b for _, b in setups)
        e2e = {"setup_s": statistics.median(a + b for a, b in setups), **res["e2e"]}
        peak_rss_mb = rss.peak / 2**20
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        named = {"setup_s": e2e["setup_s"], **res["named"], "failed_ratio": failed / attempted, "peak_rss_mb": peak_rss_mb}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        report = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "inputs": res["inputs"],
            "samples": res["samples"],
            "host": {"start": host_start, "end": host_end},
            "setups_s": setups,
            "phases_s": phases,
            "metrics": {k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in named.items()},
        }
        if not trace:
            metrics = e2e
        else:
            lo_ms, hi_ms = traced["window_ms"]
            lo, hi = lo_ms / 1000 - tracer.wall_epoch, hi_ms / 1000 - tracer.wall_epoch
            covered = tracer.covered(lo, hi)
            selfs = tracer.self_times(lo, hi)
            untraced = {k: (v + after["e2e"][k]) / 2 for k, v in res["e2e"].items()}
            overhead = {k: traced["e2e"][k] / v - 1 for k, v in untraced.items()}
            metrics = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0)
            metrics.update(traced.get("layers", {}))
            metrics.update({f"spark.{k}": v for k, v in sparklog.window_totals(os.path.join(work, "eventlog"), app_id, lo_ms, hi_ms, nproc).items()})
            metrics.update({f"self_s.{layer}": selfs.get(layer, 0.0) for layer in LAYERS})
            metrics.update(
                {
                    "session.get_spark_s": get_spark_s,
                    "session.first_job_s": first_job_s,
                    "session.cold_start_s": sum(setups[0]),
                    "host.peak_rss_mb": peak_rss_mb,
                    "trace.overhead_ratio": overhead["latency_p50_ms"],
                    "trace.covered_ratio": covered / (hi - lo),
                    "trace.spans": len(tracer.spans),
                }
            )
            trace_file = os.path.join(traces, f"{workload}-{seed}-{os.getpid()}.json")
            tracer.write(trace_file)
            report["trace_file"] = os.path.relpath(trace_file, ROOT)
            report["untraced_e2e"] = [res["e2e"], after["e2e"]]
            report["traced_e2e"] = traced["e2e"]
            report["trace_overhead"] = overhead
            # the two untraced measurements' own difference: an overhead
            # smaller than this is not resolved
            report["untraced_drift"] = {k: after["e2e"][k] / v - 1 for k, v in res["e2e"].items()}
            report["layer_table"] = layer_table(selfs, hi - lo, covered)
        unknown = set(metrics) - set(units)
        missing = {m["name"] for m in spec["end_to_end" if not trace else "per_layer"]} - set(metrics)
        if unknown or missing:
            raise RuntimeError(f"metric names out of step with BENCHMARK.json: unknown={sorted(unknown)} missing={sorted(missing)}")
        line = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return line, report
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "streamsurfer_spark")):
        print("perfbench: no streamsurfer_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    line, report = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if "layer_table" in report:
        print(report.pop("layer_table"))
    print(json.dumps({"report": report}))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
