"""The three workloads. Each generates its inputs from the seed, warms up,
measures for ``ctx.seconds``, checks its own output and returns

- ``e2e``: the benchmark's end-to-end metrics, under the names every
  workload shares (README.md gives each workload's definition);
- ``named``: the same measurements under workload-specific names;
- ``layers``: per-layer metrics (filled in when tracing);
- ``attempted`` / ``failed``: output-check counts behind ``failed_ratio``;
- ``inputs``: the realised input properties;
- ``window_ms``: the measured window, epoch milliseconds.

The engine is driven only through its public calls; the Kinesis client is
the benchmark's own, injected through the sink's ``client_factory``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from perfbench import gen
from perfbench.spool import SpoolClient, read_calls, read_items, sink_counters
from perfbench.trace import Tracer

from streamsurfer_spark.queries import registry
from streamsurfer_spark.sink.chunker import greedy_chunks
from streamsurfer_spark.sink.config import KinesisSinkConfig
from streamsurfer_spark.sink.kinesis import envelope_payload, kinesis_stream_writer, write_batch_to_kinesis
from streamsurfer_spark.sources.kinesis_source import spool_items
from streamsurfer_spark.streaming.ingest import read_events_stream
from streamsurfer_spark.streaming.transforms import streaming_dedup


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    nproc: int
    client: type = SpoolClient
    state: dict = field(default_factory=dict)  # inputs and oracle, kept across phases


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _now_ms() -> float:
    return time.time() * 1000


def _factory(cls: type, spool: str):
    return lambda _cfg: cls(spool)


def _duck_rows(sql: str, tables: dict[str, str]) -> tuple[list[str], list[tuple]]:
    """Column names and rows of a registry oracle run by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(sql)
        return list(rel.columns), [tuple(r) for r in rel.fetchall()]
    finally:
        con.close()


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Rows as order-insensitive strings over name-sorted columns, the
    comparison the repo's driver simulation makes against DuckDB."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


# --- wire_roundtrip ---------------------------------------------------------

# About 350 records of 16 KiB per round trip. Reading back costs about
# 0.18 ms per event over a fixed 0.7 s, so here it is about 80 % of the
# round trip and most of it grows with the records read; a round trip is
# short enough for two in the measured window (README.md gives the
# measurement).
WIRE_EVENTS = 12_000
WIRE_BUDGET = 16_384  # qv10's chunk budget: about 33 of these events per record
WIRE_ORIGIN = "roundtrip-batch"  # the origin qv10's oracle expects
WIRE_ITEM_SCHEMA = "event_type string, user_id long, value double, server_timestamp string, origin string"


def _wire_aggregate(items):
    """qv10's consume side: typed parse, then per-event-type aggregates."""
    parsed = items.select(F.from_json("item", WIRE_ITEM_SCHEMA).alias("p")).select("p.*")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_items"),
        F.sum("user_id").alias("sum_user_id"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
        F.countDistinct("server_timestamp").alias("n_distinct_sts"),
        F.min("origin").alias("origin"),
    )


def _wire_setup(ctx: Ctx) -> None:
    if "wire" in ctx.state:
        return
    path = os.path.join(ctx.work, "wire_events")
    inputs = gen.wire_events(ctx.seed, WIRE_EVENTS, ctx.nproc, path)
    sql = registry()["qv10_put_records_roundtrip"].oracle
    cols, oracle = _duck_rows(sql, {"events": os.path.join(path, "*.parquet")})
    key, n = cols.index("event_type"), cols.index("n_items")
    # event_type -> (canonical row, events in it)
    ctx.state["wire"] = (path, inputs, {r[key]: (canonical_rows(cols, [r]), r[n]) for r in oracle})


def wire_roundtrip(ctx: Ctx) -> dict:
    _wire_setup(ctx)
    path, inputs, expected = ctx.state["wire"]
    spark, tr = ctx.spark, ctx.tracer
    df = spark.read.parquet(path)
    inputs = {**inputs, "input_partitions": df.rdd.getNumPartitions()}
    cfg = KinesisSinkConfig("bench-wire", max_size_bytes=WIRE_BUDGET, origin=WIRE_ORIGIN)
    n_valid = sum(n for _, n in expected.values())

    def round_trip(k: int) -> dict:
        spool = os.path.join(ctx.work, f"spool-{k}")
        os.makedirs(spool)
        g = f"roundtrip-{k}"
        start_wall = time.time()
        t0 = time.perf_counter()
        with tr.span("bench.roundtrip", g):
            with tr.span("envelope.envelope_payload", g):
                payloads = envelope_payload(df, ts_col="ts", origin=WIRE_ORIGIN)
            with tr.span("sink.kinesis.write_batch_to_kinesis", g):
                write_batch_to_kinesis(payloads, cfg, _factory(ctx.client, spool), use_put_records=True)
            t1 = time.perf_counter()
            with tr.span("sources.kinesis_source.spool_items", g):
                items = spool_items(spark, spool)
                agg = _wire_aggregate(items)
                rows = [tuple(r) for r in agg.collect()]
            t2 = time.perf_counter()
        # untimed: check, per-event delivery latency, sink counters. The
        # whole row set must match: a wrong or missing row fails the events
        # the oracle puts in it, and an extra row (a null event_type that
        # got past the envelope, say) fails the items it holds.
        n_col = agg.columns.index("n_items")
        got = {r[0]: (canonical_rows(agg.columns, [r]), r[n_col]) for r in rows}
        failed = sum(n for key, (exp, n) in expected.items() if got.get(key, (None,))[0] != exp)
        failed += sum(n for key, (_, n) in got.items() if key not in expected)
        calls = read_calls(spool)
        lat = []
        for c in calls:
            ack = (c["end"] - start_wall) * 1000
            for name in c["files"]:
                lat.extend([ack] * len(read_items(spool, name)))
        counters = sink_counters(calls, WIRE_BUDGET)
        counters["files"] = len(os.listdir(spool))
        shutil.rmtree(spool)
        shutil.rmtree(spool + ".calls", ignore_errors=True)
        return {"write_s": t1 - t0, "read_s": t2 - t1, "failed": failed, "lat": lat, "sink": counters, "valid_items": sum(n for key, (_, n) in got.items() if key is not None)}

    # Warm-up: codegen, class loading and Python workers. After one round
    # trip the next was still about 15 % slower than the one after it.
    round_trip(-2)
    round_trip(-1)
    trips = []
    start_ms = _now_ms()
    t_end = time.perf_counter() + ctx.seconds
    while not trips or time.perf_counter() < t_end:
        trips.append(round_trip(len(trips) + 1))
    end_ms = _now_ms()

    n = len(trips)
    write_s = sum(t["write_s"] for t in trips)
    read_s = sum(t["read_s"] for t in trips)
    # Delivery latency of a round trip: from the start of the write until
    # the read-back's aggregates are in. The write alone (about 0.5 s, one
    # short job) swung by 0.4-0.95 s between runs; the whole trip is steadier.
    trip_ms = [(t["write_s"] + t["read_s"]) * 1000 for t in trips]
    lat = [x for t in trips for x in t["lat"]]
    out = {
        "e2e": {
            "throughput_per_s": n * n_valid / (write_s + read_s),
            "latency_p50_ms": percentile(trip_ms, 50),
            "latency_p90_ms": percentile(trip_ms, 90),
        },
        "named": {
            "ingest_events_per_s": n * n_valid / write_s,
            "replay_events_per_s": n * n_valid / read_s,
            "event_ack_p50_ms": percentile(lat, 50),
            "event_ack_p90_ms": percentile(lat, 90),
        },
        "attempted": n * n_valid,
        "failed": sum(t["failed"] for t in trips),
        "inputs": {**inputs, "round_trips": n, "events_per_record": n_valid / trips[0]["sink"]["records"]},
        "samples": {"write_s": [t["write_s"] for t in trips], "read_s": [t["read_s"] for t in trips]},
        "window_ms": (start_ms, end_ms),
    }
    if tr.enabled:
        sink = {k: sum(t["sink"][k] for t in trips) / n for k in trips[0]["sink"]}
        out["layers"] = {
            **_envelope_and_chunker(spark, df, WIRE_BUDGET),
            "envelope.valid_ratio": sum(t["valid_items"] for t in trips) / (n * inputs["events"]),
            "sink.chunker.events_per_record": n_valid / sink["records"],
            "sink.chunker.fill_ratio": sink["fill_ratio"],
            "sink.kinesis.write_s": write_s / n,
            "sink.kinesis.client_s": sink["client_s"],
            "sink.kinesis.records": sink["records"],
            "sink.kinesis.put_calls": sink["put_calls"],
            "sink.kinesis.bytes": sink["bytes"],
            "sink.kinesis.retries": sink["retries"],
            "sink.kinesis.failed_records": sink["failed_records"],
            "sources.kinesis_source.spool_items_s": read_s / n,
            "sources.kinesis_source.files": sink["files"],
        }
    return out


def _envelope_and_chunker(spark, df, budget: int) -> dict:
    """Layer probes run after the measured window: envelope_payload forced
    with a noop write, and greedy_chunks over the same payloads."""
    t0 = time.perf_counter()
    envelope_payload(df, ts_col="ts", origin=WIRE_ORIGIN).write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    payloads = [r[0] for r in envelope_payload(df, ts_col="ts", origin=WIRE_ORIGIN).collect()]
    t2 = time.perf_counter()
    list(greedy_chunks(((len(p.encode("utf-8")), p) for p in payloads), budget))
    t3 = time.perf_counter()
    return {"envelope.payload_s": t1 - t0, "sink.chunker.greedy_chunks_s": t3 - t2}


# --- stream_ingest ----------------------------------------------------------

STREAM_RATE = 2000  # events/s, open loop
SLICE_S = 0.5
# Micro-batches start on a fixed 2 s clock, aligned by Spark to multiples of
# the interval since the epoch; slices are written at a fixed phase to it
# (TRIGGER_PHASE_MS before each tick is the last slice a batch picks up), so
# every run sees the same arrival-to-trigger pattern and latency moves only
# with the pipeline's own cost.
TRIGGER_S = 2
TRIGGER_PHASE_MS = 250
STREAM_WARMUP_S = 4.0
STREAM_BUDGET = 16_384
STREAM_WATERMARK = "10 seconds"  # re-sends arrive at most 2 s after the original
# A slice written later than this may miss the micro-batch its schedule puts
# it in, so the offered load is no longer the stated one: its events count
# as failed and the run is not correct.
LATE_LIMIT_MS = TRIGGER_PHASE_MS


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000


def stream_ingest(ctx: Ctx) -> dict:
    import pyarrow.parquet as pq

    spark, tr = ctx.spark, ctx.tracer
    n_slices = int(round((STREAM_WARMUP_S + ctx.seconds) / SLICE_S))
    plan = gen.StreamPlan(ctx.seed, STREAM_RATE, SLICE_S, n_slices)
    run = os.path.join(ctx.work, "stream-traced" if tr.enabled else "stream")
    in_dir, spool, ckpt = (os.path.join(run, d) for d in ("in", "spool", "ckpt"))
    os.makedirs(in_dir)
    os.makedirs(spool)
    # an empty file with the schema, so the reader can derive it at start
    pq.write_table(plan.slice_table(0, 0).slice(0, 0), os.path.join(in_dir, "slice-schema.parquet"))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    cfg = KinesisSinkConfig("bench-stream", max_size_bytes=STREAM_BUDGET, origin="stream")
    events = read_events_stream(spark, in_dir)
    deduped = streaming_dedup(events, keys=("event_id",), watermark=STREAM_WATERMARK)
    payloads = envelope_payload(deduped, ts_col="ts", origin="stream")
    writer = kinesis_stream_writer(payloads, cfg, _factory(ctx.client, spool), checkpoint_dir=ckpt)
    q = writer.trigger(processingTime=f"{TRIGGER_S} seconds").start()

    written: list[tuple[float, int]] = []  # (epoch ms, events written so far)
    late_ms = [0.0]
    late_events = [0]  # events of slices written more than LATE_LIMIT_MS late
    tick = TRIGGER_S * 1000
    t0_ms = ((_now_ms() + 1000) // tick + 1) * tick - TRIGGER_PHASE_MS - SLICE_S * 1000

    def generate() -> None:
        total = 0
        for k in range(n_slices):
            due = t0_ms + (k + 1) * SLICE_S * 1000
            time.sleep(max(0.0, (due - _now_ms()) / 1000))
            table = plan.slice_table(k, int(t0_ms))
            tmp = os.path.join(in_dir, f".slice-{k:05d}.parquet")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(in_dir, f"slice-{k:05d}.parquet"))
            now = _now_ms()
            late_ms[0] = max(late_ms[0], now - due)
            if now - due > LATE_LIMIT_MS:
                late_events[0] += table.num_rows
            total += table.num_rows
            written.append((now, total))

    gen_thread = threading.Thread(target=generate, name="stream-generator")
    gen_thread.start()
    gen_thread.join()
    q.processAllAvailable()
    q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]

    win_lo = t0_ms + STREAM_WARMUP_S * 1000
    win_hi = t0_ms + n_slices * SLICE_S * 1000
    # output check: every distinct valid event delivered exactly once
    calls = read_calls(spool)
    delivered: Counter = Counter()
    lat = []
    last_ack_ms = win_hi
    for c in calls:
        for name in c["files"]:
            for item in read_items(spool, name):
                delivered[item["event_id"]] += 1
                if win_lo <= item["due_ms"] < win_hi:
                    lat.append(c["end"] * 1000 - item["due_ms"])
                    last_ack_ms = max(last_ack_ms, c["end"] * 1000)
    expected = plan.distinct_valid_ids
    failed = len(expected - delivered.keys()) + sum(n - 1 for n in delivered.values()) + len(delivered.keys() - expected)
    failed += late_events[0]

    batches = [p for p in progress if win_lo <= _iso_ms(p["timestamp"]) < win_hi]
    out = {
        "e2e": {
            # events due in the window, delivered per second from the
            # window's start until the last of them was acknowledged
            "throughput_per_s": len(lat) * 1000 / (last_ack_ms - win_lo),
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
        },
        "named": {
            "stream_latency_p50_ms": percentile(lat, 50),
            "stream_latency_p90_ms": percentile(lat, 90),
        },
        "attempted": len(expected),
        "failed": failed,
        "inputs": {
            **plan.props,
            "measured_events": len(lat),
            "events_per_record": sum(delivered.values()) / sum(len(c["files"]) for c in calls),
            "generator_late_ms_max": late_ms[0],
            "generator_late_limit_ms": LATE_LIMIT_MS,
            "late_slice_events": late_events[0],
        },
        "samples": {"trigger_ms": [p["durationMs"].get("triggerExecution", 0) for p in batches], "input_rows": [p["numInputRows"] for p in batches]},
        "window_ms": (win_lo, win_hi),
    }
    if tr.enabled:
        out["layers"] = _stream_layers(ctx, plan, progress, batches, written, late_ms[0], calls, delivered, in_dir)
    shutil.rmtree(run)
    return out


def _stream_layers(ctx, plan, progress, batches, written, late_ms, calls, delivered, in_dir) -> dict:
    """Per-layer metrics from the progress events, the call log and the
    generator's write log; micro-batch spans are rebuilt from progress."""
    tr = ctx.tracer
    for p in progress:
        start = (_iso_ms(p["timestamp"]) - tr.wall_epoch * 1000) / 1000
        d = p["durationMs"]
        g = f"batch-{p['batchId']}"
        parent = tr.add("streaming.micro_batch", g, start, start + d.get("triggerExecution", 0) / 1000)
        at = start
        for phase, name in (("latestOffset", "streaming.latest_offset"), ("queryPlanning", "streaming.query_planning"), ("addBatch", "sink.kinesis.add_batch"), ("walCommit", "streaming.wal_commit"), ("commitOffsets", "streaming.commit_offsets")):
            if phase in d:
                tr.add(name, g, at, at + d[phase] / 1000, parent)
                at += d[phase] / 1000

    def p50(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in batches]
        return percentile(vals, 50) if vals else 0.0

    processed = 0
    backlog = 0
    for p in progress:
        t = _iso_ms(p["timestamp"])
        if p in batches:
            sent = max((n for w, n in written if w <= t), default=0)
            backlog = max(backlog, sent - processed)
        processed += p["numInputRows"]
    state = [s for p in progress for s in p.get("stateOperators", [])]
    sink = sink_counters(calls, STREAM_BUDGET)
    envelope = _envelope_and_chunker(ctx.spark, ctx.spark.read.parquet(in_dir), STREAM_BUDGET)
    return {
        **envelope,
        "envelope.valid_ratio": len(delivered) / len(plan.cols["event_id"]),
        "sink.chunker.events_per_record": sum(delivered.values()) / sink["records"],
        "sink.chunker.fill_ratio": sink["fill_ratio"],
        "sink.kinesis.write_s": sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000,
        "sink.kinesis.client_s": sink["client_s"],
        "sink.kinesis.records": sink["records"],
        "sink.kinesis.put_calls": sink["put_calls"],
        "sink.kinesis.bytes": sink["bytes"],
        "sink.kinesis.retries": sink["retries"],
        "sink.kinesis.failed_records": sink["failed_records"],
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.input_rows_per_batch_p50": percentile([p["numInputRows"] for p in batches], 50) if batches else 0.0,
        "streaming.first_batch_ms": progress[0]["durationMs"].get("triggerExecution", 0),
        "streaming.state_rows_total": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
        "streaming.backlog_events_max": backlog,
        "streaming.generator_late_ms_max": late_ms,
    }


# --- curate_dedup -----------------------------------------------------------

# Below the sf0.1 fixture's 5,000 documents and 2,000 vectors, because the
# run's output check must fit the run-time budget: at sf0.1 the DuckDB
# oracles take about 67 s (qp06's grows with the square of the vectors).
# Here they fit beside the check pass, and a quarter to a third of a warm
# pass grows with the corpus; README.md gives the measurements.
CURATE_DOCS = 3_000
CURATE_VECS = 600
CURATE_JOBS = ("qp01_curation_report", "qp08_canonical_map", "qp06_semdedup_report", "ql14_ivf_topk")


def curate_dedup(ctx: Ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    reg = registry()
    corpus = os.path.join(ctx.work, "corpus")
    t_check = time.perf_counter()
    # The first call of a run checks the output; its check pass is also
    # the warm-up. A later call (the traced run's second and third) reuses
    # the same inputs on a warm JVM and checks nothing, so it adds no
    # attempted jobs.
    attempted = failed = 0
    if "curate" not in ctx.state:
        inputs = gen.curate_corpus(ctx.seed, CURATE_DOCS, CURATE_VECS, corpus)
        tables = {t: os.path.join(corpus, f"{t}.parquet") for t in ("documents", "embeddings")}
        # the oracles run beside the check pass, which is untimed
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(lambda: {n: canonical_rows(*_duck_rows(reg[n].oracle, tables)) for n in CURATE_JOBS})
            got = _curate_check_pass(spark, reg, corpus)
            expected = oracle.result()
        attempted = len(CURATE_JOBS)
        failed = sum(got[n] != expected[n] for n in CURATE_JOBS)
        ctx.state["curate"] = inputs
    check_s = time.perf_counter() - t_check
    inputs = ctx.state["curate"]

    passes: list[float] = []
    jobs: dict[str, list[float]] = {n: [] for n in CURATE_JOBS}
    start_ms = _now_ms()
    t_end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < t_end:
        g = f"pass-{len(passes)}"
        t0 = time.perf_counter()
        with tr.span("bench.pass", g):
            for name, wall in _curate_pass(spark, reg, corpus, tr, g).items():
                jobs[name].append(wall)
        passes.append(time.perf_counter() - t0)
    end_ms = _now_ms()

    job_ms = [s * 1000 for v in jobs.values() for s in v]
    pass_s = statistics.median(passes)
    out = {
        "e2e": {
            "throughput_per_s": CURATE_DOCS / pass_s,
            "latency_p50_ms": percentile(job_ms, 50),
            "latency_p90_ms": percentile(job_ms, 90),
        },
        "named": {"batch_pass_s": pass_s},
        "attempted": attempted,
        "failed": failed,
        "inputs": {**inputs, "passes": len(passes)},
        "samples": {"job_s": jobs, "check_pass_s": check_s},
        "window_ms": (start_ms, end_ms),
    }
    if tr.enabled:
        out["layers"] = {f"queries.{n}_s": statistics.median(v) for n, v in jobs.items()}
    return out


def _curate_pass(spark, reg, corpus: str, tr: Tracer, group: str) -> dict[str, float]:
    """One pass, each job forced with a noop write; returns job walls."""
    walls = {}
    for name in CURATE_JOBS:
        t = time.perf_counter()
        with tr.span(f"queries.{name}", group):
            reg[name].spark(spark, corpus).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t
    return walls


def _curate_check_pass(spark, reg, corpus: str) -> dict[str, list[str]]:
    """Every job's rows, collected; this pass is also the warm-up."""
    out = {}
    for name in CURATE_JOBS:
        df = reg[name].spark(spark, corpus)
        out[name] = canonical_rows(df.columns, [tuple(r) for r in df.collect()])
    return out


WORKLOADS = {"wire_roundtrip": wire_roundtrip, "stream_ingest": stream_ingest, "curate_dedup": curate_dedup}
