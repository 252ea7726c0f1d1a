"""``ingest``: the paper's job — Kinesis → gunzip → parse → watermark →
late split → batched Timestream writes — against the instrumented
endpoints of ``world.py``."""

from __future__ import annotations

import math
import re
import sys
import time

from pyspark.sql import functions as F

from kda_flink_app_timestream_spark.functions.parse import parse_service_logs
from kda_flink_app_timestream_spark.streaming.kinesis_pysource import AT_TS, KinesisPythonDataSource
from kda_flink_app_timestream_spark.streaming.late import LateDataSplitter
from kda_flink_app_timestream_spark.streaming.sink import (
    BatchingForeachWriter,
    timestream_backend_factory,
)
from kda_flink_app_timestream_spark.streaming.source import decode_payload

import gen
from common import median, noop, pct, spark_jobs

SHARDS = 4
DB = "perfbench"
REGION = "us-east-1"
LIVE_RATE = 250  # records/s offered
# The live query runs on a fixed trigger. With back-to-back triggers the
# reader's whole-second boundaries made the cycle 2 s or 3 s depending on
# whether one batch ended before a boundary, and either cycle sustained
# itself, so runs landed in two latency modes. Triggers every 4 s, at
# whole seconds, fit the slowest batch seen (boundary wait 1 s + 2.3 s).
LIVE_TRIGGER_S = 4
LATE_SHARE = 0.05
LATE_MS = 600_000  # the reference generator's --late-time
BACKLOG_N = 6_000
PRIME_N = 500  # in the live stream before its query starts
BACKLOG_REPS = 3
LANDING_TIMEOUT_S = 60


def register(spark) -> None:
    spark.dataSource.register(KinesisPythonDataSource)


def _source(spark, world, stream: str):
    return (
        spark.readStream.format("kinesis_py")
        .option("streamName", stream)
        .option("endpointUrl", world.kinesis_url)
        .option("region", REGION)
        .option("reader", "partitioned")
        .option("initialPosition", "TRIM_HORIZON")
        .load()
    )


def points(raw):
    """The engine chain from raw Kinesis rows to watermarked points."""
    decoded = raw.select(decode_payload(F.col("data"), "gzip").alias("value"))
    return parse_service_logs(decoded).withWatermark("time", "5 seconds")


class Ingest:
    """One running ingest query plus what its sinks saw."""

    def __init__(self, run, world, stream: str, table: str, trigger_s: int | None = None):
        self.run, self.world, self.table = run, world, table
        self.late_ids: list[str] = []
        self.epoch_jobs: list[int] = []
        tracer = run.tracer

        def late_sink(df, epoch_id):
            self.late_ids.extend(r[0] for r in df.select("aws_account_id").collect())

        on_time = BatchingForeachWriter(
            timestream_backend_factory(REGION, DB, table, endpoint_url=world.timestream_url)
        )
        splitter = LateDataSplitter(
            tracer.wrap("sink.batch", on_time), tracer.wrap("late.sink", late_sink), "time"
        )

        def for_each_batch(df, epoch_id):
            if not tracer.enabled:
                return splitter(df, epoch_id)
            with run.py4j.paused():
                jobs = spark_jobs(run.spark)
            with tracer.span("late.split", epoch=epoch_id):
                splitter(df, epoch_id)
            with run.py4j.paused():
                self.epoch_jobs.append(spark_jobs(run.spark) - jobs)

        writer = points(_source(run.spark, world, stream)).writeStream.foreachBatch(for_each_batch)
        if trigger_s:
            writer = writer.trigger(processingTime=f"{trigger_s} seconds")
        self.t_start = time.time()
        self.query = writer.option("checkpointLocation", run.path("ckpt")).start()
        splitter.attach(self.query)

    def _raise_if_failed(self) -> None:
        with self.run.py4j.paused():
            ex = self.query.exception()
        if ex is not None:
            raise RuntimeError(f"ingest query failed: {ex}")

    def wait_landed(self, n: int) -> None:
        """Until ``n`` records reached one of the two sinks and the batches
        that read them completed, so none is in flight when checks run."""
        deadline = time.time() + LANDING_TIMEOUT_S
        while time.time() < deadline:  # past it, the checks report what is missing
            if self.world.call("count", DB, self.table) + len(self.late_ids) >= n:
                with self.run.py4j.paused():
                    done = sum(p["numInputRows"] for p in self.query.recentProgress)
                if done >= n:
                    return
            self._raise_if_failed()
            time.sleep(0.02)

    def progress(self) -> list[dict]:
        with self.run.py4j.paused():
            return list(self.query.recentProgress)

    def stop(self) -> None:
        """Stop after the checks: an error raised while stopping (the
        known StackOverflowError) goes to the run's stderr log and cannot
        hide a record, because every record was already accounted for."""
        try:
            with self.run.py4j.paused():
                self.query.stop()
        except Exception as ex:  # logged, run continues
            print(f"query.stop() raised {type(ex).__name__}: {ex}", file=sys.stderr)


def check(spec: dict, end_ms_of, landed: list, late_ids: list[str]) -> tuple[int, list[str]]:
    """Every record lands exactly once, in the sink its lateness picks,
    with the generator's (time, measure value, dimensions). Returns
    (failed records, problem descriptions)."""
    index = {a: i for i, a in enumerate(spec["account"])}
    seen = [0] * len(index)
    bad: set[int] = set()
    problems: list[str] = []
    for _, rec in landed:
        dims = tuple(sorted((d["Name"], d["Value"]) for d in rec["Dimensions"]))
        i = index.get(dict(dims).get("awsaccountid"))
        if i is None:
            problems.append(f"unknown record landed: {dims}")
            continue
        seen[i] += 1
        got = (int(rec["Time"]), rec["MeasureValue"], dims)
        if got != gen.expected_point(spec, i, end_ms_of(i)) or spec["late"][i]:
            bad.add(i)
    for a in late_ids:
        i = index.get(a)
        if i is None:
            problems.append(f"unknown late record: {a}")
            continue
        seen[i] += 1
        if not spec["late"][i]:
            bad.add(i)
    unknown = len(problems)
    bad |= {i for i, c in enumerate(seen) if c != 1}
    if bad:
        lost = sum(1 for c in seen if c == 0)
        dup = sum(1 for c in seen if c > 1)
        problems.append(
            f"{len(bad)} bad records: {lost} lost, {dup} duplicated, "
            f"{len(bad) - lost - dup} wrong content or sink"
        )
    return len(bad) + unknown, problems


def _stamp_layers(run, ingest: Ingest, results: dict, counted: set[str], due_of,
                  since: int) -> dict:
    """Per-record endpoint stamps and spans of the traced live window:
    latency split into queue wait (arrival -> fetch) and processing
    (fetch -> accept); the rest (due -> arrival) is left unexplained."""
    tr = run.tracer
    kin = results["kinesis"]
    queue, process, unexplained = [], [], []
    for accept, rec in results["landed"]:
        a = next(d["Value"] for d in rec["Dimensions"] if d["Name"] == "awsaccountid")
        if a not in counted:
            continue
        arrival, fetch = kin[a]
        queue.append((fetch - arrival) * 1000)
        process.append((accept - fetch) * 1000)
        unexplained.append((arrival - due_of(a)) * 1000)
    dur = [p.get("durationMs", {}) for p in ingest.progress()]
    busy = [p["numInputRows"] for p in ingest.progress() if p.get("numInputRows")]
    return {
        "kinesis_pysource.queue_wait_ms.p50": median(queue),
        "pipeline.process_ms.p50": median(process),
        "pipeline.unexplained_ms.p50": median(unexplained),
        "late.split_ms": median(tr.self_times("late.split", since)) * 1000,
        "sink.batch_ms": median(tr.durations("sink.batch", since)) * 1000,
        "late.spark_jobs_per_epoch": median(ingest.epoch_jobs),
        "late.on_time_rows": len(results["landed"]),
        "late.late_rows": len(ingest.late_ids),
        "pipeline.trigger_ms": median([d.get("triggerExecution", 0) for d in dur]),
        "pipeline.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "kinesis_pysource.latest_offset_ms": median([d.get("latestOffset", 0) for d in dur]),
        "pipeline.batches": len(busy),
        "pipeline.rows_per_batch": median(busy),
    }


def _counter_layers(counters0: dict, counters: dict, landed: int) -> dict:
    """Endpoint call counts between two snapshots."""
    calls = counters["get_records_calls"] - counters0["get_records_calls"]
    returned = counters["records_returned"] - counters0["records_returned"]
    writes = counters["write_calls"] - counters0["write_calls"]
    call_s = counters["write_call_s"][len(counters0["write_call_s"]):]
    return {
        "kinesis_pysource.get_records_calls": calls,
        "kinesis_pysource.records_per_call": returned / calls if calls else 0.0,
        "sink.write_calls": writes,
        "sink.records_per_write_call": landed / writes if writes else 0.0,
        "sink.write_call_ms.p50": median(call_s) * 1000,
        "sink.rejected_records": counters["rejected_records"] - counters0["rejected_records"],
    }


def _live(run, world) -> dict:
    """Open-loop window: records due at a fixed rate, latency from due
    time to Timestream accept. A priming batch already in the stream
    takes the engine's cold start before the schedule begins."""
    n = PRIME_N + LIVE_RATE * run.seconds
    spec = gen.service_log_spec(run.seed, n, LATE_SHARE, late_after=PRIME_N)
    world.call("create_stream", "live", SHARDS)
    world.call("create_table", DB, "live")
    # stamped now, so the late split's watermark is current after priming
    prime_ms = int(time.time() * 1000)
    world.call("preload", "live", {k: v[:PRIME_N] for k, v in spec.items()}, prime_ms)
    ingest = Ingest(run, world, "live", "live", trigger_s=LIVE_TRIGGER_S)
    ingest.wait_landed(PRIME_N)
    # triggers fire at multiples of LIVE_TRIGGER_S since the epoch; the
    # schedule ends 0.9 s before one, so the counted window covers whole
    # trigger cycles and its last records are read without a further wait
    end_phase = (-run.seconds - 0.9) % LIVE_TRIGGER_S
    t0 = math.ceil((time.time() + 0.5 - end_phase) / LIVE_TRIGGER_S) * LIVE_TRIGGER_S + end_phase
    world.call("live_start", "live", {k: v[PRIME_N:] for k, v in spec.items()},
               float(LIVE_RATE), t0, LATE_MS)
    time.sleep(max(0.0, t0 - time.time()))
    first_span = len(run.tracer.spans)  # the window's spans, not priming's
    lateness = world.call("live_wait")
    ingest.wait_landed(n)
    results = world.call("results", "live", DB, "live")

    def due(i: int) -> float:
        return t0 + (i - PRIME_N) / LIVE_RATE

    def end_ms(i: int) -> int:
        if i < PRIME_N:
            return prime_ms
        return int(due(i) * 1000) - (LATE_MS if spec["late"][i] else 0)

    failed, problems = check(spec, end_ms, results["landed"], ingest.late_ids)
    index = {a: i for i, a in enumerate(spec["account"])}
    lat = {}
    for accept, rec in results["landed"]:
        a = next(d["Value"] for d in rec["Dimensions"] if d["Name"] == "awsaccountid")
        i = index.get(a)
        if i is not None and i >= PRIME_N:
            lat[a] = (accept - due(i)) * 1000
    layers = {
        "pipeline.latency_samples": len(lat),
        "generator.lateness_max_ms": max(lateness) * 1000,
        "generator.lateness_p99_ms": pct(lateness, 0.99) * 1000,
    }
    if run.tracer.enabled:
        layers.update(
            _stamp_layers(run, ingest, results, set(lat), lambda a: due(index[a]), first_span)
        )
    for p in ingest.progress():
        if p.get("numInputRows"):
            run.log(f"live batch {p['batchId']}: {p['numInputRows']} rows, {p['durationMs']}")
    ingest.stop()
    run.log(f"live window: {len(lat)} counted records, generator lateness "
            f"p99 {layers['generator.lateness_p99_ms']:.1f} ms")
    return {"n": n, "failed": failed, "problems": problems,
            "latencies": list(lat.values()), "layers": layers}


def _backlog_rep(run, world, name: str, n: int, seed: int) -> dict:
    """Drain a stream that already holds ``n`` records, in one batch; time
    from the batch's arrival-time boundary (the instant the reader froze
    the batch) to the last record accepted by Timestream. Query start-up
    and the wait for that whole-second boundary come before; they are
    per-trigger costs, which the live window measures, and quantized to
    whole seconds they would swamp a per-record throughput."""
    spec = gen.service_log_spec(seed, n)
    end_ms = 1_700_000_000_000 + seed % 1_000_000
    world.call("create_stream", name, SHARDS)
    world.call("create_table", DB, name)
    world.call("preload", name, spec, end_ms)
    counters0 = world.call("counters")
    ingest = Ingest(run, world, name, name)
    ingest.wait_landed(n)
    results = world.call("results", name, DB, name)
    failed, problems = check(spec, lambda i: end_ms, results["landed"], ingest.late_ids)
    layers = _counter_layers(counters0, world.call("counters"), len(results["landed"]))
    ingest.stop()
    accepts = [acc for acc, _ in results["landed"]]
    first = next(p for p in ingest.progress() if p.get("numInputRows"))
    # the batch's end offsets are "<AT_TS>:<epoch second>" per shard
    boundary = max(
        float(sec)
        for src in first["sources"]
        for sec in re.findall(re.escape(AT_TS) + r"(\d+)", str(src["endOffset"]))
    )
    drain = max(accepts) - boundary
    layers["pipeline.first_boundary_s"] = boundary - ingest.t_start
    run.log(f"backlog {name}: {n} records in {drain:.2f} s after the boundary, "
            f"{boundary - ingest.t_start:.2f} s after start; first batch {first['durationMs']}")
    return {"n": n, "failed": failed, "problems": problems, "rate": n / drain, "layers": layers}


def staged_layers(run, world, stream: str) -> dict:
    """Time each ingest layer's function on the cached output of the
    previous one: snapshot read, gunzip decode, parse."""
    spark = run.spark
    raw = (
        spark.read.format("kinesis_py")
        .option("streamName", stream)
        .option("endpointUrl", world.kinesis_url)
        .option("region", REGION)
        .load()
    )
    out = {}
    t = time.perf_counter()
    noop(raw)
    out["kinesis_pysource.read_s"] = time.perf_counter() - t
    raw = raw.cache()
    raw.count()
    decoded = raw.select(decode_payload(F.col("data"), "gzip").alias("value"))
    t = time.perf_counter()
    noop(decoded)
    out["source.decode_s"] = time.perf_counter() - t
    decoded = decoded.cache()
    out["parse.rows_in"] = decoded.count()
    parsed = parse_service_logs(decoded)
    t = time.perf_counter()
    noop(parsed)
    out["parse.parse_s"] = time.perf_counter() - t
    out["parse.rows_out"] = parsed.filter(F.col("time").isNotNull()).count()
    raw.unpersist()
    decoded.unpersist()
    return out


def workload(run, world, register_setup) -> dict:
    """The live window, then ``BACKLOG_REPS`` backlog drains on the warm
    engine. A traced run traces the last drain and adds the staged layer
    pass and a single-thread (local[1]) drain."""
    live = _live(run, world)
    traced = run.tracer.enabled
    reps = []
    for r in range(BACKLOG_REPS):
        run.tracer.enabled = traced and r == BACKLOG_REPS - 1
        reps.append(_backlog_rep(run, world, f"backlog{r}", BACKLOG_N, run.seed * 1000 + r))
    run.tracer.enabled = traced
    parts = [live, *reps]
    metrics = {
        "latency_p50_ms": median(live["latencies"]),
        "latency_p99_ms": pct(live["latencies"], 0.99),
        "items_per_s": median([rep["rate"] for rep in reps]),
    }
    layers = dict(live["layers"])
    if traced:
        layers.update(reps[-1]["layers"])
        layers["trace.overhead_share"] = median([rep["rate"] for rep in reps[:-1]]) / reps[-1]["rate"] - 1
        layers.update(staged_layers(run, world, "backlog0"))
        layers.update(run.session_layers())
        run.build(master="local[1]")
        register_setup(run.spark)
        base = _backlog_rep(run, world, "local1", BACKLOG_N, run.seed * 1000 + 77)
        parts.append(base)
        layers["baseline.local1_records_per_s"] = base["rate"]
    return {
        "attempted": sum(p["n"] for p in parts),
        "failed": sum(p["failed"] for p in parts),
        "problems": [x for p in parts for x in p["problems"]],
        "metrics": metrics,
        "layers": layers,
    }
