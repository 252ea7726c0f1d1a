"""The engine's outside world, run in its own process: instrumented fake
Kinesis and Timestream endpoints plus the load generator.

The endpoints subclass the package's fakes and add what the benchmark
needs to see from outside the engine: per-record arrival (Kinesis
``ApproximateArrivalTimestamp``), fetch (last GetRecords that returned
the record) and accept (WriteRecords stored it) stamps, call counts, and
per-call service time. Both speak HTTP/1.1 so clients keep their
connections, as against the real services.

The generator renders records from ``gen.service_log_spec`` and sends
them to Kinesis with PutRecords over one keep-alive connection. A live
run is an open loop: record ``i`` is due at ``t0 + i / rate``, carries
that instant as ``EndTime`` (or 600 s earlier when it is a late record),
and is sent as soon as it is due, however the engine is doing. How far
sends ran behind their due times is reported as generator lateness.

``World`` is the driver-side handle: it starts the process and sends it
commands over a pipe.
"""

from __future__ import annotations

import base64
import http.client
import json
import multiprocessing
import socket
import threading
import time
from collections import defaultdict

from kda_flink_app_timestream_spark.streaming.kinesis_fake import FakeKinesis
from kda_flink_app_timestream_spark.streaming.timestream_fake import FakeTimestream

import gen

PUT_BATCH = 500  # PutRecords accepts at most 500 records per call


def _keep_alive_timed(server, on_call) -> None:
    """Swap the fake's request handler for a keep-alive subclass that
    reports each call's operation and service time to ``on_call``."""
    base = server._server.RequestHandlerClass

    class Handler(base):
        protocol_version = "HTTP/1.1"
        # headers and body go out in separate writes; without this a
        # kept-alive connection stalls on Nagle + delayed ACK per call
        disable_nagle_algorithm = True

        def do_POST(self):
            t = time.perf_counter()
            super().do_POST()
            op = (self.headers.get("X-Amz-Target") or "").split(".")[-1]
            on_call(op, time.perf_counter() - t)

    server._server.RequestHandlerClass = Handler


class InstrumentedKinesis(FakeKinesis):
    def __init__(self):
        super().__init__()
        self.fetched: dict[str, float] = {}  # sequence number -> last fetch
        self.get_records_calls = 0
        self.records_returned = 0
        _keep_alive_timed(self, lambda op, dt: None)

    def _dispatch(self, op, body):
        out = super()._dispatch(op, body)
        if op == "GetRecords":
            now = time.time()
            self.get_records_calls += 1
            self.records_returned += len(out["Records"])
            for rec in out["Records"]:
                self.fetched[rec["SequenceNumber"]] = now
        return out

    def stamps(self, stream: str) -> dict[str, tuple[float, float | None]]:
        """partition key (record id) -> (arrival, last fetch)."""
        with self._lock:
            s = self.streams[stream]
            return {
                rec["PartitionKey"]: (
                    rec["ApproximateArrivalTimestamp"],
                    self.fetched.get(rec["SequenceNumber"]),
                )
                for shard in s.shards
                for rec in shard["records"]
            }


class InstrumentedTimestream(FakeTimestream):
    def __init__(self):
        super().__init__()
        self.accepted: dict[tuple[str, str], list[float]] = defaultdict(list)
        self.write_calls = 0
        self.rejected_records = 0
        self.write_call_s: list[float] = []
        _keep_alive_timed(self, self._on_call)

    def _on_call(self, op: str, dt: float) -> None:
        if op == "WriteRecords":
            with self._lock:
                self.write_call_s.append(dt)

    def _dispatch(self, op, body):
        if op != "WriteRecords":
            return super()._dispatch(op, body)
        self.write_calls += 1
        try:
            out = super()._dispatch(op, body)
        except Exception as ex:
            self.rejected_records += len(getattr(ex, "extra", {}).get("RejectedRecords", []))
            raise
        key = (body["DatabaseName"], body["TableName"])
        self.accepted[key].extend([time.time()] * len(body["Records"]))
        return out

    def landed(self, db: str, table: str) -> list[tuple[float, dict]]:
        with self._lock:
            return list(zip(self.accepted[(db, table)], self.store[(db, table)]))

    def count(self, db: str, table: str) -> int:
        with self._lock:
            return len(self.store.get((db, table), ()))


class _Producer:
    """PutRecords over one keep-alive HTTP connection."""

    def __init__(self, endpoint_url: str):
        host, port = endpoint_url.removeprefix("http://").split(":")
        self._conn = http.client.HTTPConnection(host, int(port), timeout=30)
        self._conn.connect()
        self._conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def put(self, stream: str, records: list[tuple[str, bytes]]) -> None:
        body = json.dumps(
            {
                "StreamName": stream,
                "Records": [
                    {"PartitionKey": pk, "Data": base64.b64encode(data).decode()}
                    for pk, data in records
                ],
            }
        ).encode()
        self._conn.request(
            "POST",
            "/",
            body,
            {
                "X-Amz-Target": "Kinesis_20131202.PutRecords",
                "Content-Type": "application/x-amz-json-1.1",
            },
        )
        resp = self._conn.getresponse()
        payload = resp.read()
        if resp.status != 200 or json.loads(payload).get("FailedRecordCount"):
            raise RuntimeError(f"PutRecords failed: {resp.status} {payload[:200]!r}")

    def close(self) -> None:
        self._conn.close()


def _live(producer: _Producer, stream: str, spec: dict, rate: float, t0: float,
          late_ms: int, out: dict) -> None:
    """Open-loop schedule: send every record as soon as it is due."""
    n = len(spec["account"])
    lateness: list[float] = []
    i = 0
    while i < n:
        now = time.time()
        due_n = min(n, int((now - t0) * rate) + 1, i + PUT_BATCH)
        if due_n <= i:
            time.sleep(max(0.0, t0 + i / rate - now))
            continue
        batch = []
        for j in range(i, due_n):
            due_ms = int((t0 + j / rate) * 1000)
            end_ms = due_ms - late_ms if spec["late"][j] else due_ms
            batch.append((spec["account"][j], gen.render_record(spec, j, end_ms)))
        sent = time.time()
        producer.put(stream, batch)
        lateness.extend(sent - (t0 + j / rate) for j in range(i, due_n))
        i = due_n
    out["lateness"] = lateness


def world_main(conn) -> None:
    """Process entry: serve commands from the benchmark until ``stop``."""
    with InstrumentedKinesis() as kin, InstrumentedTimestream() as ts:
        producer = _Producer(kin.endpoint_url)
        conn.send((kin.endpoint_url, ts.endpoint_url))
        live_thread = None
        live_out: dict = {}
        while True:
            cmd, *args = conn.recv()
            try:
                if cmd == "stop":
                    conn.send(None)
                    break
                if cmd == "create_stream":
                    name, shards = args
                    kin._dispatch("CreateStream", {"StreamName": name, "ShardCount": shards})
                    reply = None
                elif cmd == "create_table":
                    db, table = args
                    if db not in ts.databases:
                        ts._dispatch("CreateDatabase", {"DatabaseName": db})
                    ts._dispatch("CreateTable", {"DatabaseName": db, "TableName": table})
                    reply = None
                elif cmd == "preload":
                    # backlog: every record already in the stream, EndTime now
                    stream, spec, end_ms = args
                    n = len(spec["account"])
                    for lo in range(0, n, PUT_BATCH):
                        producer.put(
                            stream,
                            [
                                (spec["account"][j], gen.render_record(spec, j, end_ms))
                                for j in range(lo, min(n, lo + PUT_BATCH))
                            ],
                        )
                    reply = None
                elif cmd == "live_start":
                    stream, spec, rate, t0, late_ms = args
                    live_out = {}
                    live_thread = threading.Thread(
                        target=_live,
                        args=(producer, stream, spec, rate, t0, late_ms, live_out),
                        daemon=True,
                    )
                    live_thread.start()
                    reply = None
                elif cmd == "live_wait":
                    live_thread.join()
                    reply = live_out.get("lateness")
                elif cmd == "count":
                    reply = ts.count(*args)
                elif cmd == "results":
                    stream, db, table = args
                    reply = {
                        "kinesis": kin.stamps(stream),
                        "landed": ts.landed(db, table),
                    }
                elif cmd == "counters":
                    reply = {
                        "get_records_calls": kin.get_records_calls,
                        "records_returned": kin.records_returned,
                        "write_calls": ts.write_calls,
                        "rejected_records": ts.rejected_records,
                        "write_call_s": list(ts.write_call_s),
                    }
                else:
                    raise ValueError(f"unknown command {cmd!r}")
                conn.send(("ok", reply))
            except Exception as ex:  # report to the benchmark, keep serving
                conn.send(("error", f"{type(ex).__name__}: {ex}"))
        producer.close()


class World:
    """Driver-side handle on the world process."""

    def __init__(self):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=world_main, args=(child,), daemon=True)
        self._proc.start()
        self.pid = self._proc.pid
        self.kinesis_url, self.timestream_url = self._conn.recv()

    def call(self, cmd: str, *args):
        self._conn.send((cmd, *args))
        status, reply = self._conn.recv()
        if status != "ok":
            raise RuntimeError(f"world {cmd}: {reply}")
        return reply

    def close(self) -> None:
        if self._proc.is_alive():
            try:
                self._conn.send(("stop",))
                self._conn.recv()
            except (BrokenPipeError, EOFError):
                pass
        self._proc.join(timeout=10)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join()
