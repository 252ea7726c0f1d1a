"""What every workload shares: the pinned session, set-up timing, the
RSS sampler of the system under test, the DuckDB oracle comparison, and
the tracer with its py4j / Spark job / shuffle counters."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import sys
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kda_flink_app_timestream_spark.session import build_spark

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


class Run:
    """One benchmark run: its directories, tracer and session."""

    def __init__(self, out: str, workload: str, seed: int, seconds: int, trace: bool,
                 cores: int = CORES):
        self.out = out
        self.cores = cores
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer(trace, f"{workload}-{seed}")
        self.spark: SparkSession | None = None
        self.py4j = None
        self.data = os.path.join(out, "data")
        os.makedirs(self.data, exist_ok=True)
        self._ids = itertools.count()
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """A progress line with the run's elapsed time, to the run's stderr."""
        print(f"[perfbench {time.perf_counter() - self._t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        """A fresh path under the run directory."""
        return os.path.join(self.out, f"{name}-{next(self._ids)}")

    def build(self, master: str | None = None) -> SparkSession:
        """Stop any current session and build the pinned one."""
        if self.spark is not None:
            self.spark.stop()
        self.spark = build_spark(
            app_name="perfbench",
            master=master or f"local[{self.cores}]",
            **{
                "spark.driver.memory": DRIVER_MEM,
                "spark.sql.shuffle.partitions": str(self.cores),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.local.dir": os.path.join(self.out, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.out, "warehouse"),
                # a heap sized up front: no run-to-run drift from heap growth
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.out}/tmp",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        if self.py4j is None:
            self.py4j = Py4jCounter(self.spark)
        return self.spark

    def mark_session(self) -> None:
        """Start of the workload's session counters."""
        with self.py4j.paused():
            self._session0 = (self.py4j.count, spark_jobs(self.spark), shuffle_write_bytes(self.spark))

    def session_layers(self) -> dict:
        """py4j round trips, Spark jobs and shuffle bytes since ``mark_session``."""
        py4j0, jobs0, shuffle0 = self._session0
        with self.py4j.paused():
            return {
                "session.py4j_calls": self.py4j.count - py4j0,
                "session.spark_jobs": spark_jobs(self.spark) - jobs0,
                "session.shuffle_write_bytes": shuffle_write_bytes(self.spark) - shuffle0,
            }

    def setup(self, register, repeats: int = 3) -> tuple[float, list[float]]:
        """Launch the JVM and SparkContext, then time ``repeats`` session
        set-ups on it: a new SparkSession, ``register(spark)`` (data-source
        and input registration) and a small warm-up job. The workload runs
        on the last one. Returns (launch_s, set-up times)."""
        t = time.perf_counter()
        self.build()
        launch = time.perf_counter() - t
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            self.spark = self.spark.newSession()
            register(self.spark)
            self.spark.range(1000).selectExpr("sum(id)").collect()
            times.append(time.perf_counter() - t)
        return launch, times


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# --- system-under-test memory ------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    between the processes that map it, so forked workers (and a JVM child
    caught between fork and exec) are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the system under test — the driver JVM and
    the Python workers, i.e. every process below this one except the
    excluded (outside-world) process: the largest sampled sum of their
    proportional set sizes."""

    def __init__(self, exclude: set[int], interval: float = 0.25):
        self._exclude = set(exclude)
        self._interval = interval
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        todo = [p for p in kids.get(os.getpid(), []) if p not in self._exclude]
        total = 0
        while todo:
            pid = todo.pop()
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak RSS in MB."""
        self._stop.set()
        self._thread.join()
        return self._peak_kb / 1024.0


# --- oracle comparison -------------------------------------------------


def write_for_diff(df: DataFrame, path: str) -> list[str]:
    """Write a query's output as parquet for ``oracle_diff`` (timestamps
    as epoch microseconds); returns its column names."""
    ts_cols = {f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)}
    df.select(
        *[F.unix_micros(c).alias(c) if c in ts_cols else F.col(c) for c in df.columns]
    ).write.mode("overwrite").parquet(path)
    return df.columns


def oracle_diff(path: str, columns: list[str], con, oracle_sql: str, name: str) -> list[str]:
    """Compare a query's output, written by ``write_for_diff``, with its
    DuckDB oracle the way ``tests/oracle_utils.py:compare_query`` does —
    same column names, and equal rows as a multiset with doubles rounded
    to 9 places — without collecting the rows into Python: DuckDB takes
    the multiset difference."""
    spark_view = f"read_parquet('{path}/*.parquet')"
    o_types = dict(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM ({oracle_sql})").fetchall()
    )
    if sorted(o_types) != sorted(columns):
        return [f"{name}: columns spark={sorted(columns)} oracle={sorted(o_types)}"]

    def canon(col: str, oracle: bool) -> str:
        t = o_types[col]
        if t in ("DOUBLE", "FLOAT") or t.startswith("DECIMAL"):
            return f'round(CAST("{col}" AS DOUBLE), 9) AS "{col}"'
        if oracle and t.startswith("TIMESTAMP"):
            return f'epoch_us("{col}") AS "{col}"'
        return f'"{col}"'

    cols = sorted(o_types)
    a = f"SELECT {', '.join(canon(c, False) for c in cols)} FROM {spark_view}"
    b = f"SELECT {', '.join(canon(c, True) for c in cols)} FROM ({oracle_sql})"
    n_a = con.execute(f"SELECT count(*) FROM {spark_view}").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM ({oracle_sql})").fetchone()[0]
    if n_a != n_b:
        return [f"{name}: rows spark={n_a} oracle={n_b}"]
    n_diff = con.execute(
        f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b})) d"
    ).fetchone()[0]
    return [f"{name}: {n_diff} of {n_a} rows differ from the oracle"] if n_diff else []


# --- tracing -----------------------------------------------------------


class Py4jCounter:
    """Counts driver→JVM py4j round trips by wrapping the gateway
    client's ``send_command``. Calls the benchmark makes for its own
    bookkeeping run inside ``paused()`` and are not counted."""

    def __init__(self, spark: SparkSession):
        self.count = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if not getattr(self._local, "paused", False):
                with self._lock:
                    self.count += 1
            return send(*args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def paused(self):
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = False


def spark_jobs(spark: SparkSession) -> int:
    """Jobs submitted so far in this SparkContext."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def shuffle_write_bytes(spark: SparkSession) -> int:
    """Shuffle bytes written so far by the (local) executor."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def max_task_share(spark: SparkSession, first_stage: int) -> float:
    """Largest share of one stage's shuffle-read records taken by a
    single task, over multi-task stages with id >= ``first_stage`` (skew)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
    worst = 0.0
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() < first_stage or s.shuffleReadRecords() <= 0 or s.numTasks() < 2:
            continue
        tasks = store.taskList(s.stageId(), s.attemptId(), 1 << 30)
        reads = []
        for j in range(tasks.size()):
            m = tasks.apply(j).taskMetrics()
            if m.isDefined():
                reads.append(m.get().shuffleReadMetrics().recordsRead())
        if sum(reads) > 0:
            worst = max(worst, max(reads) / sum(reads))
    return worst


def last_stage_id(spark: SparkSession) -> int:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._gateway.jvm.double, 0), None)
    return max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)


class Tracer:
    """Spans around calls into the engine's layers, kept in memory and
    written once at the end. A span is (id, parent, name, start, end,
    attrs); spans of one run share ``run_id``. Disabled, ``span`` and
    ``wrap`` cost one attribute test."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "name": name, "start": start,
                     "end": end, "run": self.run_id, **attrs}
                )

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called ``name``, from span ``since`` on."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def self_times(self, name: str, since: int = 0) -> list[float]:
        """Duration minus the time covered by direct child spans."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            s["end"] - s["start"] - child.get(s["id"], 0.0)
            for s in self.spans[since:]
            if s["name"] == name
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
