"""The time-series half of ``read_mix``: a fixed mix of registered
time-series queries over a seeded ``events`` table."""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from kda_flink_app_timestream_spark.plans import REGISTRY, load_all_plans
from kda_flink_app_timestream_spark.session import release_deferred
from kda_flink_app_timestream_spark.sources.batch import load_table

import gen
from common import (
    last_stage_id,
    max_task_share,
    median,
    noop,
    oracle_diff,
    shuffle_write_bytes,
    write_for_diff,
)

N_EVENTS = 30_000
MIX = (
    "timeseries_multi_rollup",
    "timeseries_ohlc",
    "timeseries_rate_of_change",
    "events_tumbling_agg",
    "batch_sessionization",
    "events_funnel_conversion",
    "stream_tumbling_events",
)
# the streaming query of the mix: a dashboard's live tile
STREAM_TILE = "stream_tumbling_events"


def prepare(run) -> str:
    gen.write_parquet(gen.events(run.seed, N_EVENTS), os.path.join(run.data, "events.parquet"))
    return run.data


def register(spark, sf_dir: str) -> None:
    load_table(spark, sf_dir, "events").schema


def check(run, sf_dir: str) -> list[str]:
    """Each query's output against its registered DuckDB oracle. The check
    is untimed, so the queries run side by side — except
    ``stream_tumbling_events``, whose result is a temp view that the next
    catalog query build drops: it is checked first, alone."""
    load_all_plans()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")

    def one(name: str) -> list[str]:
        path = run.path(name)
        columns = write_for_diff(REGISTRY[name].fn(run.spark, sf_dir), path)
        return oracle_diff(path, columns, con.cursor(), REGISTRY[name].oracle, name)

    problems = one(STREAM_TILE)
    with ThreadPoolExecutor(max_workers=len(MIX) - 1) as pool:
        for found in pool.map(one, [n for n in MIX if n != STREAM_TILE]):
            problems += found
    release_deferred()
    con.close()
    return problems


def one_pass(run, sf_dir: str) -> list[tuple[str, float]]:
    """The query mix once, each query through a noop write."""
    out = []
    for name in MIX:
        with run.tracer.span(f"ts.{name}"):
            t = time.perf_counter()
            noop(REGISTRY[name].fn(run.spark, sf_dir))
            out.append((name, time.perf_counter() - t))
    release_deferred()
    return out


def layers(run, sf_dir: str, times: dict[str, list[float]]) -> dict:
    spark = run.spark
    out = {f"ts.{name}_s": median(times[name]) for name in MIX}
    with run.py4j.paused():
        t = time.perf_counter()
        noop(load_table(spark, sf_dir, "events"))
        out["batch.scan_s"] = time.perf_counter() - t
        stage0, shuffle0 = last_stage_id(spark) + 1, shuffle_write_bytes(spark)
        one_pass(run, sf_dir)
        out["ts.shuffle_write_bytes"] = shuffle_write_bytes(spark) - shuffle0
        out["ts.max_task_share"] = max_task_share(spark, stage0)
    return out
