"""``read_mix``: one closed-loop client issuing the read side's requests
in turn — a refresh of a dashboard's six batch tiles and of its live
tile (together the seven time-series queries of ``rollups.MIX``), a
``curate_corpus`` job and a retrieval batch (IVF-PQ + MMR) — each query
through a noop write, on seeded inputs."""

from __future__ import annotations

import common
import curate
import rollups
from common import median, pct


# One core fewer than the ingest engine: on a 4-core box a warm pass took
# 13 s on local[3] and 16 s on local[4], whose tasks crowd out the
# driver's own Python and JVM threads that this client keeps busy.
CORES = max(1, common.CORES - 1)


def prepare(run) -> tuple[str, object]:
    """Inputs, and the curation oracle computed from them."""
    rollups.prepare(run)
    d = curate.prepare(run)
    return d, curate.oracle(d)


def register(spark, data) -> None:
    d, _ = data
    rollups.register(spark, d)
    curate.register(spark, d)


def workload(run, data) -> dict:
    d, oracle = data
    # the check passes double as the warm-up: a first pass in a session
    # costs about twice a warm one
    problems = rollups.check(run, d)
    run.log("time-series queries checked")
    curate_problems, recall = curate.check(run, d, oracle)
    problems += curate_problems
    run.log("curation and retrieval checked")

    traced = run.tracer.enabled
    passes: list[tuple[bool, list[tuple[str, float]]]] = []
    while sum(t for _, p in passes for _, t in p) < run.seconds or (traced and len(passes) < 2):
        # a traced run alternates untraced and traced passes
        run.tracer.enabled = traced and len(passes) % 2 == 1
        passes.append((run.tracer.enabled, rollups.one_pass(run, d) + curate.one_pass(run, d)))
        run.log(f"pass {len(passes)}: " + ", ".join(f"{n} {t:.2f}" for n, t in passes[-1][1]))
    run.tracer.enabled = traced

    times: dict[str, list[float]] = {}
    for _, p in passes:
        for name, t in p:
            times.setdefault(name, []).append(t)
    # the client's four requests a pass, each about 4 s on a 4-core box: a
    # refresh of the six batch rollup tiles, the streaming tile, a
    # curation job and a retrieval batch. They are of similar size so that
    # no single half-second query decides the median
    tiles = [n for n in rollups.MIX if n != rollups.STREAM_TILE]
    requests = [sum(t for name, t in p if name in tiles) for _, p in passes]
    for name in (rollups.STREAM_TILE, "curate_corpus", "retrieve"):
        requests += times[name]
    metrics = {
        "latency_p50_ms": median(requests) * 1000,
        "latency_p99_ms": pct(requests, 0.99) * 1000,
        "items_per_s": len(requests) / sum(requests),
    }
    layers = {}
    if traced:
        on = [sum(t for _, t in p) for tr, p in passes if tr]
        off = [sum(t for _, t in p) for tr, p in passes if not tr]
        layers = {"trace.overhead_share": median(on) / median(off) - 1}
        layers.update(rollups.layers(run, d, times))
        layers.update(curate.layers(run, d, times, recall))
    return {"attempted": (1 + len(passes)) * len(passes[0][1]), "failed": len(problems),
            "problems": problems, "metrics": metrics, "layers": layers}
