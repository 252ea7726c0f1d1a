"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each is there):

- ``ingest``         the paper's streaming job from a 4-shard fake Kinesis
                     to a fake Timestream: an open-loop window at a fixed
                     rate (per-record latency from due time), then drains
                     of streams that already hold their records
                     (records per second).
- ``read_mix``       one closed-loop client over the read side: seven
                     registered time-series queries on a seeded
                     ``events`` table, ``curate_corpus`` on a seeded
                     corpus, and an IVF-PQ + MMR retrieval batch.

Run from the repository root. Inputs come from ``--seed``; outputs are
checked against reference computations outside the timed regions. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Everything the run writes,
including the engine's stderr, goes under ``perfbench/out/``. The exit
code is nonzero when a check fails or the run errors.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from multiprocessing import resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "read_mix")


def _pin_environment(out: str) -> None:
    """Everything the engine, its workers and boto3 read or write stays
    inside the checkout; workers import the package from the root."""
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(paths),
            "TMPDIR": os.path.join(out, "tmp"),
            "AWS_ACCESS_KEY_ID": "perfbench",
            "AWS_SECRET_ACCESS_KEY": "perfbench",
            "AWS_DEFAULT_REGION": "us-east-1",
            "AWS_CONFIG_FILE": os.path.join(out, "aws-config"),
            "AWS_SHARED_CREDENTIALS_FILE": os.path.join(out, "aws-credentials"),
            "AWS_EC2_METADATA_DISABLED": "true",
            # the same hash layout in every run's workers and endpoints
            "PYTHONHASHSEED": "0",
            "SPARK_LOCAL_DIRS": os.path.join(out, "spark-local"),
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)


def _become_subreaper() -> None:
    """Orphaned descendants (Python workers whose JVM has exited) are
    re-parented to this process instead of init, so ``_end_processes``
    can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _child_pids() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def _end_processes(grace_s: float = 20.0) -> None:
    """End every process the run started and wait until each has ended:
    the JVM (it exits when its stdin closes), multiprocessing's resource
    tracker, and any other child or orphaned descendant. Whatever is left
    after ``grace_s`` is killed."""
    sc = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gateway = getattr(sc, "_gateway", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while kids := _child_pids():
        for pid in kids:
            try:
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


def _metric_specs() -> tuple[list[str], dict[str, str]]:
    """(per-layer metric names, unit of every metric) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer"]], {
        m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _become_subreaper()
    # a terminated run still tears down what it started, in ``finally``
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    out = os.path.join(HERE, "out", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    _pin_environment(out)
    layer_names, units = _metric_specs()

    # the engine's (JVM and worker) stderr goes to the run's artifact
    stderr_path = os.path.join(out, "stderr.log")
    real_stderr = os.dup(2)
    log = os.open(stderr_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log, 2)
    sys.stderr = os.fdopen(2, "w", buffering=1, closefd=False)

    run = world = report = None
    try:
        from common import CORES, RssSampler, Run, median
        from world import World

        import ingest
        import readmix

        cores = readmix.CORES if args.workload == "read_mix" else CORES
        run = Run(out, args.workload, args.seed, args.seconds, bool(args.trace), cores)
        if args.workload == "ingest":
            world = World()
            register = ingest.register
            body = lambda: ingest.workload(run, world, register)  # noqa: E731
        else:
            data = readmix.prepare(run)
            register = lambda spark: readmix.register(spark, data)  # noqa: E731
            body = lambda: readmix.workload(run, data)  # noqa: E731

        rss = RssSampler(exclude={world.pid} if world else set()).start()
        run.log("inputs ready")
        launch_s, setup_times = run.setup(register)
        run.log("set up")
        run.mark_session()
        result = body()
        run.log("workload done")
        peak_rss_mb = rss.stop()
        if args.trace:
            layers = {name: 0.0 for name in layer_names}
            layers.update(run.session_layers())
            layers.update(result["layers"])
            layers["session.launch_s"] = launch_s
            unknown = set(layers) - set(layer_names)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            metrics = layers
            run.tracer.dump(os.path.join(out, "spans.json"))
        else:
            metrics = dict(result["metrics"])
            metrics["setup_s"] = median(setup_times)
            metrics["peak_rss_mb"] = peak_rss_mb
        report = {
            "correct": result["failed"] == 0,
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        with open(os.path.join(out, "result.json"), "w") as f:
            json.dump({**report, "problems": result["problems"],
                       "setup_times": setup_times, "all": result.get("layers", {})}, f, indent=1)
        for p in result["problems"]:
            print(f"check failed: {p}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        print(f"perfbench: {args.workload} failed; see {stderr_path}", file=sys.__stderr__)
        with open(stderr_path) as f:
            sys.__stderr__.write("".join(f.readlines()[-30:]))
        return 1
    finally:
        if run is not None and run.spark is not None:
            try:
                run.spark.stop()
            except Exception:
                traceback.print_exc()
        if world is not None:
            world.close()
        _end_processes()
        # keep the artifacts, drop the inputs and scratch files
        for entry in os.listdir(out):
            if entry not in ("stderr.log", "result.json", "spans.json"):
                shutil.rmtree(os.path.join(out, entry), ignore_errors=True)
    os.dup2(real_stderr, 2)
    if not report["correct"]:
        for p in result["problems"][:10]:
            print(f"perfbench: check failed: {p}", file=sys.__stderr__)
    print(json.dumps(report))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
