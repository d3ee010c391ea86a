#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pim_delta --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts Spark on local[nproc] (or
``SPARK_GRAFT_CPUS`` when set), lands the seeded inputs, sets up
``SETUP_REPEATS`` times, warms up, then runs operations in a closed
loop for ``--seconds``. The last stdout line is
one JSON object: ``correct``, ``attempted`` and ``failed`` operations
(the warm-up included) and ``metrics`` named as in BENCHMARK.json —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a record with the run's
provenance, input sizes and per-workload details. Both modes write that
record under ``.perfbench_out/``; the traced run adds its spans there
and reports its overhead against an untraced record of the same
workload and seed when one exists. Exits 1 when an output is wrong,
2 when the run cannot start or set up.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke tests' input sizes")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tmp: str) -> None:
    """Confine every temporary file to ``tmp`` and let Spark's Python
    workers import the engine."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    here = os.path.dirname(os.path.abspath(__file__))
    # perfbench/ itself must not be on the path: its module names would
    # shadow others
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") not in (here, ROOT)]


def start_session(tmp: str, traced: bool, workload_conf: dict):
    from pim_etl_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        **workload_conf,
    }
    if traced:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        cur = todo.pop()
        out += kids[cur]
        todo += kids[cur]
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and everything it
    started: the driver JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue  # exited meanwhile
    return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host so far, in clock ticks."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {[p for p in started if _alive(p)]}")
        time.sleep(0.1)


def provenance(args, spark) -> dict:
    import pyspark

    def git(*cmd):
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, *cmd], capture_output=True, text=True, timeout=30
            )
        except FileNotFoundError:
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    in_git = git("rev-parse", "--show-toplevel") == ROOT
    digest = hashlib.sha256()
    for pkg in ("pim_etl_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, pkg))):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    digest.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        digest.update(fh.read())
    return {
        "git_sha": git("rev-parse", "HEAD") if in_git else None,
        "git_dirty": bool(git("status", "--porcelain")) if in_git else None,
        "source_sha256": digest.hexdigest(),
        "nproc": nproc(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_graft_driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def metric_specs() -> dict[str, list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args, tmp: str) -> int:
    prepare_env(tmp)
    from perfbench import tracing
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    specs = metric_specs()
    tracer = tracing.Tracer(args.trace == 1)
    spark = None
    attempted = failed = 0
    times: list[float] = []
    parts: dict[str, list[float]] = defaultdict(list)
    steal0, total0 = cpu_jiffies()
    try:
        with tracer.span("run"):
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = start_session(tmp, args.trace == 1, workload.session_conf)
            session_s = time.perf_counter() - t0
            tracer.attach(spark.sparkContext)
            if args.trace:
                tracing.instrument(tracer)
            size = SIZES[args.workload][args.size == "tiny"]
            wl = workload(spark, tmp, args.seed, tracer, size)
            setup_times = []
            for i in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                with tracer.span("setup"):
                    wl.setup(i)
                setup_times.append(time.perf_counter() - t0)
            with tracer.span("warmup"):
                errors = wl.warmup()
            attempted += 1
            failed += bool(errors)
            for e in errors:
                print(f"perfbench: WRONG warm-up: {e}", file=sys.stderr)

            deadline = time.perf_counter() + args.seconds
            measured = 0
            while measured == 0 or time.perf_counter() < deadline or not wl.pass_done():
                measured += 1
                attempted += 1
                p = wl.prepare()
                t0 = time.perf_counter()
                try:
                    with tracer.span("op") as rec:
                        out = wl.op(p)
                except Exception:  # counted and logged; the loop goes on
                    failed += 1
                    print(f"perfbench: FAILED op {measured}", file=sys.stderr)
                    traceback.print_exc(file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                if rec is not None:  # traced: leave out what only tracing adds
                    dt -= tracing.trace_only_s(tracer.spans, rec["id"] + 1)
                with tracer.span("check"):
                    errors = wl.check(p, out)
                    wl.release(p)
                failed += bool(errors)
                for e in errors:
                    print(f"perfbench: WRONG op {measured}: {e}", file=sys.stderr)
                times.append(dt)
                for k, v in out["parts"].items():
                    parts[k].append(v)
            if not times:
                raise RuntimeError("no operation completed")
            record = {
                "provenance": provenance(args, spark),
                "sizes": wl.sizes(),
                "details": wl.details(),
                "ops": len(times),
                "op_s_all": times,
                "setup_s_all": setup_times,
                "session_start_s": session_s,
                "parts_median": {k: statistics.median(v) for k, v in parts.items()},
                "parts_n": {k: len(v) for k, v in parts.items()},
                "peak_rss_mb": peak_rss_mb(),
            }
            steal1, total1 = cpu_jiffies()
            # CPU time the hypervisor gave to other guests: runs with
            # different steal shares ran on effectively different hosts
            record["provenance"]["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    finally:
        if spark is not None:
            stop_session(spark)

    values = {
        "op_s": wl.op_s(times, parts),
        "setup_s": session_s + statistics.median(setup_times),
    }
    record["end_to_end"] = dict(values)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    correct = failed == 0
    if args.trace:
        layers, artifact = tracing.layer_metrics(tracer.spans, tracing.read_event_log(
            os.path.join(tmp, "events")), wl.ops_per_pass)
        layers["trace.op_s"] = values["op_s"]
        values = layers
        artifact["coverage"] = tracing.coverage(tracer.spans, layers, wl.ops_per_pass)
        if not artifact["coverage"]["ok"]:
            print(f"perfbench: the layer metrics do not cover the operations: "
                  f"{artifact['coverage']}, unmapped spans {artifact['unmapped_spans']}",
                  file=sys.stderr)
            correct = False
        try:
            with open(stem + "-trace0.json") as fh:
                untraced = json.load(fh)["end_to_end"]["op_s"]
            record["trace_overhead_frac"] = layers["trace.op_s"] / untraced - 1
        except FileNotFoundError:
            record["trace_overhead_frac"] = None
        record["layers"] = layers
        record["trace_summary"] = {
            k: v for k, v in artifact.items() if k not in ("spans", "entries")
        }
        with open(stem + "-spans.json", "w") as fh:
            json.dump(artifact, fh)
    with open(stem + f"-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1)
    kind = "per_layer" if args.trace else "end_to_end"
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs[kind]
        },
    }
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return run(args, tmp)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        print("perfbench: run aborted before its result", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
