"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side only: the workloads open
spans around their calls into the engine, and ``instrument`` replaces a
few engine functions with span-opening wrappers. That works because the
orchestrator resolves ``registry.run_sync``, ``load_supplier_feeds``,
``versioned.merge_files`` / ``read_version`` and the ``gold`` writers
as module attributes at call time. Each span sets the Spark job
description ``perfbench:<span id>``, so the event log ties every job to
the span that submitted it; jobs of streaming micro-batches (whose
description Spark overwrites) and streaming progress events are tied to
the innermost span open at their start time.

Spans stay in memory; ``layer_metrics`` turns them and the event log
into per-layer numbers once the run ends. A span's self time is its
duration minus the time its children cover. The time metrics in
``PARTITION`` split an operation's wall time by the span names in
``LAYER_OF``; ``coverage`` checks that they add up to it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import time
from collections import defaultdict
from datetime import datetime

# spans that exist only because the run is traced; they are left out
# of ``trace.op_s`` so that it compares with the untraced ``op_s``
TRACE_ONLY = ("silver.exec", "perfbench.trace")
WRITERS = ("versioned.merge", "versioned.bootstrap", "gold.write")
# the per-operation metric that takes the self time of each span name
# opened inside an operation
LAYER_OF = {
    "op": "trace.other_s",
    "perfbench.trace": "trace.other_s",
    "orchestrator.sync": "orchestrator.sync_self_s",
    "orchestrator.status": "orchestrator.status_s",
    "bronze.load": "bronze.load_s",
    "silver.plan": "silver.plan_s",
    "silver.exec": "silver.exec_s",
    "versioned.merge": "versioned.merge_s",
    "versioned.read": "versioned.read_s",
    **{f"{layer}.{phase}": f"{layer}.{phase}_s"
       for layer in ("operators", "llm_ops", "streaming") for phase in ("call", "exec")},
}
PARTITION = sorted(set(LAYER_OF.values()))
# largest share of operation time that no layer span may cover
MAX_UNATTRIBUTED = 0.05


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag the jobs of each span from now on via ``sc``."""
        self._sc = sc

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "attrs": attrs,
            "t0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self._describe()

    def _describe(self) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"perfbench:{self._stack[-1]}" if self._stack else None)

    def annotate(self, **attrs) -> None:
        """Add attributes to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]]["attrs"].update(attrs)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine functions named in the module docstring."""
    import pyarrow.parquet as pq

    from pim_etl_spark import orchestrator
    from pim_etl_spark.pipeline import gold, registry
    from pim_etl_spark.pipeline import versioned as V

    def wrap(module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)

    wrap(orchestrator, "load_supplier_feeds", "bronze.load")
    wrap(V, "read_version", "versioned.read")
    wrap(V, "point_lookup", "versioned.read")
    wrap(gold, "atomic_overwrite", "gold.write")
    wrap(gold, "merge_partitioned", "gold.write")

    plan = registry.run_sync

    @functools.wraps(plan)
    def run_sync(*args, **kwargs):
        with tracer.span("silver.plan"):
            unified = plan(*args, **kwargs)
        # traced-only: execute the unified frame once so silver's own
        # execution cost is visible apart from the store write
        with tracer.span("silver.exec"):
            unified.write.mode("overwrite").format("noop").save()
        return unified

    registry.run_sync = run_sync

    merge = V.merge_files

    @functools.wraps(merge)
    def merge_files(spark, path, *args, **kwargs):
        first = V.current_version(path) == 0
        with tracer.span("versioned.bootstrap" if first else "versioned.merge") as rec:
            out = merge(spark, path, *args, **kwargs)
        with tracer.span("perfbench.trace"):
            v = out["version"]
            written = set(V.snapshot_files(path, v)) - set(V.snapshot_files(path, v - 1))
            rec["attrs"].update(
                files_rewritten=out["files_rewritten"],
                files_skipped=out.get("files_skipped", 0),
                bytes_written=sum(os.path.getsize(f) for f in written),
                rows_written=sum(pq.ParquetFile(f).metadata.num_rows for f in written),
            )
        return out

    V.merge_files = merge_files


def _event_files(log_dir: str) -> list[str]:
    # hidden files are the local filesystem's checksums
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")
    )


def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and streaming progress from a Spark event
    log (uncompressed JSON lines)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    progress: list[dict] = []
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                        "t0": ev["Submission Time"] / 1000.0,
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

                    def val(key: str) -> int:
                        return int(acc.get(f"internal.metrics.{key}") or 0)

                    stages[info["Stage ID"]] = {
                        "cpu_s": val("executorCpuTime") / 1e9,
                        "shuffle_bytes": val("shuffle.write.bytesWritten")
                        + val("shuffle.read.remoteBytesRead")
                        + val("shuffle.read.localBytesRead"),
                    }
                elif kind.endswith("QueryProgressEvent"):
                    p = ev["progress"]
                    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                    progress.append({"t0": start.timestamp(), "ms": p.get("durationMs") or {}})
    for j in jobs.values():
        j.setdefault("t1", j["t0"])
    return {"jobs": jobs, "stages": stages, "progress": progress}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _Tree:
    """Span tree with self times and job / progress attribution."""

    def __init__(self, spans: list[dict], events: dict) -> None:
        self.spans = spans
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.dur = {s["id"]: s["t1"] - s["t0"] for s in spans}
        self.self_t = {
            sid: d - sum(self.dur[c] for c in self.children[sid]) for sid, d in self.dur.items()
        }
        self.op_of = {}
        for s in spans:
            p = s["parent"]
            self.op_of[s["id"]] = (
                s["id"] if s["name"] == "op" else self.op_of.get(p) if p is not None else None
            )
        self.jobs_of: dict[int, list[dict]] = defaultdict(list)
        for j in events["jobs"].values():
            desc = j["desc"]
            sid = int(desc.split(":")[1]) if desc.startswith("perfbench:") else self.at(j["t0"])
            j["span"] = sid
            if sid is not None:
                self.jobs_of[sid].append(j)
        self.progress_of: dict[int, list[dict]] = defaultdict(list)
        for p in events["progress"]:
            sid = self.at(p["t0"])
            if sid is not None:
                self.progress_of[sid].append(p)

    def at(self, t: float) -> int | None:
        """Innermost span open at wall time ``t``."""
        found = None
        for s in self.spans:  # creation order: a later containing span is deeper
            if s["t0"] <= t <= s["t1"]:
                found = s["id"]
        return found

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo += self.children[cur]
        return out

    def named(self, name: str, in_ops: bool = True) -> list[int]:
        return [
            s["id"] for s in self.spans
            if s["name"] == name and (self.op_of[s["id"]] is not None) == in_ops
        ]


def trace_only_s(spans: list[dict], first: int) -> float:
    """Time of the traced-only spans among ``spans[first:]`` (those an
    operation opened, when ``first`` follows its own span)."""
    return sum(s["t1"] - s["t0"] for s in spans[first:] if s["name"] in TRACE_ONLY)


def coverage(spans: list[dict], m: dict, ops_per_pass: int = 1) -> dict:
    """How the ``PARTITION`` metrics cover the operations' wall time:
    their sum against the operation wall per pass (they differ when a
    span inside an operation has no metric, or a metric counts time
    twice), and the share of operation time outside every layer span."""
    walls = [s["t1"] - s["t0"] for s in spans if s["name"] == "op"]
    passes = max(1, len(walls)) / ops_per_pass
    wall = sum(walls) / passes
    layers = sum(m[k] for k in PARTITION)
    own = sum(
        s["t1"] - s["t0"] - sum(c["t1"] - c["t0"] for c in spans if c["parent"] == s["id"])
        for s in spans if s["name"] == "op"
    ) / passes
    return {
        "op_wall_s": wall,
        "layer_sum_s": layers,
        "unattributed_frac": own / wall if wall else 0.0,
        "ok": math.isclose(layers, wall, rel_tol=1e-9, abs_tol=1e-9)
        and own <= MAX_UNATTRIBUTED * wall,
    }


def layer_metrics(
    spans: list[dict], events: dict, ops_per_pass: int = 1
) -> tuple[dict, dict]:
    """Per-layer metrics (per pass of ``ops_per_pass`` measured
    operations unless the name says otherwise) and the trace artifact."""
    tree = _Tree(spans, events)
    ops = [s["id"] for s in spans if s["name"] == "op"]
    n = max(1, len(ops)) / ops_per_pass
    stages = events["stages"]
    m = dict.fromkeys(PARTITION, 0.0)
    unmapped = set()
    for sid, op in tree.op_of.items():
        if op is not None:
            name = spans[sid]["name"]
            if name in LAYER_OF:
                m[LAYER_OF[name]] += tree.self_t[sid] / n
            else:
                unmapped.add(name)

    def jobs_in(sids) -> list[dict]:
        return [j for sid in sids for x in tree.subtree(sid) for j in tree.jobs_of[x]]

    def attr_sum(name: str, key: str) -> float:
        return sum(spans[s]["attrs"].get(key, 0) for s in tree.named(name))

    def ratio(num: float, key: str) -> float:
        den = sum(spans[o]["attrs"].get(key, 0) for o in ops)
        return num / den if den else 0.0

    op_jobs = jobs_in(ops)
    op_stages = [stages[s] for j in op_jobs for s in j["stages"] if s in stages]
    post_commit = 0
    for sid in tree.named("orchestrator.sync"):
        writes = [c for c in tree.children[sid] if spans[c]["name"] in WRITERS]
        if writes:
            done = max(spans[c]["t1"] for c in writes)
            post_commit += sum(1 for j in tree.jobs_of[sid] if j["t0"] >= done)
    stream_spans = tree.named("streaming.call") + tree.named("streaming.exec")
    progress = [p for sid in stream_spans for x in tree.subtree(sid) for p in tree.progress_of[x]]

    def phase(key: str) -> float:
        return sum(p["ms"].get(key, 0) for p in progress) / 1000.0 / n

    bootstraps = [tree.dur[s] for s in tree.named("versioned.bootstrap", in_ops=False)]
    gold_writes = [
        tree.dur[s] for s in tree.named("gold.write", in_ops=False)
        if spans[spans[s]["parent"]]["name"] != "gold.write"
    ]
    session = tree.named("session.start", in_ops=False)
    m.update({
        "session.start_s": tree.dur[session[0]] if session else 0.0,
        "versioned.files_rewritten": attr_sum("versioned.merge", "files_rewritten") / n,
        "versioned.files_skipped": attr_sum("versioned.merge", "files_skipped") / n,
        "versioned.rows_rewritten_per_row_in": ratio(
            attr_sum("versioned.merge", "rows_written"), "rows_in"
        ),
        "versioned.bytes_written_per_byte_in": ratio(
            attr_sum("versioned.merge", "bytes_written"), "bytes_in"
        ),
        "versioned.bootstrap_s": statistics.median(bootstraps) if bootstraps else 0.0,
        "gold.write_s": statistics.median(gold_writes) if gold_writes else 0.0,
        "orchestrator.post_commit_jobs": post_commit / n,
        "orchestrator.status_jobs": len(jobs_in(tree.named("orchestrator.status"))) / n,
        "streaming.setup_s": sum(tree.dur[s] for s in stream_spans) / n - phase("triggerExecution"),
        "streaming.query_planning_s": phase("queryPlanning"),
        "streaming.add_batch_s": phase("addBatch"),
        "streaming.wal_commit_s": phase("walCommit"),
        "streaming.batches": len(progress) / n,
        "spark.jobs": len(op_jobs) / n,
        "spark.stages": len(op_stages) / n,
        "spark.task_cpu_s": sum(st["cpu_s"] for st in op_stages) / n,
        "spark.shuffle_mb": sum(st["shuffle_bytes"] for st in op_stages) / 1e6 / n,
        "spark.driver_s": (
            sum(tree.dur[o] for o in ops) - _union([(j["t0"], j["t1"]) for j in op_jobs])
        ) / n,
    })

    entries: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        entry = s["attrs"].get("entry")
        if entry and tree.op_of[s["id"]] is not None:
            e = entries[entry]
            phase_name = s["name"].rsplit(".", 1)[1]
            e[f"{phase_name}_s"] += tree.dur[s["id"]]
            e["n"] += phase_name == "call"
            jobs = jobs_in([s["id"]])
            e["jobs"] += len(jobs)
            e["driver_s"] += tree.dur[s["id"]] - _union([(j["t0"], j["t1"]) for j in jobs])
    for e in entries.values():  # per run of the entry
        for k in [k for k in e if k != "n"]:
            e[k] /= e["n"]
    artifact = {
        "wall_s": tree.dur[spans[0]["id"]],
        "ops": len(ops),
        "unmapped_spans": sorted(unmapped),
        "entries": {k: dict(v) for k, v in sorted(entries.items())},
        "jobs_unattributed": sum(1 for j in events["jobs"].values() if j["span"] is None),
        "spans": spans,
    }
    return m, artifact
