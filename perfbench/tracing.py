"""Tracing for ``--trace 1`` runs: spans from the benchmark's own side
of each layer call, joined after the run with what Spark's REST API and
a ``StreamingQueryListener`` recorded.

Spans are kept in memory and written to one JSON-lines file when the
run ends. Each span has ``id``, ``name``, ``start``, ``end`` (epoch
seconds) and ``parent``. Operation spans also carry ``op`` and
``pass``, and Catalyst spans the phase times. Spark jobs become child
spans of the operation that launched them.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import statistics
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

#: per-layer metric -> unit; every traced run prints all of them, with 0
#: where the workload never enters that layer
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build.wall_s": "s", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_ratio": "ratio", "scan.bytes_read": "B", "scan.rows_read": "count",
    "shuffle.read_bytes": "B", "shuffle.write_bytes": "B", "spill.bytes": "B",
    "udf.python_ms": "ms", "udf.rows_to_python": "count",
    "udf.bytes_to_python": "B", "udf.bytes_from_python": "B",
    "lake.append_s": "s", "lake.merge_s": "s", "lake.delete_s": "s",
    "lake.compact_s": "s", "lake.read_plan_s": "s", "lake.read_exec_s": "s",
    "lake.table_version_s": "s", "lake.last_txn_batch_s": "s",
    "lake.log_files": "count", "lake.live_files": "count",
    "lake.touch_ratio": "ratio", "lake.scan_ratio": "ratio",
    "lake.commit_p50_s": "s", "lake.commit_p90_s": "s",
    "lake.read_p50_s": "s", "lake.read_p90_s": "s",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.latestOffset_ms": "ms", "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms", "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms", "stream.commitOffsets_ms": "ms",
    "jvm.jit_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.threads": "count",
    "jvm.heap_peak_mb": "MB", "jvm.nonheap_peak_mb": "MB",
    "trace.pass_wall_s": "s", "trace.overhead_s": "s",
    "host.steal_ratio": "ratio",
}

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")

#: SQL plan nodes that run Python workers
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
}


def _metric_total(text: str) -> float:
    """The total of a Spark SQL metric as the REST API renders it, e.g.
    ``'total (min, med, max ...)\\n86.5 KiB (...)'``, ``'1.4 s'`` or
    ``'12,000'``; sizes in bytes, times in ms."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class _NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def op(self, name):
        yield

    span = op

    def pass_span(self):
        return contextlib.nullcontext()

    def plan(self, df) -> None:
        pass


NULL = _NullTracer()


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({"at": _epoch(p.timestamp.replace("Z", "GMT")),
                            "durationMs": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Job group per operation, spans per operation and layer call,
    Catalyst phases per planned DataFrame, streaming progress."""

    enabled = True

    def __init__(self, spark, workload: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pass = -1
        self.listener = _Progress()
        spark.streams.addListener(self.listener)

    @contextlib.contextmanager
    def _span(self, name: str, **extra):
        span = {"id": len(self.spans), "name": name, "start": time.time(),
                "end": None,
                "parent": self._stack[-1]["id"] if self._stack else None, **extra}
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()

    def _jvm_counters(self) -> dict:
        """Cumulative JIT compile, CPU and GC seconds of the driver JVM
        (which runs the local executors too), and its live threads."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        pid = mf.getRuntimeMXBean().getPid()
        with open(f"/proc/{pid}/stat") as f:
            ticks = f.read().rsplit(")", 1)[1].split()[11:13]
        return {
            "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.cpu_s": sum(int(t) for t in ticks) / os.sysconf("SC_CLK_TCK"),
            "jvm.gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
            "jvm.threads": mf.getThreadMXBean().getThreadCount(),
        }

    def _jvm_peaks(self) -> dict:
        """Peak use of the driver JVM's heap and non-heap memory pools
        since it started, summed over the pools of each kind."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        out = {"jvm.heap_peak_mb": 0.0, "jvm.nonheap_peak_mb": 0.0}
        for pool in mf.getMemoryPoolMXBeans():
            kind = "heap" if pool.getType().name() == "HEAP" else "nonheap"
            out[f"jvm.{kind}_peak_mb"] += pool.getPeakUsage().getUsed() / 2 ** 20
        return out

    @contextlib.contextmanager
    def pass_span(self):
        """One span per pass; it also carries the JVM's JIT, CPU and GC
        seconds spent during the pass and its thread count after it."""
        self._pass += 1
        before = self._jvm_counters()
        with self._span("pass", **{"pass": self._pass}) as sp:
            yield
        after = self._jvm_counters()
        sp.update({k: after[k] - before[k] for k in after if k != "jvm.threads"},
                  **{"jvm.threads": after["jvm.threads"]})

    @contextlib.contextmanager
    def op(self, name: str):
        self.sc.setJobGroup(f"{self.workload}/{name}", f"{self.workload}/{name}")
        with self._span(name, op=True, **{"pass": self._pass}):
            yield

    def span(self, name: str):
        return self._span(name)

    def plan(self, df) -> None:
        """Optimize and plan ``df`` now, so its QueryPlanningTracker holds
        all three Catalyst phases (the noop write then plans again)."""
        with self._span("catalyst") as sp:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                sp[f"phase.{kv._1()}"] = kv._2().durationMs()

    # ------------------------------------------------------------ views

    def _ops(self) -> list[dict]:
        return [s for s in self.spans if s.get("op") and s["pass"] >= 0]

    def _children(self, span) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def span_times(self, name: str, ops=None) -> list[float]:
        """Self time (duration minus child spans) of every ``name`` span
        under a traced operation called one of ``ops``."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or s.get("op"):
                continue
            owner = s
            while owner is not None and not owner.get("op"):
                owner = by_id.get(owner["parent"])
            if owner is None or owner["pass"] < 0 or (ops and owner["name"] not in ops):
                continue
            child = sum(c["end"] - c["start"] for c in self._children(s))
            out.append(s["end"] - s["start"] - child)
        return out

    # ----------------------------------------------------------- finish

    def _rest(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    def finish(self, *, passes, untraced, latencies, session, host, workload,
               out_dir, seed) -> dict:
        """Join spans with the REST data, write the span file and return
        every per-layer metric. ``latencies`` holds each operation's
        net wall times (``run.NetClock``) in the untraced passes."""
        self.spark.streams.removeListener(self.listener)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._rest("/jobs")
        stages = {}
        for st in self._rest("/stages"):
            if st["status"] != "SKIPPED":
                stages.setdefault(st["stageId"], []).append(st)
        execs = self._rest("/sql?details=true&planDescription=false&length=1000000")

        job_spans = []
        for j in jobs:
            start, end = _epoch(j["submissionTime"]), _epoch(j.get("completionTime"))
            if start is not None:
                job_spans.append((start, end if end is not None else start, j))

        per_pass: dict[int, dict] = {}
        counted: set[int] = set()  # a reused shuffle stage shows in later jobs too
        for op in self._ops():
            m = per_pass.setdefault(op["pass"], {})
            mine = [(s, e, j) for s, e, j in job_spans if op["start"] <= s <= op["end"]]
            for s, e, j in mine:
                self.spans.append({"id": len(self.spans), "name": f"job {j['jobId']}",
                                   "start": s, "end": e, "parent": op["id"]})
            _add_op(m, op, self._children(op), mine, stages, execs, counted)
        for p in per_pass:
            pspan = next(s for s in self.spans if s["name"] == "pass" and s["pass"] == p)
            per_pass[p]["wall"] = pspan["end"] - pspan["start"]
            per_pass[p].update({k: v for k, v in pspan.items() if k.startswith("jvm.")})
            evs = [e for e in self.listener.events
                   if e["at"] is not None and pspan["start"] <= e["at"] <= pspan["end"]]
            per_pass[p]["stream.batches"] = len(evs)
            per_pass[p]["stream.trigger_ms"] = sum(
                e["durationMs"].get("triggerExecution", 0) for e in evs)
            for ph in STREAM_PHASES:
                per_pass[p][f"stream.{ph}_ms"] = sum(e["durationMs"].get(ph, 0) for e in evs)
            per_pass[p]["exec.busy_ratio"] = per_pass[p].get("exec.run_s", 0.0) / (
                per_pass[p]["wall"] * self.cores)

        values = {k: 0.0 for k in PER_LAYER}
        names = {k for m in per_pass.values() for k in m if k in PER_LAYER}
        for k in names:
            values[k] = statistics.median(m.get(k, 0.0) for m in per_pass.values())
        values.update({f"session.{k}": v for k, v in session.items()})
        values.update({f"host.{k}": v for k, v in host.items()})
        values.update(self._jvm_peaks())
        values.update(workload.layer_metrics(self, latencies))
        values["trace.pass_wall_s"] = statistics.median(passes)
        values["trace.overhead_s"] = values["trace.pass_wall_s"] - statistics.median(untraced)

        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.workload}-seed{seed}.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def _add_op(m: dict, op: dict, children: list[dict], jobs, stages, execs,
            counted: set[int]) -> None:
    """Fold one operation's spans, jobs, stages and SQL executions into
    its pass's totals ``m``; each stage counts once, for the first job
    that ran it."""

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for c in children:
        if c["name"] == "build":
            add("build.wall_s", c["end"] - c["start"])
            add("build.jobs", sum(1 for s, _, _ in jobs if c["start"] <= s <= c["end"]))
        elif c["name"] == "catalyst":
            for ph in ("analysis", "optimization", "planning"):
                add(f"catalyst.{ph}_ms", c.get(f"phase.{ph}", 0))
    add("spark.jobs", len(jobs))
    add("spark.job_gap_s", (op["end"] - op["start"]) - _union_s(
        [(max(s, op["start"]), min(e, op["end"])) for s, e, _ in jobs]))
    job_ids = {j["jobId"] for _, _, j in jobs}
    for _, _, j in jobs:
        for sid in j["stageIds"]:
            if sid in counted:
                continue
            counted.add(sid)
            for st in stages.get(sid, []):
                add("spark.stages", 1)
                add("spark.tasks", st["numTasks"])
                add("exec.run_s", st["executorRunTime"] / 1e3)
                add("exec.cpu_s", st["executorCpuTime"] / 1e9)
                add("exec.gc_s", st["jvmGcTime"] / 1e3)
                add("scan.bytes_read", st["inputBytes"])
                add("scan.rows_read", st["inputRecords"])
                add("shuffle.read_bytes", st["shuffleReadBytes"])
                add("shuffle.write_bytes", st["shuffleWriteBytes"])
                add("spill.bytes", st["diskBytesSpilled"])
    for ex in execs:
        if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
            continue
        nodes = {n["nodeId"]: n for n in ex["nodes"]}
        child_of = {e["toId"]: e["fromId"] for e in ex.get("edges", [])}
        for n in ex["nodes"]:
            if not _PYTHON_NODE.search(n["nodeName"]):
                continue
            mets = {x["name"]: x["value"] for x in n["metrics"]}
            add("udf.python_ms", _metric_total(mets.get("time to run Python workers", "0")))
            add("udf.bytes_to_python", _metric_total(mets.get("data sent to Python workers", "0")))
            add("udf.bytes_from_python",
                _metric_total(mets.get("data returned from Python workers", "0")))
            add("udf.rows_to_python", _rows_into(n["nodeId"], nodes, child_of))


def _rows_into(node_id: int, nodes: dict, child_of: dict) -> float:
    """Rows entering a node: the output-row count of the nearest
    descendant that reports one."""
    cur = child_of.get(node_id)
    while cur is not None:
        for x in nodes[cur]["metrics"]:
            if x["name"] == "number of output rows":
                return _metric_total(x["value"])
        cur = child_of.get(cur)
    return 0.0
