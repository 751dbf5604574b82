#!/usr/bin/env python3
"""Benchmark for the spark-graft engine: closed-loop workloads on local[N].

Run from any directory of a checkout::

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 15 --trace 0

One run of one workload:

1. **set-up** (``setup_s``): start the session, then the workload's
   ``warm_passes`` untimed passes, the warm-up (README.md gives the
   warm-up curves this rule was chosen from).
2. **timed passes**: one client, closed loop (the next operation starts
   when the previous one has returned). Each pass runs every operation
   once, in an order drawn from ``--seed``; passes repeat until
   ``--seconds`` are used up, and at least one pass always runs. Every
   time is net of host steal (``NetClock``).
3. **check pass**, untimed: every operation once, its output compared
   against an oracle, then the workload's checks of the state the pass
   left. It runs last, on a warm JVM, where it takes a few seconds.
4. **result**: the last stdout line is one JSON object with the keys
   ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
   reports the end-to-end metrics; ``--trace 1`` turns the Spark UI/REST
   API, job groups and the streaming listener on, runs untraced and
   traced passes in the order off, on, on, off (at least four passes),
   reports the per-layer metrics and writes the spans to
   ``perfbench/out/``.

The base tables are synthesised by ``fixture.py`` into the run's
scratch directory before set-up starts.

Exit codes: 0 when a result was printed, 2 when the engine package is
not next to this directory or the workload is unknown.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

import fixture
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "op_geomean_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _fail(code: int, msg: str) -> None:
    _log(msg)
    sys.exit(code)


def _host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _peak_memory_mb(spark) -> float:
    """Peak resident size of the Python driver plus the driver JVM,
    which in local mode runs the executors too."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class NetClock:
    """Wall time net of steal: the time the machine's CPUs were ready to
    run but the hypervisor ran another guest on them. On a shared VM
    steal comes and goes with other tenants' load (0-50% of the CPU
    time asked for, in runs minutes apart on the 4-vCPU host in
    README.md), so a raw wall time measures the neighbours as much as
    the engine. The net time is the wall time scaled by the share of
    the CPU time asked for that the guest actually got."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = _cpu_ticks()

    def read(self) -> tuple[float, float, float]:
        """(net seconds, wall seconds, stolen share) since creation."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, _cpu_ticks()))
        stolen = steal / (busy + steal) if busy + steal > 0 else 0.0
        return wall * (1.0 - stolen), wall, stolen


class Context:
    """What an operation needs: the session, the data tier, a scratch
    directory, the run's random source and the tracer."""

    def __init__(self, spark, sf_dir: str, check_dir: str,
                 work: str, rng: random.Random, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.check_dir = check_dir
        self.work = work
        self.rng = rng
        self.tracer = tracer


class Runner:
    """Runs passes of one workload and keeps every sample."""

    def __init__(self, ctx: Context, workload):
        self.ctx = ctx
        self.workload = workload
        self.attempted = 0
        self.failed = 0

    def _record_failure(self, what: str) -> None:
        self.failed += 1
        _log(f"FAILED {what}: {traceback.format_exc(limit=3)}")

    def run_op(self, op, tracer) -> float | None:
        """Build and force one operation; returns its net wall time
        (``NetClock``), or None when it raised (counted as failed,
        never swallowed)."""
        self.attempted += 1
        clock = NetClock()
        try:
            with tracer.op(op.name):
                with tracer.span("build"):
                    df = op.call(self.ctx)
                if df is not None:
                    tracer.plan(df)
                    with tracer.span("force"):
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # boundary: one failed op must not end the run
            self._record_failure(op.name)
            return None
        net, wall, stolen = clock.read()
        _log(f"op {op.name} net {net:.4f}s wall {wall:.4f}s stolen {stolen:.3f}")
        return net

    def _checked(self, what: str, check) -> None:
        """One output check: counted as attempted, and as failed when it
        raises or returns an error message."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            err = check()
        except Exception:  # boundary: keep checking the others
            self._record_failure(f"check {what}")
            return
        _log(f"check {what} {time.perf_counter() - t0:.3f}s")
        if err:
            self.failed += 1
            _log(f"CHECK FAILED {what}: {err}")

    def _end_pass(self) -> None:
        try:
            self.workload.end_pass(self.ctx)
        except Exception:  # boundary: a broken pass is a failed operation
            self.attempted += 1
            self._record_failure("end of pass")

    def check_pass(self) -> None:
        """Every operation once with its output check (an operation
        without one just runs), then the workload's checks of the state
        the pass left."""
        self.ctx.tracer = tracing.NULL
        for op in self.workload.plan(self.ctx, self.ctx.rng, check=True):
            if op.check is None:
                self.run_op(op, tracing.NULL)
            else:
                self._checked(op.name, lambda op=op: op.check(self.ctx))
        for what, check in self.workload.final_checks(self.ctx):
            self._checked(what, check)
        self._end_pass()

    def timed_pass(self, tracer) -> tuple[float, dict[str, list[float]]]:
        self.ctx.tracer = tracer
        ops = self.workload.plan(self.ctx, self.ctx.rng)
        lat: dict[str, list[float]] = {}
        clock = NetClock()
        with tracer.pass_span():
            for op in ops:
                dt = self.run_op(op, tracer)
                if dt is not None:
                    lat.setdefault(op.name, []).append(dt)
        net, wall, stolen = clock.read()
        _log(f"pass net {net:.3f}s wall {wall:.3f}s stolen {stolen:.3f}")
        self._end_pass()
        return net, lat


def _session(work: str, trace: bool):
    """Start the engine's session sized to this host, importable from
    any cwd, with console progress off."""
    from pygdf_spark import get_spark

    cores = len(os.sched_getaffinity(0))
    mem_gb = max(1, int(_host_memory_gb() * 0.25))
    # Generations of fixed size and a collector that does not resize
    # them: G1 sizes its heap from its own pause-time measurements,
    # which made the resident size follow the collector rather than the
    # program. -Xms only reserves the heap; a page becomes resident when
    # the engine first uses it (no pre-touch), so heap growth still
    # shows in peak_rss_mb. The C1 compiler only: with C2 on, compiling
    # took half the JVM's CPU and pass times kept falling through the
    # whole timed window, so a run measured how far the JIT had got
    # (README.md, "Steadiness").
    jvm_opts = (f"-Djava.io.tmpdir={work}/tmp -XX:+UseParallelGC "
                f"-XX:-UseAdaptiveSizePolicy -Xms{mem_gb}g "
                f"-Xmn{mem_gb * 1024 // 3}m -XX:TieredStopAtLevel=1")
    overrides = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": f"{mem_gb}g",
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": f"{work}/spark",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        overrides.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
            "spark.ui.port": "0",
        })
    spark = get_spark("perfbench", **overrides)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it
    exits when its stdin closes); its Python workers die with it. A
    SIGTERM that lands inside a py4j call leaves the gateway connection
    unusable, so the JVM is closed even when ``stop`` fails."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _remove_stale_work() -> None:
    """Scratch directories of runs that were killed: their pid is gone."""
    root = os.path.join(HERE, ".work")
    for name in os.listdir(root) if os.path.isdir(root) else []:
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def _prepare_env(work: str) -> None:
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # the session's cwd is irrelevant to the engine; keep derby/metastore
    # files, if any, inside the scratch directory
    os.chdir(work)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                    help="tiny: the sf0.001 self-test size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pygdf_spark", "__init__.py")):
        _fail(2, f"engine package pygdf_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pygdf_spark  # noqa: E402 (needs ROOT on sys.path)

    if os.path.dirname(os.path.dirname(os.path.abspath(pygdf_spark.__file__))) != ROOT:
        _fail(2, f"pygdf_spark imported from outside {ROOT}")
    import workloads  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        _fail(2, f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    workload = workloads.WORKLOADS[args.workload](args.scale)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    _remove_stale_work()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)

    spark = None
    try:
        # fixture synthesis stays outside setup_s
        dirs = {sf: fixture.write(os.path.join(work, "data", f"sf{sf:g}"), sf)
                for sf in {workload.sf, workload.check_sf}}
        sf_dir, check_dir = dirs[workload.sf], dirs[workload.check_sf]

        clock = NetClock()
        spark, cores = _session(work, bool(args.trace))
        start_s = clock.read()[0]
        tracer = tracing.Tracer(spark, args.workload, cores) if args.trace else tracing.NULL
        ctx = Context(spark, sf_dir, check_dir, work,
                      random.Random(args.seed), tracer)
        workload.setup(ctx)
        runner = Runner(ctx, workload)

        clock = NetClock()
        for _ in range(workload.warm_passes):
            runner.timed_pass(tracing.NULL)
        warmup_s = clock.read()[0]
        _log(f"setup net: start {start_s:.3f}s warm-up {warmup_s:.3f}s")

        passes: list[tuple[float, dict]] = []
        traced: list[tuple[float, dict]] = []
        clock = NetClock()
        n = 0
        while True:
            # --trace 1 runs hooks-off and hooks-on passes in the order
            # off, on, on, off, ... (at least four), so the tracing
            # overhead is measured in one process and a linear warm-up
            # trend cancels out of it
            on = bool(args.trace) and n % 4 in (1, 2)
            net, lat = runner.timed_pass(tracer if on else tracing.NULL)
            (traced if on else passes).append((net, lat))
            n += 1
            _, elapsed, stolen = clock.read()
            if elapsed * (n + 1) / n > args.seconds and (not args.trace or n >= 4):
                break

        runner.check_pass()

        # per-operation latencies of the untraced passes only: a traced
        # pass also runs the Catalyst and lake-log probes
        per_kind: dict[str, list[float]] = {}
        for _, lat in passes:
            for k, v in lat.items():
                per_kind.setdefault(k, []).extend(v)
        metrics = {}
        if args.trace:
            metrics.update(tracer.finish(
                passes=[w for w, _ in traced],
                untraced=[w for w, _ in passes],
                latencies=per_kind,
                session={"start_s": start_s, "warmup_s": warmup_s},
                host={"steal_ratio": stolen},
                workload=workload,
                out_dir=os.path.join(HERE, "out"), seed=args.seed,
            ))
        else:
            # an operation that failed in every pass has no latency; it
            # shows in success_rate instead
            medians = {k: statistics.median(v) for k, v in per_kind.items()}
            # a typical pass: every operation at its median latency, as
            # often as a pass runs it. Steadier than the median of a few
            # pass walls, where one slow operation moves a whole pass.
            per_pass = {k: max(len(lat.get(k, ())) for _, lat in passes) for k in medians}
            values = {
                "setup_s": start_s + warmup_s,
                "pass_wall_s": sum(per_pass[k] * m for k, m in medians.items()),
                "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians.values()))
                if medians else 0.0,
                "success_rate": 1.0 - runner.failed / runner.attempted,
                "peak_rss_mb": _peak_memory_mb(spark),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            os.chdir(HERE)
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
