#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, a few lake commits).

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json, runs ``run.py --scale tiny`` once
untraced and once traced, and asserts that the result line is correct
and prints every end-to-end (untraced) or per-layer (traced) metric by
name with its unit. Also asserts that the benchmark refuses to run, with
a non-zero exit and no result, from a copy holding only BENCHMARK.json
and this directory. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def check_workload(spec: dict, workload: str, trace: int) -> list[str]:
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}: {p.stderr[-2000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} "
                      f"failed={result['failed']} attempted={result['attempted']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{where}: metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, units "
                      f"{ {k: (got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]} }")
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v.get("value"), (int, float))]
    if bad:
        errors.append(f"{where}: non-numeric values for {bad}")
    return errors


def check_bare_copy() -> list[str]:
    """Without the engine next to it, the benchmark must fail cleanly."""
    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
        p = _run(bare, "--workload", "lake_ingest_mix", "--seed", "1",
                 "--seconds", "1", "--trace", "0")
        if p.returncode == 0 or p.stdout.strip():
            return [f"bare copy: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_bare_copy()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check_workload(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: {'FAIL' if errs else 'ok'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
