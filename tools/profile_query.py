"""Per-job profile of one registry query (optimization-loop tool).

Runs the query once (``bench.time_query``) in a UI-enabled session
and dumps the Spark REST API's job list: job id, duration, #tasks,
description/call site. Job latency — not per-task compute — dominates
the lifecycle-style queries (lakehouse commits, iterative graph ops)
at bench SF, so the first question for any slow query is "how many
jobs, how long each" (guide §1.1/§7.1).

Usage: python tools/profile_query.py name [name2 ...] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pygdf_spark import get_spark
from pygdf_spark.queries import registry


def _api(port: int, path: str):
    with urllib.request.urlopen(
        f"http://localhost:{port}/api/v1/{path}", timeout=10
    ) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1,
                    help="run N times; profile jobs of the LAST run "
                         "(warm codegen)")
    args = ap.parse_args()

    queries, _ = registry()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    spark = get_spark("pygdf-spark-profile", **{"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    port = int(sc.uiWebUrl.rsplit(":", 1)[1])
    app_id = sc.applicationId

    for name in args.names:
        fn = queries[name]
        bench.time_query(spark, fn, args.sf_dir, args.runs - 1)
        jobs_before = {
            j["jobId"] for j in _api(port, f"applications/{app_id}/jobs")
        }
        [wall] = bench.time_query(spark, fn, args.sf_dir, 1)
        jobs = [
            j for j in _api(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        tot_ms = 0
        print(f"\n=== {name}: wall {wall:.2f}s, {len(jobs)} jobs ===")
        for j in jobs:
            t_sub = time.strptime(j["submissionTime"][:19],
                                  "%Y-%m-%dT%H:%M:%S")
            t_done = time.strptime(j["completionTime"][:19],
                                   "%Y-%m-%dT%H:%M:%S")
            # second-resolution from the ISO strings; add millis
            ms = (
                (time.mktime(t_done) - time.mktime(t_sub)) * 1000
                + int(j["completionTime"][20:23])
                - int(j["submissionTime"][20:23])
            )
            tot_ms += ms
            desc = (j.get("description") or j["name"])[:100]
            print(f"  job {j['jobId']:>4}  {ms/1000:6.2f}s "
                  f"tasks={j['numTasks']:>4}  {desc}")
        print(f"  sum of job durations: {tot_ms/1000:.2f}s "
              f"(wall-job gap {wall - tot_ms/1000:.2f}s = driver time)")
    spark.stop()


if __name__ == "__main__":
    main()
