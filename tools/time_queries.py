"""Time individual registry queries with the bench's protocol
(``bench.warm`` then ``bench.time_query``: noop sink, per-attempt reset)
without running the whole bench — the optimization-loop inner harness,
and with a ``tools/make_sf1.py`` output dir, the scale curve:

    python tools/make_sf1.py /tmp/pygdf_x8 8
    python tools/time_queries.py -n 1 --sf-dir /tmp/pygdf_x8 name1 ...

Usage: python tools/time_queries.py [-n 5] [--sf-dir DIR] name1 name2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pygdf_spark import get_spark
from pygdf_spark.queries import registry


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    queries, _ = registry()
    unknown = sorted(set(args.names) - set(queries))
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    spark = get_spark("pygdf-spark-timeq")
    out = {}
    for name in args.names:
        bench.warm(spark, [queries[name]])
        samples = bench.time_query(spark, queries[name], args.sf_dir, args.n)
        # host load rides along: a time measured at load ≫ ncpu is
        # neighbor noise, not a plan regression (SCALING.md)
        out[name] = {"min": round(min(samples), 4),
                     "spread": round(max(samples) - min(samples), 4),
                     "samples": [round(s, 3) for s in samples],
                     "load1": round(os.getloadavg()[0], 1)}
        print(name, out[name])
    print(json.dumps(out, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
