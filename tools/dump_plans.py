"""Dump ``.explain("formatted")`` for named registry queries into
``plans/<tag>/<query>_<suffix>.txt`` — the optimization-round evidence
artifacts (the judge reads these instead of running Spark).

Usage:
    python tools/dump_plans.py --tag r07 --suffix before q1_pricing_summary ...
    python tools/dump_plans.py --tag r07 --suffix before --headline
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pygdf_spark import get_spark
from pygdf_spark.queries import registry
import bench


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r07")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--headline", action="store_true",
                    help="dump every bench HEADLINE query")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = list(args.names)
    if args.headline:
        names = list(bench.HEADLINE) + [n for n in names
                                        if n not in bench.HEADLINE]
    queries, _ = registry()
    unknown = sorted(set(names) - set(queries))
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("pygdf-spark-plan-dump")
    for name in names:
        try:
            df = queries[name](spark, args.sf_dir)
            try:
                plan = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            continue
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
