"""Synthesize an sf1.0 endurance dataset from the driver's sf0.1.

The container ships sf{0.001,0.01,0.1} only (TESTDATA.md), but scale-
dependent bug classes (decimal ties, partition-count effects, window
boundary permutations) keep appearing one tier above wherever they were
last fixed — so the endurance gate needs an sf1.0. This builds one by
UNION-ing N key-shifted replicas (default 10) of every sf0.1 table: each
surrogate key family gets `replica * (max_key + 1)` added, so uniqueness and
referential integrity (orders→customer, lineitem→orders/part/supplier,
events→user, embeddings/documents ids) survive and every query's
join/group semantics scale rather than degenerate. nation/region are
fixed-size dimensions in TPC-H and are copied as-is. Timestamps and
payloads are left identical across replicas — count-type aggregates
scale Nx, distinct-text semantics stay self-consistent because the
DuckDB oracle reads the SAME generated files.

The build is a distributed Spark plan (scan -> withColumn -> union ->
write), not a pandas loop: at a real 10x of a big base this is the
shape that would still run.

Usage: python tools/make_sf1.py [out_dir [replicas]]
       (default /tmp/pygdf_sf1 10)

Other replica counts give the scale curve's data points; time them with
`tools/time_queries.py --sf-dir <out_dir>`.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pygdf_spark import get_spark

SRC = "/root/testdata/sf0.1"

#: key column -> the key family it belongs to (shift = replica * span)
_TABLE_KEYS = {
    "customer": {"c_custkey": "custkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
    "nation": {},
    "region": {},
}

#: key family -> (table, column) to measure the span from
_FAMILY_SOURCE = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}


def build(spark, src: str, out_dir: str, replicas: int) -> None:
    """Write ``replicas`` key-shifted copies of every table in ``src``
    (one copy of nation/region) to ``out_dir/<table>.parquet``."""
    spans = {}
    for fam, (tbl, col) in _FAMILY_SOURCE.items():
        m = spark.read.parquet(f"{src}/{tbl}.parquet").agg(F.max(col)).collect()[0][0]
        spans[fam] = int(m) + 1
    os.makedirs(out_dir, exist_ok=True)
    for tbl, keys in _TABLE_KEYS.items():
        base = spark.read.parquet(f"{src}/{tbl}.parquet")
        if not keys:
            out = base
        else:
            parts = []
            for i in range(replicas):
                df = base
                for col, fam in keys.items():
                    df = df.withColumn(
                        col, (F.col(col) + F.lit(i * spans[fam])).cast(dict(base.dtypes)[col])
                    )
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        dst = f"{out_dir}/{tbl}.parquet"
        out.write.mode("overwrite").parquet(dst + ".dir")
        # single-file layout to match the driver's (read side accepts
        # both, but keep the dir names identical: <table>.parquet)
        files = glob.glob(f"{dst}.dir/*.parquet")
        if len(files) == 1:
            shutil.move(files[0], dst)
            shutil.rmtree(f"{dst}.dir")
        else:
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(f"{dst}.dir", dst)
        n = spark.read.parquet(dst).count()
        print(f"{tbl}: {n:,} rows")


def main(out_dir: str = "/tmp/pygdf_sf1", replicas: str = "10") -> None:
    spark = get_spark(
        "make_sf1", **{"spark.sql.parquet.int96RebaseModeInWrite": "CORRECTED"}
    )
    build(spark, SRC, out_dir, int(replicas))
    print(f"{replicas}x sf0.1 dataset at {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
