"""SparkSession factory tuned for the engine.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` is a *default*; AQE coalesces it down
  at small SF and a real cluster raises it via submit conf.
- Arrow enabled: every pandas-UDF boundary moves columnar batches, which
  is the only Python path we allow in hot loops.
- Session timezone pinned to UTC so timestamp semantics are stable across
  engines (the reference's timestamps are tz-naive, cuDF
  ``types.hpp:216-220``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds pygdf_spark/: Python workers put it on their
# path, so codecs, UDFs and Python data sources unpickle from any cwd.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """Half the host's physical RAM, at most 24g: a heap the host
    cannot back gets the JVM OOM-killed before Spark reports an OOM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, ram // 2 >> 20)}m"


_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
    # read as long and convert via queries._util.events_ts (µs precision,
    # matching cuDF's TIMESTAMP_NANOSECONDS → our documented truncation,
    # SURVEY.md §1.2 / types.hpp:216-220).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": _driver_memory(),
    "spark.ui.enabled": "false",
    "spark.sql.ansi.enabled": "false",
}


def get_spark(app_name: str = "pygdf-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``local[$SPARK_GRAFT_CPUS]`` in this environment; on a real cluster the
    master/deploy conf comes from spark-submit and everything here still
    applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, (_PKG_ROOT, os.environ.get("PYTHONPATH")))
    )
    # deployment seam: ';'-separated k=v pairs override the local
    # defaults (a cluster submit would use --conf; this keeps local
    # experiments and scale-dependent settings parameterised)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, extra.split(";")):
        k, _, v = pair.partition("=")
        conf[k.strip()] = v.strip()
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the TPC-H-ish parquet tables from ``sf_dir`` as a dict and
    register each as a temp view (so ``spark.sql`` works too)."""
    from pygdf_spark.queries._util import read_parquet

    all_names = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_parquet(spark, path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
