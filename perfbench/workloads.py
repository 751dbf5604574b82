"""The benchmark's workloads: which public calls each pass makes, on
which data, and how each output is checked.

Every workload offers the same small interface to ``run.py``:
``setup``, ``plan`` (one pass's operations in a seeded order),
``final_checks`` (checks of the state the check pass leaves),
``end_pass`` (per-pass bookkeeping) and ``layer_metrics``
(workload-specific per-layer numbers for the traced run).
"""

from __future__ import annotations

import os

from pygdf_spark.queries import registry
from pygdf_spark.testing import canonicalize, compare_query, duckdb_con

QUERIES, ORACLE = registry()


class Op:
    """One operation of a pass. ``call`` is the timed builder call and
    returns a DataFrame to force with the ``noop`` sink, or None when
    the call itself completes the work. ``check`` runs it once, untimed,
    and returns an error message or None; without one, the check pass
    runs ``call`` like a timed pass. Operations of one name share their
    per-operation median."""

    __slots__ = ("name", "call", "check")

    def __init__(self, name, call, check=None):
        self.name = name
        self.call = call
        self.check = check


def _registry_op(name: str) -> Op:
    def call(ctx):
        return QUERIES[name](ctx.spark, ctx.sf_dir)

    def check(ctx):
        r = compare_query(ctx.spark, name, QUERIES[name], ORACLE.get(name), ctx.check_dir)
        return None if r["ok"] else r["error"]

    return Op(name, call, check)


def _rounded(df):
    """Canonical rows with floats cut to 12 significant digits: the
    veneer's float sums are checked to a tolerance, not bit-exactly."""
    rows = canonicalize(df)
    return [
        tuple(("n", float(f"{c[1]:.12g}")) if c[0] == "n" else c for c in row)
        for row in rows
    ]


def _veneer_op(name: str, build, sql: str) -> Op:
    """A ``pygdf_spark`` compat-surface call; checked against DuckDB
    on the same parquet files."""

    def call(ctx):
        return build(ctx.spark, ctx.sf_dir)

    def check(ctx):
        # the frame's index column is the veneer's, not part of the result
        mine = build(ctx.spark, ctx.check_dir).drop(INDEX_COL).toPandas()
        con = duckdb_con(ctx.check_dir)
        try:
            theirs = con.sql(sql).df()
        finally:
            con.close()
        if sorted(mine.columns) != sorted(theirs.columns):
            return f"columns {sorted(mine.columns)} != {sorted(theirs.columns)}"
        a, b = _rounded(mine), _rounded(theirs)
        if a != b:
            return f"{len(a)} rows vs oracle {len(b)}; first difference " \
                   f"{next((x, y) for x, y in zip(a + [None], b + [None]) if x != y)}"
        return None

    return Op(name, call, check)


INDEX_COL = "__row_id"


def _frame(spark, sf_dir, table):
    import pygdf_spark as gd

    return gd.from_spark(spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")))


def _veneer_merge(spark, sf_dir):
    o, c = _frame(spark, sf_dir, "orders"), _frame(spark, sf_dir, "customer")
    return o.merge(c, left_on="o_custkey", right_on="c_custkey", how="inner")._sdf


def _veneer_groupby_agg(spark, sf_dir):
    li = _frame(spark, sf_dir, "lineitem")
    return li.groupby("l_returnflag").agg(
        {"l_quantity": ["sum", "mean"], "l_extendedprice": ["sum", "max"]}
    )._sdf


VENEER = [
    ("veneer_merge", _veneer_merge,
     "SELECT * FROM orders JOIN customer ON o_custkey = c_custkey"),
    ("veneer_groupby_agg", _veneer_groupby_agg,
     "SELECT l_returnflag, SUM(l_quantity) AS sum_l_quantity, "
     "AVG(l_quantity) AS mean_l_quantity, "
     "SUM(l_extendedprice) AS sum_l_extendedprice, "
     "MAX(l_extendedprice) AS max_l_extendedprice "
     "FROM lineitem GROUP BY l_returnflag"),
]


class Olap:
    """TPC-H-shaped registry queries, two veneer calls and one
    Arrow/pandas-UDF query at sf0.1; the check pass compares each with
    the DuckDB oracle at ``check_sf``."""

    sf = 0.1
    check_sf = 0.001
    #: untimed passes before timing (see README.md, warm-up)
    warm_passes = 1
    names = (
        "q1_pricing_summary", "q6_forecast_revenue", "join_inner_q3",
        "q5_local_supplier_volume", "q18_large_volume_customer",
        "udf_apply_rows_charge",
    )

    def __init__(self, scale: str):
        self.order = None
        if scale == "tiny":
            self.sf = self.check_sf = 0.001

    def ops(self) -> list[Op]:
        return [_registry_op(n) for n in self.names] + [_veneer_op(*v) for v in VENEER]

    def setup(self, ctx) -> None:
        missing = [n for n in self.names if n not in QUERIES]
        if missing:
            raise KeyError(f"not in the query registry: {missing}")

    def plan(self, ctx, rng, check: bool = False) -> list[Op]:
        """The check pass keeps the listed order. The other passes all
        run one seeded order, drawn for the first of them, so every
        pass of a run does the same work."""
        ops = self.ops()
        if check:
            return ops
        if self.order is None:
            self.order = rng.sample(range(len(ops)), len(ops))
        return [ops[i] for i in self.order]

    def final_checks(self, ctx) -> list:
        return []

    def end_pass(self, ctx) -> None:
        pass

    def layer_metrics(self, tracer, latencies) -> dict:
        return {}


def _lake_ingest(scale: str):
    from lake import LakeIngest  # lake.py imports Op from this module

    return LakeIngest(scale)


WORKLOADS = {
    "olap_sf01": Olap,
    "lake_ingest_mix": _lake_ingest,
}
