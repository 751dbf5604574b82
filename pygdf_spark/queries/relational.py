"""Core relational queries: scan → filter → aggregate → sort / top-k,
plus dedup and null-handling (SURVEY.md §2.1, §2.2, §2.4, §2.6, §2.7).

Reference parity notes (cited into /root/reference):
- boolean-mask filter  : cudf::apply_boolean_mask  cpp/include/cudf/stream_compaction.hpp:202
- query(expr)          : python/cudf/cudf/utils/queryutils.py:38 (numba kernel) → Catalyst-native filter
- groupby().agg        : python/cudf/cudf/core/groupby/groupby.py:140
- nlargest (top-k)     : python/cudf/cudf/core/dataframe.py:4142 → TakeOrderedAndProject
- drop_duplicates      : cpp/include/cudf/stream_compaction.hpp:238 (keep=first)
- value_counts / mode  : python/cudf/cudf/core/series.py:5091 / :4690
- isin                 : cpp/include/cudf/search.hpp:164
- where / mask         : cpp/include/cudf/copying.hpp:705 (copy_if_else)
- clip                 : cpp/include/cudf/replace.hpp:202
- replace_nulls/fillna : cpp/include/cudf/replace.hpp:50; core/frame.py:1193

All double aggregates go through exact integer or decimal sums (see the
_util docstring) so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pygdf_spark.queries._util import T, cents, dsum, isum


# --- TPC-H Q1 shape: the flagship scan→filter→agg→sort -----------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 in exact INTEGER-CENTS arithmetic: every money/qty
    column quantizes to int64 cents map-side (``cents``: round(x*100)
    half away from zero, as DuckDB's round does), per-row products stay
    in int64 (|price_c·(100-disc_c)·(100+tax_c)| ≲ 1e11), and each SUM
    runs in ``isum``'s two int64 lanes, exact for any group of up to
    2**31 rows (a larger group raises). One order-independent rounding
    at the output (int → double → scale divide, mirrored verbatim in
    the oracle).

    No row does BigDecimal work. ``F.round`` on a double runs
    ``BigDecimal.valueOf(v).setScale(...)`` (a ``Double.toString``) per
    value, and a ``SUM(CAST(x AS DECIMAL(25,0)))`` reads and writes a
    ``BigInteger`` in its decimal(35,0) buffer per row; with both gone
    the row pipeline is codegen'd int64 and q1 at sf0.1 takes 0.9 s
    instead of 1.7 s (4 vCPU). That made the round-robin ``spread`` of
    the 1-task lineitem scan a loss (1.6 s with it; even at 10× sf0.1),
    so the scan is read as it is."""
    li = T(spark, sf_dir, "lineitem")

    qc, pc = cents("l_quantity"), cents("l_extendedprice")
    dc, tc = cents("l_discount"), cents("l_tax")
    du = pc * (F.lit(100).cast("long") - dc)          # 1e-4 dollar units
    cu = du * (F.lit(100).cast("long") + tc)          # 1e-6 dollar units
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (isum(qc).cast("double") / 100.0).alias("sum_qty"),
            (isum(pc).cast("double") / 100.0).alias("sum_base_price"),
            (isum(du).cast("double") / 10000.0).alias("sum_disc_price"),
            (isum(cu).cast("double") / 1000000.0).alias("sum_charge"),
            ((isum(qc).cast("double") / 100.0) / n).alias("avg_qty"),
            ((isum(pc).cast("double") / 100.0) / n).alias("avg_price"),
            ((isum(dc).cast("double") / 100.0) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qc) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM(pc) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(pc * (100 - dc)) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM(pc * (100 - dc) * (100 + tc)) AS DOUBLE) / 1000000.0 AS sum_charge,
       (CAST(SUM(qc) AS DOUBLE) / 100.0) / COUNT(*) AS avg_qty,
       (CAST(SUM(pc) AS DOUBLE) / 100.0) / COUNT(*) AS avg_price,
       (CAST(SUM(dc) AS DOUBLE) / 100.0) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS dc,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tc
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q6_forecast_revenue(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # integer-cents product (see q1): price_c·disc_c in 1e-4
            # dollar units, exact int64-lane sum, one output rounding
            (
                isum(cents("l_extendedprice") * cents("l_discount"))
                .cast("double")
                / 10000.0
            ).alias("revenue")
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              * CAST(round(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


# --- filters / predicates ----------------------------------------------

def filter_isin(spark, sf_dir):
    """isin (search.hpp:164) + projection; aggregated so the result is small."""
    o = T(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .filter(~F.col("o_orderstatus").isin("P"))
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total", 2))
        .orderBy("o_orderpriority", "o_orderstatus")
    )


FILTER_ISIN_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND o_orderstatus NOT IN ('P')
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
"""


def where_mask_clip(spark, sf_dir):
    """copy_if_else (copying.hpp:705) as when/otherwise + clip (replace.hpp:202)."""
    c = T(spark, sf_dir, "customer")
    tier = F.when(F.col("c_acctbal") < 0, F.lit("neg")).when(
        F.col("c_acctbal") < 5000, F.lit("mid")
    ).otherwise(F.lit("high"))
    clipped = F.greatest(F.lit(0.0), F.least(F.lit(9000.0), F.col("c_acctbal")))
    return (
        c.select(F.col("c_custkey"), tier.alias("tier"), clipped.alias("bal_clip"))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("bal_clip"), "tot_clip", 2))
        .orderBy("tier")
    )


WHERE_MASK_CLIP_SQL = """
SELECT tier, COUNT(*) AS n, CAST(SUM(CAST(bal_clip AS DECIMAL(18,2))) AS DOUBLE) AS tot_clip
FROM (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS tier,
         GREATEST(0.0, LEAST(9000.0, c_acctbal)) AS bal_clip
  FROM customer
) GROUP BY tier ORDER BY tier
"""


def fillna_coalesce(spark, sf_dir):
    """Nulls synthesized with nullif (the driver tables are null-free),
    then replace_nulls (replace.hpp:50) via coalesce + drop_nulls
    (stream_compaction.hpp:69) via na.drop."""
    e = T(spark, sf_dir, "events")
    withnull = e.withColumn("v", F.nullif(F.col("value"), F.lit(1.63)))
    filled = withnull.withColumn("v_filled", F.coalesce(F.col("v"), F.lit(-1.0)))
    return (
        filled.groupBy("event_type")
        .agg(
            F.count("v").alias("n_valid"),
            F.count(F.lit(1)).alias("n_all"),
            dsum(F.col("v_filled"), "sum_filled", 2),
        )
        .orderBy("event_type")
    )


FILLNA_SQL = """
SELECT event_type,
       COUNT(NULLIF(value, 1.63)) AS n_valid,
       COUNT(*) AS n_all,
       CAST(SUM(CAST(COALESCE(NULLIF(value, 1.63), -1.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_filled
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- sorts / top-k ------------------------------------------------------

def topk_orders(spark, sf_dir):
    """nlargest (dataframe.py:4142) → orderBy desc + limit; Spark compiles
    to TakeOrderedAndProject (no global sort at scale). Unique tiebreak on
    o_orderkey makes the row set deterministic."""
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


def sort_multi_nulls(spark, sf_dir):
    """Multi-key sort with explicit null ordering (sorting.hpp:114;
    null_order types.hpp:119-160). Nulls synthesized; result limited to a
    deterministic slice."""
    s = T(spark, sf_dir, "supplier")
    withnull = s.withColumn("nk", F.nullif(F.col("s_nationkey") % 7, F.lit(3)))
    return (
        withnull.orderBy(
            F.col("nk").asc_nulls_first(),
            F.col("s_acctbal").desc(),
            F.col("s_suppkey").asc(),
        )
        .select("s_suppkey", "nk", "s_acctbal")
        .limit(50)
    )


SORT_MULTI_SQL = """
SELECT s_suppkey, NULLIF(s_nationkey % 7, 3) AS nk, s_acctbal
FROM supplier
ORDER BY nk ASC NULLS FIRST, s_acctbal DESC, s_suppkey ASC
LIMIT 50
"""


# --- dedup / distinct / value_counts -----------------------------------

def dedup_distinct(spark, sf_dir):
    """Series.unique / distinct (stream_compaction.hpp:238 subset path)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


DEDUP_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def dedup_keep_first(spark, sf_dir):
    """drop_duplicates(keep='first') (stream_compaction.hpp:238;
    frame.py:2155): first row per key under an explicit order — the
    order-sensitive variant Spark's dropDuplicates can't express, rebuilt
    as row_number over a window."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


DEDUP_KEEP_FIRST_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def value_counts(spark, sf_dir):
    """Series.value_counts (series.py:5091)."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("val").asc())
    )


VALUE_COUNTS_SQL = """
SELECT o_orderpriority AS val, COUNT(*) AS cnt FROM orders
GROUP BY o_orderpriority ORDER BY cnt DESC, val ASC
"""


def mode_value(spark, sf_dir):
    """Series.mode (series.py:4690): most frequent value, ties broken by
    value — count + ordered limit."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_quantity").alias("mode_val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("mode_val").asc())
        .limit(1)
    )


MODE_SQL = """
SELECT l_quantity AS mode_val, COUNT(*) AS cnt FROM lineitem
GROUP BY l_quantity ORDER BY cnt DESC, mode_val ASC LIMIT 1
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q6_forecast_revenue": q6_forecast_revenue,
    "filter_isin": filter_isin,
    "where_mask_clip": where_mask_clip,
    "fillna_coalesce": fillna_coalesce,
    "topk_orders": topk_orders,
    "sort_multi_nulls": sort_multi_nulls,
    "dedup_distinct": dedup_distinct,
    "dedup_keep_first": dedup_keep_first,
    "value_counts": value_counts,
    "mode_value": mode_value,
}

ORACLE = {
    "q1_pricing_summary": Q1_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "filter_isin": FILTER_ISIN_SQL,
    "where_mask_clip": WHERE_MASK_CLIP_SQL,
    "fillna_coalesce": FILLNA_SQL,
    "topk_orders": TOPK_SQL,
    "sort_multi_nulls": SORT_MULTI_SQL,
    "dedup_distinct": DEDUP_DISTINCT_SQL,
    "dedup_keep_first": DEDUP_KEEP_FIRST_SQL,
    "value_counts": VALUE_COUNTS_SQL,
    "mode_value": MODE_SQL,
}
