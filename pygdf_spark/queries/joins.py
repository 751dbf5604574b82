"""Join queries — all six equi-join types, θ-joins, null-safe keys,
index-aligned join (SURVEY.md §2.3).

Reference parity (all hash joins in cuDF: cpp/src/join/hash_join.cu;
θ-joins nested-loop cpp/src/join/nested_loop_join.cuh; Python entry
DataFrame.merge core/dataframe.py:4365 → core/join/join.py:60):
- inner/left/full      : cpp/include/cudf/join.hpp:71/:156/:248
- left_semi/left_anti  : join.hpp:333/:412 (_lib/join.pyx:54)
- cross_join           : join.hpp:491
- conditional (AST θ)  : join.hpp:685-846
- null_equality::EQUAL : types.hpp:152 → eqNullSafe (<=>)

Scale notes: dims (region/nation/customer-slices) broadcast under the
64 MB threshold; fact-fact joins shuffle on keys with AQE skew handling.
Catalyst picks BHJ/SMJ/BNLJ — parity with cuDF's hash/nested-loop split.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pygdf_spark.queries._util import T, cents, dec, isum


def join_inner_q3(spark, sf_dir):
    """TPC-H Q3 shape: two shuffled inner joins + agg + top-k."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    # integer-cents revenue (see q1_pricing_summary): int64 per-row
    # product, exact int64-lane sum, one output rounding — the decimal
    # multiply chain was the dominant per-row cost at 32x
    du = cents("l_extendedprice") * (F.lit(100).cast("long") - cents("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .join(li, o.o_orderkey == li.l_orderkey, "inner")
        .groupBy("o_orderkey", "o_orderdate")
        .agg((isum(du).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


JOIN_INNER_Q3_SQL = """
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
              * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""


def join_left_outer(spark, sf_dir):
    """left join keeping unmatched customers (join.hpp:156); per-customer
    order count with zero-fill."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")).cast("double"), F.lit(0.0)).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
"""


def join_full_outer(spark, sf_dir):
    """full outer join (join.hpp:248) with deliberately partial overlap."""
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 20)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") >= 10)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nk", "full")
        .select(
            F.col("nk"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nk")
    )


JOIN_FULL_SQL = """
SELECT COALESCE(c.nk, s.nk) AS nk, COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer WHERE c_nationkey < 20 GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier WHERE s_nationkey >= 10 GROUP BY 1) s
ON c.nk = s.nk
ORDER BY nk
"""


def join_semi(spark, sf_dir):
    """left_semi (join.hpp:333): customers having an urgent order."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
    )


JOIN_SEMI_SQL = """
SELECT COUNT(*) AS n_customers, CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


def join_anti(spark, sf_dir):
    """left_anti (join.hpp:412): customers with no orders at all."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


JOIN_ANTI_SQL = """
SELECT COUNT(*) AS n_customers_no_orders
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def join_cross(spark, sf_dir):
    """cross_join (join.hpp:491): region × region pairs."""
    r1 = T(spark, sf_dir, "region").select(F.col("r_name").alias("a"))
    r2 = T(spark, sf_dir, "region").select(F.col("r_name").alias("b"))
    return r1.crossJoin(r2).orderBy("a", "b")


JOIN_CROSS_SQL = """
SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2 ORDER BY a, b
"""


def join_conditional(spark, sf_dir):
    """conditional join (join.hpp:685): equi key + AST θ-predicate
    (s_acctbal > c_acctbal), counted per nation."""
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "inner")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("nk")
    )


JOIN_CONDITIONAL_SQL = """
SELECT s_nationkey AS nk, COUNT(*) AS n_pairs
FROM supplier JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
GROUP BY s_nationkey ORDER BY nk
"""


def join_conditional_semi(spark, sf_dir):
    """conditional LEFT SEMI join (join.hpp:809
    conditional_left_semi_join): suppliers with at least one same-nation
    customer of strictly lower balance — existence only, no pair
    fan-out. Spark plans the mixed equi+θ predicate as a semi hash join
    on the equi key with the θ residual, so the probe never materializes
    matches (the same work-shape as the reference's gather-of-left-only
    output)."""
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "left_semi")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .orderBy("nk")
    )


def join_conditional_left(spark, sf_dir):
    """conditional LEFT join (join.hpp:747 conditional_left_join):
    every supplier row survives; matches require same nation AND a
    top-tier customer (c_acctbal > 8000) of strictly lower balance.
    Unmatched suppliers keep NULL right columns — counted via
    COUNT(c_custkey) = 0. Spark plans equi-key hash join with the θ
    residual; the left preservation is free (no second pass)."""
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
    j = s.join(
        c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "left"
    )
    # cents BIGINT, not DECIMAL: Decimal objects hash differently than
    # DuckDB's float64 decimals in the driver compare (dtype audit)
    best_cents = (F.max("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    return (
        j.groupBy("s_suppkey")
        .agg(
            F.count("c_custkey").alias("n_matched"),
            best_cents.alias("best_bal_cents"),
        )
        .orderBy("s_suppkey")
    )


JOIN_CONDITIONAL_LEFT_SQL = """
SELECT s_suppkey, COUNT(c.c_custkey) AS n_matched,
       CAST(CAST(MAX(c.c_acctbal) AS DECIMAL(12,2)) * 100 AS BIGINT) AS best_bal_cents
FROM supplier s
LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 8000) c
  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
GROUP BY s_suppkey ORDER BY s_suppkey
"""


JOIN_CONDITIONAL_SEMI_SQL = """
SELECT s_nationkey AS nk, COUNT(*) AS n_supp
FROM supplier s
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = s.s_nationkey AND s.s_acctbal > c.c_acctbal)
GROUP BY s_nationkey ORDER BY nk
"""


def join_conditional_anti(spark, sf_dir):
    """conditional LEFT ANTI join (join.hpp:846
    conditional_left_anti_join): suppliers with NO same-nation
    top-tier customer (c_acctbal > 9950) of lower balance — the
    complement of the semi set; the reference's test matrix pairs the
    two (cpp/tests/join/conditional_join_tests.cu). The right-side
    filter keeps the anti set non-degenerate at every SF (unfiltered,
    every supplier matches some customer and the result is empty)."""
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9950)
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "left_anti")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .orderBy("nk")
    )


JOIN_CONDITIONAL_ANTI_SQL = """
SELECT s_nationkey AS nk, COUNT(*) AS n_supp
FROM supplier s
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_acctbal > 9950
                    AND c.c_nationkey = s.s_nationkey AND s.s_acctbal > c.c_acctbal)
GROUP BY s_nationkey ORDER BY nk
"""


def join_theta_bnlj(spark, sf_dir):
    """pure non-equi θ-join → BroadcastNestedLoopJoin (cuDF
    nested_loop_join.cuh)."""
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    return (
        r.join(n, r.r_regionkey < n.n_regionkey, "inner")
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_gt"))
        .orderBy("r_name")
    )


JOIN_THETA_SQL = """
SELECT r_name, COUNT(*) AS n_gt FROM region JOIN nation ON r_regionkey < n_regionkey
GROUP BY r_name ORDER BY r_name
"""


def join_nullsafe(spark, sf_dir):
    """null-safe key equality (types.hpp:152 null_equality::EQUAL) —
    nulls synthesized, <=> matches null with null."""
    n1 = T(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_regionkey"), F.lit(2)).alias("k1"), F.col("n_nationkey").alias("id1")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_regionkey"), F.lit(2)).alias("k2"), F.col("n_nationkey").alias("id2")
    )
    return (
        n1.join(n2, n1.k1.eqNullSafe(n2.k2), "inner")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum(F.col("id1") + F.col("id2")).alias("id_sum"))
    )


JOIN_NULLSAFE_SQL = """
SELECT COUNT(*) AS n_pairs, CAST(SUM(id1 + id2) AS BIGINT) AS id_sum
FROM (SELECT NULLIF(n_regionkey, 2) AS k1, n_nationkey AS id1 FROM nation) a
JOIN (SELECT NULLIF(n_regionkey, 2) AS k2, n_nationkey AS id2 FROM nation) b
ON a.k1 IS NOT DISTINCT FROM b.k2
"""


def join_index_aligned(spark, sf_dir):
    """cuDF DataFrame.join aligns on the row index (core/dataframe.py:4365
    vicinity); our convention materializes the index as a key column —
    here two projections of orders re-aligned on o_orderkey."""
    a = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    b = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = a.join(b, "o_orderkey", "inner")
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("checksum_price"),
        F.min("o_orderdate").alias("min_date"),
    )


JOIN_INDEX_SQL = """
SELECT COUNT(*) AS n,
       CAST(SUM(CAST(a.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS checksum_price,
       MIN(b.o_orderdate) AS min_date
FROM (SELECT o_orderkey, o_totalprice FROM orders) a
JOIN (SELECT o_orderkey, o_orderdate FROM orders) b USING (o_orderkey)
"""


def join_salted_skew(spark, sf_dir):
    """Salted equi-join (operators/skew.py): lineitem⋈nation on a
    deliberately hot key (nationkey % 3 — 3 values across the whole
    fact table). The salt fans each hot key over 8 reducers; results
    are identical to the plain join, which is exactly what the oracle
    checks."""
    from pygdf_spark.operators.skew import salted_join
    from pygdf_spark.queries._util import T, dec

    li = T(spark, sf_dir, "lineitem").withColumn(
        "hot_key", (F.col("l_suppkey") % 3).cast("int")
    )
    n = T(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") % 3).cast("int").alias("hot_key"), "n_name"
    ).filter(F.col("n_nationkey") < 3)
    joined = salted_join(li, n, key="hot_key", salt_from="l_orderkey", n_salt=8)
    return (
        joined.groupBy("hot_key", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
        .orderBy("hot_key", "n_name")
    )


JOIN_SALTED_SQL = """
SELECT hot_key, n_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM (SELECT *, CAST(l_suppkey % 3 AS INT) AS hot_key FROM lineitem) li
JOIN (SELECT CAST(n_nationkey % 3 AS INT) AS hot_key, n_name
      FROM nation WHERE n_nationkey < 3) n USING (hot_key)
GROUP BY hot_key, n_name ORDER BY hot_key, n_name
"""


def join_range_bucketed(spark, sf_dir):
    """point-in-interval join with NO equi-key: sampled orders define
    30-day windows, lineitem shipdates are the points. Implemented via
    `operators/range_join.py` overlap-bucketing (interval → covering
    epoch buckets, point → its one bucket, equi-join + residual) — the
    distributed replacement for cuDF's conditional_inner_join
    (join.hpp:685) whose cross-product shape can't scale out. W = 7
    days ≈ len/4, so each interval replicates ≤ 5×."""
    from pygdf_spark.operators.range_join import range_join

    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 997 == 0)
    iv = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("win_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("win_end"),
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    j = range_join(li, iv, "l_shipdate", "win_start", "win_end", 7 * 86400)
    return (
        j.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_in_window"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("o_orderkey")
    )


JOIN_RANGE_SQL = """
SELECT o.o_orderkey, COUNT(*) AS n_in_window,
       MIN(l.l_shipdate) AS first_ship, MAX(l.l_shipdate) AS last_ship
FROM orders o
JOIN lineitem l
  ON l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
WHERE o.o_orderkey % 997 = 0
GROUP BY o.o_orderkey ORDER BY o.o_orderkey
"""


QUERIES = {
    "join_range_bucketed": join_range_bucketed,
    "join_salted_skew": join_salted_skew,
    "join_inner_q3": join_inner_q3,
    "join_left_outer": join_left_outer,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_cross": join_cross,
    "join_conditional": join_conditional,
    "join_conditional_left": join_conditional_left,
    "join_conditional_semi": join_conditional_semi,
    "join_conditional_anti": join_conditional_anti,
    "join_theta_bnlj": join_theta_bnlj,
    "join_nullsafe": join_nullsafe,
    "join_index_aligned": join_index_aligned,
}

ORACLE = {
    "join_range_bucketed": JOIN_RANGE_SQL,
    "join_salted_skew": JOIN_SALTED_SQL,
    "join_inner_q3": JOIN_INNER_Q3_SQL,
    "join_left_outer": JOIN_LEFT_SQL,
    "join_full_outer": JOIN_FULL_SQL,
    "join_semi": JOIN_SEMI_SQL,
    "join_anti": JOIN_ANTI_SQL,
    "join_cross": JOIN_CROSS_SQL,
    "join_conditional": JOIN_CONDITIONAL_SQL,
    "join_conditional_left": JOIN_CONDITIONAL_LEFT_SQL,
    "join_conditional_semi": JOIN_CONDITIONAL_SEMI_SQL,
    "join_conditional_anti": JOIN_CONDITIONAL_ANTI_SQL,
    "join_theta_bnlj": JOIN_THETA_SQL,
    "join_nullsafe": JOIN_NULLSAFE_SQL,
    "join_index_aligned": JOIN_INDEX_SQL,
}
