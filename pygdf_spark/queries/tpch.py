"""TPC-H-shaped analytics suite over the driver's reduced star schema.

The driver testdata is "TPC-H-ish": no ``partsupp`` table, no
``l_commitdate``/``l_receiptdate``/``l_shipmode``, no ``c_phone``/
comments. Queries whose predicates depend on a missing column are
ADAPTED — the *plan shape* (join graph, correlated subquery, exists/
not-exists, scalar-subquery threshold, disjunctive pushdown) is kept,
only the filter column changes. Each docstring names the adaptation.

Reference parity: the reference engine ships these shapes as its own
query benchmarks (python dataframe translations of TPC-H); here each
is expressed declaratively so Catalyst picks broadcast vs shuffle
joins (AQE re-plans at runtime) — small dims (`nation`, `region`,
filtered `part`) are explicitly broadcast, fact-fact joins shuffle on
their keys.

Determinism discipline (see queries/_util.py): every money aggregate
runs in exact integer cents (1e-2/1e-4/1e-6 dollar units) with an
exact ``isum`` and ONE final int->double cast mirrored verbatim in
the DuckDB oracle; every LIMIT sits under a total-order ORDER BY
(unique tiebreak columns) so both engines pick identical rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pygdf_spark.queries._util import T, cents, isum, sql_cents


def _rev_u():
    """Per-row revenue in 1e-4 dollar units: price_c * (100 - disc_c),
    int64 (|.| <= ~1e9) — whole-stage-codegen-friendly."""
    return cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )


def _drev(alias: str):
    """Order-independent double revenue: exact sum of unit revenue,
    one cast, one scale divide."""
    return (isum(_rev_u()).cast("double") / 10000.0).alias(alias)


# SQL fragment mirroring _rev_u / _drev (DuckDB sums BIGINT exactly in
# HUGEINT; the final CAST(.. AS DOUBLE)/10000.0 matches Spark's
# decimal->double cast bit-for-bit).
_SQL_REV_U = (
    f"{sql_cents('l_extendedprice')}"
    f" * (100 - {sql_cents('l_discount')})"
)


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# --- Q2: best supplier per part (correlated max) -----------------------

def q2_best_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier via correlated subquery),
    adapted: no partsupp, so part-supplier pairs come from distinct
    lineitem (l_partkey, l_suppkey) and the correlated MIN(supplycost)
    becomes MAX(s_acctbal) per part. Region EUROPE, STANDARD parts.

    Plan: distinct pair shuffle once, dims broadcast, per-part max via
    partial/final agg then equi-join back (no window over the fact)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 25)
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    pairs = li.select("l_partkey", "l_suppkey").distinct()
    cand = (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(s, pairs.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("p_partkey", "p_retailprice", "s_name", "s_acctbal", "n_name")
    )
    best = cand.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.max("s_acctbal").alias("best_bal")
    )
    return (
        cand.join(
            best,
            (cand.p_partkey == best.bp) & (cand.s_acctbal == best.best_bal),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_retailprice")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


Q2_SQL = """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
cand AS (
  SELECT p_partkey, p_retailprice, s_name, s_acctbal, n_name
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 25
    AND r_name = 'EUROPE')
SELECT s_acctbal, s_name, n_name, p_partkey, p_retailprice
FROM cand c
WHERE s_acctbal = (SELECT MAX(s_acctbal) FROM cand c2
                   WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


# --- Q4: order priority checking (EXISTS semi-join) --------------------

def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape, adapted: no l_commitdate/l_receiptdate, so the
    EXISTS predicate is "some lineitem shipped >60 days after the
    order date" (late shipment). Semi-join keeps the orders scan's
    row-identity (no fanout), then one small agg by priority."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = T(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q5: local supplier volume (6-way join) ----------------------------

def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 verbatim (all columns exist): revenue by nation where
    the customer and supplier share a nation, region ASIA, 1996.
    Fact-fact joins shuffle on orderkey/custkey; nation/region
    broadcast; the c_nationkey = s_nationkey residual rides the join."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_drev("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = f"""
SELECT n_name, CAST(SUM({_SQL_REV_U}) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- Q7: volume shipping between two nations ---------------------------

def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 verbatim: bidirectional trade volume between NATION_1
    and NATION_2 by ship year. Two broadcast nation joins (aliased),
    disjunctive nation-pair filter AFTER both (Catalyst pushes the
    per-side IN (n1,n2) prefilters into the broadcasts). NOTE: empty at
    sf0.001 (no cross-trade in the window at that tier) — the non-
    vacuous oracle comparisons are the sf0.01/sf0.1/sf1 gates (4 rows
    at sf0.01+)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(_drev("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(rev_u) AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         {_SQL_REV_U} AS rev_u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- Q8: market share --------------------------------------------------

def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape, adapted: p_type vocabulary is single words
    (ECONOMY) and the "nation" brand under measure is NATION_3.
    Share = NATION_3-supplied revenue / all revenue per order year in
    customer-region AMERICA. Numerator and denominator are both exact
    integer sums; ONE double division at the end (deterministic)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    ns = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    nc = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    rev = _rev_u()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == r.r_regionkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                isum(
                    F.when(F.col("supp_nation") == "NATION_3", rev)
                    .otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / isum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_u ELSE 0 END) AS DOUBLE)
       / CAST(SUM(rev_u) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         n1.n_name AS supp_nation,
         {_SQL_REV_U} AS rev_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01')
GROUP BY o_year
ORDER BY o_year
"""


# --- Q9: product type profit -------------------------------------------

def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape, adapted: no ps_supplycost, so profit =
    revenue - p_retailprice*quantity (retail price as the cost proxy).
    Both terms are exact 1e-4-dollar integers; the subtraction stays
    integral, only the final sum casts to double."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation")
    amount_u = _rev_u() - cents("p_retailprice") * cents("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((isum(amount_u).cast("double") / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
SELECT nation, o_year, CAST(SUM(amount_u) AS DOUBLE) / 10000.0 AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         {_SQL_REV_U}
         - {sql_cents('p_retailprice')}
           * {sql_cents('l_quantity')} AS amount_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%')
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --- Q10: returned item reporting --------------------------------------

def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 verbatim: top 20 customers by lost revenue from
    returned items (l_returnflag = 'R') in 1996Q4. Total-order LIMIT
    tiebreak on c_custkey (unique)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_drev("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_SQL_REV_U}) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q11: important stock (scalar-subquery threshold) ------------------

def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape, adapted: no partsupp, so per-part "value" =
    sum(extendedprice*quantity) shipped by NATION_7 suppliers, kept if
    > 3x the average per-part value (the original's fixed 0.01% of
    total empties out as part count grows — a scale-free ratio keeps
    the sf0.01+ tiers populated; sf0.001's tiny part sample still
    yields 0 rows, so the non-vacuous comparisons are sf0.01 and up).
    The threshold compare runs on exact integers (value_u * n_parts >
    3 * total_u) — no float epsilon. The one-row total broadcasts back
    over the per-part aggregate (scalar cross join)."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val_u = cents("l_extendedprice") * cents("l_quantity")
    per = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(isum(val_u).alias("value_u"))
    )
    total = per.agg(
        F.sum("value_u").alias("total_u"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per.join(F.broadcast(total))
        .filter(F.col("value_u") * F.col("n_parts") > 3 * F.col("total_u"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_u").cast("double") / 10000.0).alias("value"),
        )
        .orderBy(F.desc("value"), "p_partkey")
    )


Q11_SQL = f"""
WITH per AS (
  SELECT l_partkey,
         SUM({sql_cents('l_extendedprice')}
             * {sql_cents('l_quantity')}) AS value_u
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, CAST(value_u AS DOUBLE) / 10000.0 AS value
FROM per, (SELECT SUM(value_u) AS total_u, COUNT(*) AS n_parts FROM per) t
WHERE value_u * n_parts > 3 * total_u
ORDER BY value DESC, p_partkey
"""


# --- Q12: priority class counts ----------------------------------------

def q12_priority_class(spark, sf_dir):
    """TPC-H Q12 shape, adapted: no l_shipmode, so lines ship-dated in
    1997 are grouped by l_returnflag and split into high-priority
    (1-URGENT / 2-HIGH) vs low-priority order counts (the CASE-sum
    pivot survives)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = T(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- Q13: customer order-count distribution ----------------------------

def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape, adapted: the comment-pattern exclusion becomes
    o_orderpriority <> '5-LOW' (a join-side filter, like the original's
    NOT LIKE). Left join keeps order-less customers in the c_count=0
    bucket; two cascaded small aggs."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q14: promotion effect ---------------------------------------------

def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 verbatim (p_type 'PROMO' exists in the vocabulary):
    promo revenue share for 1996-09, as 100 * exact-int / exact-int
    with one double division."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    # every part row joins (no selective filter exists for Q14), so the
    # build side must NOT be force-broadcast — part scales with SF; a
    # 2-column projection joins shuffle-side and AQE still converts to
    # broadcast when the slice is actually small
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev_u()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * isum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / isum(rev).cast("double")
            ).alias("promo_revenue")
        )
    )


Q14_SQL = f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_u ELSE 0 END) AS DOUBLE)
       / CAST(SUM(rev_u) AS DOUBLE) AS promo_revenue
FROM (
  SELECT p_type, {_SQL_REV_U} AS rev_u
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
    AND l_shipdate < TIMESTAMP '1996-10-01')
"""


# --- Q15: top supplier (scalar max subquery) ---------------------------

def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 verbatim: supplier(s) with max revenue in 1996Q1. The
    max-equality test runs on the exact integer unit sums (bigint ==
    bigint; the original's double equality is a correctness trap), the
    double conversion happens only in the output column."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    s = T(spark, sf_dir, "supplier")
    per = li.groupBy("l_suppkey").agg(isum(_rev_u()).alias("rev_u"))
    mx = per.agg(F.max("rev_u").alias("max_u"))
    return (
        per.join(F.broadcast(mx), per.rev_u == F.col("max_u"))
        .join(s, per.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_u").cast("double") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = f"""
WITH per AS (
  SELECT l_suppkey, SUM({_SQL_REV_U}) AS rev_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(rev_u AS DOUBLE) / 10000.0 AS total_revenue
FROM per JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_u = (SELECT MAX(rev_u) FROM per)
ORDER BY s_suppkey
"""


# --- Q16: supplier count by part attributes ----------------------------

def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape, adapted: part-supplier pairs from lineitem;
    the "customer complaints" NOT IN exclusion becomes suppliers with
    negative account balance (an anti-join, same plan shape)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(bad, pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 15, 25, 35, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


# --- Q17: small-quantity-order revenue (correlated avg) ----------------

def q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 verbatim: revenue/7 from Brand#2 lines with quantity
    under 20% of that part's average. The correlated AVG becomes a
    per-part (sum, count) agg joined back; the 0.2*avg comparison
    cross-multiplies to exact integers: 5 * qty_c * n < sum_qty_c."""
    p = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    li = T(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    stats = li.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.sum(cents("l_quantity")).alias("sum_qc"),
        F.count(F.lit(1)).alias("n_li"),
    )
    return (
        li.join(stats, li.l_partkey == stats.sp)
        .filter(cents("l_quantity") * 5 * F.col("n_li") < F.col("sum_qc"))
        .agg(
            (
                isum(cents("l_extendedprice")).cast("double")
                / 100.0
                / 7.0
            ).alias("avg_yearly")
        )
    )


Q17_SQL = f"""
WITH li2 AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#2'),
stats AS (
  SELECT l_partkey AS sp,
         SUM({sql_cents('l_quantity')}) AS sum_qc,
         COUNT(*) AS n_li
  FROM li2 GROUP BY l_partkey)
SELECT CAST(SUM({sql_cents('l_extendedprice')}) AS DOUBLE)
       / 100.0 / 7.0 AS avg_yearly
FROM li2 JOIN stats ON l_partkey = sp
WHERE {sql_cents('l_quantity')} * 5 * n_li < sum_qc
"""


# --- Q18: large-volume customers ---------------------------------------

def q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 verbatim: orders whose total quantity exceeds 250
    (sf-appropriate threshold; HAVING-IN becomes a semi-joinable agg).
    o_totalprice passes through untouched (raw parquet doubles hash
    identically); sum_qty is exact cents / 100."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.sum(cents("l_quantity")).alias("sum_qc"))
        .filter(F.col("sum_qc") > 250 * 100)
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.bk)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("sum_qc").cast("double") / 100.0).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qc AS DOUBLE) / 100.0 AS sum_qty
FROM (
  SELECT l_orderkey, SUM({sql_cents('l_quantity')}) AS sum_qc
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM({sql_cents('l_quantity')}) > 25000) big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# --- Q19: disjunctive discounted revenue -------------------------------

def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 verbatim shape: three OR'd (brand, size-range,
    qty-range) branches over the part join. Catalyst extracts the
    common l_partkey = p_partkey conjunct so the join stays an
    equi-join with a residual disjunction (not a BNLJ)."""
    li = T(spark, sf_dir, "lineitem")
    # part-only projection of the disjunction pre-filters the build side
    # (a selective slice — broadcasting the UNFILTERED part would force
    # the whole table onto every executor at scale); the residual
    # quantity conjuncts apply post-join
    part_pred = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(20, 50))
    )
    p = (
        T(spark, sf_dir, "part")
        .filter(part_pred)
        .select("p_partkey", "p_brand", "p_size")
    )
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & q.between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(10, 30)
            & q.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(20, 50)
            & q.between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(_drev("revenue"))
    )


Q19_SQL = f"""
SELECT CAST(SUM({_SQL_REV_U}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


# --- Q20: dominant suppliers of red parts ------------------------------

def q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape, adapted: no partsupp availqty, so the nested
    threshold becomes "supplier shipped > 2x the average per-supplier
    volume of some red part" — per-(part,supplier) agg, per-part
    rollup, exact integer cross-multiplied compare (qty_ps * n_supp >
    2 * qty_part), then a semi-join into supplier. Scale-free: stays
    populated as supplier count per part grows."""
    li = T(spark, sf_dir, "lineitem")
    red = T(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = T(spark, sf_dir, "supplier")
    sq = (
        li.join(
            F.broadcast(red.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(cents("l_quantity")).alias("sq"))
    )
    pq = sq.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    dominant = (
        sq.join(pq, sq.l_partkey == pq.pk)
        .filter(F.col("sq") * F.col("ns") > 2 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = f"""
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
sq AS (
  SELECT l_partkey, l_suppkey,
         SUM({sql_cents('l_quantity')}) AS sq
  FROM lineitem JOIN red ON p_partkey = l_partkey
  GROUP BY l_partkey, l_suppkey),
pq AS (SELECT l_partkey, SUM(sq) AS tq, COUNT(*) AS ns FROM sq GROUP BY l_partkey)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM sq JOIN pq USING (l_partkey)
  WHERE sq * ns > 2 * tq)
ORDER BY s_suppkey
"""


# --- Q21: suppliers who shipped last on multi-supplier orders ----------

def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape, adapted: no receipt/commit dates, so "kept the
    order waiting" = supplier whose latest line in a finished
    ('F') multi-supplier order is the order's latest ship date (the
    EXISTS other-supplier / NOT-EXISTS later-shipper pair collapses to
    per-(order,supplier) max vs per-order max + supplier count —
    timestamps compare exactly, no float hazard)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    om = ls.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max("smax").alias("omax"), F.count(F.lit(1)).alias("ns")
    )
    blamed = (
        ls.join(om, ls.l_orderkey == om.ok)
        .filter((F.col("ns") >= 2) & (F.col("smax") == F.col("omax")))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
WITH ls AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS smax
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY l_orderkey, l_suppkey),
om AS (SELECT l_orderkey, MAX(smax) AS omax, COUNT(*) AS ns FROM ls GROUP BY l_orderkey)
SELECT s_name, numwait
FROM (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM ls JOIN om USING (l_orderkey)
  WHERE ns >= 2 AND smax = omax
  GROUP BY l_suppkey)
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --- Q22: global sales opportunity -------------------------------------

def q22_global_sales(spark, sf_dir):
    """TPC-H Q22 shape, adapted: no c_phone, so the country code is
    c_nationkey % 10 (odd codes selected); "no orders" becomes no
    orders since 1999 (every sf0.01 customer has some order). The
    scalar avg threshold compares exactly: bal_c * n > sum_c."""
    c = T(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("int")
    ).filter(F.col("cntrycode").isin(1, 3, 5, 7, 9))
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("1999-01-01")
    )
    avgpos = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(cents("c_acctbal")).alias("sum_c"),
            F.count(F.lit(1)).alias("n_c"),
        )
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(avgpos))
        .filter(cents("c_acctbal") * F.col("n_c") > F.col("sum_c"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (isum(cents("c_acctbal")).cast("double") / 100.0).alias(
                "totacctbal"
            ),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = f"""
WITH sel AS (
  SELECT c_custkey, c_acctbal,
         CAST(c_nationkey % 10 AS INT) AS cntrycode,
         {sql_cents('c_acctbal')} AS bal_c
  FROM customer
  WHERE CAST(c_nationkey % 10 AS INT) IN (1, 3, 5, 7, 9)),
avgpos AS (
  SELECT SUM(bal_c) AS sum_c, COUNT(*) AS n_c FROM sel WHERE c_acctbal > 0)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal
FROM sel, avgpos
WHERE bal_c * n_c > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


QUERIES = {
    "q2_best_supplier": q2_best_supplier,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_stock": q11_important_stock,
    "q12_priority_class": q12_priority_class,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_cnt": q16_supplier_cnt,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_volume_customer": q18_large_volume_customer,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_global_sales": q22_global_sales,
}

ORACLE = {
    "q2_best_supplier": Q2_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q11_important_stock": Q11_SQL,
    "q12_priority_class": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_cnt": Q16_SQL,
    "q17_small_quantity": Q17_SQL,
    "q18_large_volume_customer": Q18_SQL,
    "q19_discounted_revenue": Q19_SQL,
    "q20_potential_promotion": Q20_SQL,
    "q21_waiting_supplier": Q21_SQL,
    "q22_global_sales": Q22_SQL,
}
