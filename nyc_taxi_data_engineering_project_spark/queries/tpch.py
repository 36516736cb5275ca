"""The complete TPC-H suite (Q1-Q22) over the driver testdata.

These are the canonical analytics workloads for this star schema —
showcase keys proving the engine runs the textbook warehouse queries,
adapted only where the pared-down testdata lacks a column (Q3 has no
``o_shippriority``; the queries that consume partsupp / commit-receipt
dates / shipmode / phone derive the same query shapes from lineitem and
equivalent columns — see the round-2 section below). Dates follow the
testdata's 1995-2001 domain.

Physical posture per query:
- Q1: single scan + 4-group hash aggregate — pure map-side partial
  aggregation, the pattern every engine benchmarks first.
- Q3: fact⋈fact join (lineitem⋈orders) shuffled on orderkey with the
  customer dim broadcast; top-k via TakeOrderedAndProject.
- Q5: the 6-table snowflake — big joins shuffled, the always-tiny dims
  (nation/region) broadcast, customer/supplier strategy left to AQE,
  one hash aggregate.
- Q6: scan + predicate + single global agg; the predicates all push to
  the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import fx
from ..catalog import register_views, table
from ..registry import query

_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                      AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_base_price,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2))))
                      AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
           FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2))))
                      AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_charge,
           FLOOR(AVG(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           FLOOR(AVG(l_discount) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY 1, 2
    """,
)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary report (adapted dates).

    The three money sums accumulate in DECIMAL (the b3 posture): at the
    K=1000 probe (~600 M rows, SCALE.md §13) the double sums drifted
    ~2.6 absolute on a ~2e13 total — engine-specific accumulation order
    at double's precision floor, exactly the fx.py residual class —
    which is past the 2-dp rounding quantum, so the pricing LEDGER key
    pays for exactness like b3 does. Prices/discounts/taxes carry ≤2
    real decimals, so the 6-dp decimal products and their 38-digit
    accumulation are exact and identical in both engines at any scale.
    sum_qty stays a double SUM deliberately: quantities are integers,
    and integer-valued double addition is exact (order-independent)
    until 2^53 — no drift class exists for it. The avgs keep
    double+fround per the documented policy (relative drift ~1e-13 on a
    ~0.05 mean is 9 orders below the 4-dp quantum)."""
    dec_price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_m_disc = (F.lit(1).cast("decimal(3,2)")
                  - F.col("l_discount").cast("decimal(4,2)"))
    one_p_tax = (F.lit(1).cast("decimal(3,2)")
                 + F.col("l_tax").cast("decimal(4,2)"))
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            fx.fround(F.sum(dec_price).cast("double"), 2)
            .alias("sum_base_price"),
            fx.fround(F.sum(dec_price * one_m_disc).cast("double"), 2)
            .alias("sum_disc_price"),
            fx.fround(
                F.sum(dec_price * one_m_disc * one_p_tax).cast("double"), 2
            ).alias("sum_charge"),
            fx.fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fx.fround(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           FLOOR(SUM({_REV.replace('l_', 'l.l_')}) * 100.0 + 0.5) / 100.0
               AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY 1, 3
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority (adapted: testdata has no
    o_shippriority column; dates moved into the data's domain)."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(fx.fround(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


@query(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name AS nation,
           FLOOR(CAST(SUM({fx.sql_dec(_REV.replace('l_', 'l.l_'))})
                      AS DOUBLE) * 100.0 + 0.5) / 100.0
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier volume: the 6-table snowflake with the
    local-supplier condition (customer and supplier share a nation).
    Broadcast hints only on nation/region (always tiny); customer and
    supplier scale with the fact tables, so their join strategy is left
    to AQE — broadcast under the threshold at test SF, shuffle beyond.
    Per-nation revenue accumulates in decimal (fx.dec): 5 fixed groups
    over the whole fact table is the deterministic drift class the
    K=1000 battery tripped on q19 (fx.py module docstring)."""
    rev = fx.dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(fx.fround(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT FLOOR(CAST(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(18,4))) AS DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecasting revenue change — scan-heavy single aggregate;
    every predicate reaches the parquet scan. The single global money
    sum accumulates in decimal (fx.dec): the largest-group member of
    the deterministic drift class (fx.py module docstring)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(fx.fround(F.sum(fx.dec(F.col("l_extendedprice")
                                    * F.col("l_discount")))
                       .cast("double"), 2).alias("revenue"))
    )


@query(
    "tpch_q10",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           FLOOR(SUM({_REV.replace('l_', 'l.l_')}) * 100.0 + 0.5) / 100.0
               AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting (adapted: no address/phone/
    comment columns in the testdata): top-20 customers by revenue lost to
    returns in a quarter. lineitem⋈orders shuffles on orderkey; customer
    joins AQE-decided; nation broadcast; top-k via
    TakeOrderedAndProject."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(fx.fround(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


@query(
    "tpch_q14",
    oracle="""
    SELECT FLOOR(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(l.l_extendedprice
                                            * (1 - l.l_discount)
                                            AS DECIMAL(18,4))
                                  ELSE CAST(0 AS DECIMAL(18,4)) END)
                              AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion effect (adapted: testdata p_type is a flat
    category, so equality instead of LIKE 'PROMO%'): share of monthly
    revenue from promo parts. The date filter prunes lineitem at the
    scan; part joins on partkey (broadcast under threshold at test SF,
    shuffle at scale via AQE); one global aggregate. Both sums of the
    global ratio accumulate in decimal (fx.dec) — the 4-dp quantum
    makes this a tight member of the drift class (fx.py)."""
    rev = fx.dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    p = table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            fx.fround(100.0 * F.sum(promo).cast("double")
                      / F.sum(rev).cast("double"), 4)
            .alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q4",
    oracle="""
    SELECT o.o_orderpriority AS orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority checking (adapted: testdata has no
    l_commitdate/l_receiptdate, so "late" means shipped >60 days after
    the order date). EXISTS compiles to a left-semi join on orderkey with
    the non-equi lateness predicate evaluated on the join — one shuffle,
    no row duplication, the planner never materializes the multi-match.

    r7: the fact side carries the TRANSITIVE bound Catalyst cannot
    derive across the non-equi condition — ``l_shipdate > o_orderdate +
    60 days`` with ``o_orderdate >= 1996-07-01`` implies ``l_shipdate >
    1996-08-30`` — pushed to the parquet scan (row-group min/max
    pruning + 24% fewer rows into the semi-join shuffle on this data;
    the win grows with the fact's date span). Sound for any row the
    join could keep; the exact per-row predicate still runs on the
    join."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        # derived: min(o_orderdate) + 60 days; see docstring
        .filter(F.col("l_shipdate") > F.lit("1996-08-30"))
    )
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '5-LOW'
          GROUP BY 1) per_cust
    GROUP BY 1
    """,
)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer order-count distribution (adapted: the
    o_comment NOT LIKE filter becomes a priority filter — testdata has no
    comment columns). Left join keeps zero-order customers; COUNT of the
    nullable right key counts only matches. Two hash aggregates, both
    map-side partial; the second one's input is one row per customer."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             FLOOR(SUM({_REV}) * 100.0 + 0.5) / 100.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier: quarterly revenue CTE reused twice (once
    per supplier, once for its global max). Revenue is rounded *before*
    the max comparison — floor(x·100+0.5)/100 is the identical IEEE
    expression in both engines, so the equality join is bit-stable
    (raw double sums differ in the last ulp by summation order).
    The scalar max broadcasts; the supplier dim joins the tiny agg."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(fx.fround(F.sum(rev), 2).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mr"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev),
                     revenue.total_revenue == max_rev.mr)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
    )


@query(
    "tpch_q17",
    oracle="""
    SELECT FLOOR(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0 * 100.0 + 0.5) / 100.0
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
          FROM lineitem GROUP BY 1) pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_type = 'SMALL'
      AND l.l_quantity < pa.qty_cut
    """,
)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue (adapted: p_container →
    p_type). The correlated per-part AVG subquery is decorrelated into a
    pre-aggregate joined back on partkey — at scale this is one extra
    partial-agg pass instead of a per-row subquery, and both lineitem
    sides shuffle on the same key so AQE can reuse the exchange. The
    global money sum accumulates in decimal (fx.dec, scale 2: raw 2-dp
    price, no product) before the /7.0 happens once in double (fx.py).
    qty_cut stays double on both engines: 0.2*AVG is a per-part
    FILTER threshold computed identically (sum of small integer-valued
    doubles is exact, one shared multiply/divide) — not an output."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    )
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(part_avg, li.l_partkey == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(fx.fround(F.sum(fx.dec("l_extendedprice", scale=2))
                       .cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q18",
    oracle="""
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice AS totalprice,
           SUM(l.l_quantity) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY 1 HAVING SUM(l_quantity) > 180)
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers: the IN-subquery over a HAVING
    aggregate becomes a left-semi join against the big-order keys. The
    per-orderkey quantity aggregate and the semi join share the orderkey
    shuffle; quantities are integral doubles so the >180 cut and the
    final SUM are exact in both engines."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 180)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )


@query(
    "tpch_q19",
    oracle=f"""
    SELECT {fx.sql_round(
        f"CAST(SUM({fx.sql_dec(_REV.replace('l_', 'l.l_'))}) AS DOUBLE)", 2
    )} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted revenue (adapted: container/shipmode columns
    absent, so the disjunction is brand × size × quantity). The three
    OR-arms stay one equi join on partkey with the disjunctive residual
    evaluated post-join in codegen — Catalyst additionally derives the
    common `p_size <= 15` and brand-IN prefilters onto the part scan.
    The global money sum accumulates in decimal (fx.dec): THE key the
    r7 full-battery K=1000 probe tripped — 0.06 drift on a 1.6e11
    double sum, 6x past the 2-dp quantum (fx.py module docstring)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    arm = (
        ((b == "Brand#11") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#14") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#17") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = fx.dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(arm)
        .agg(fx.fround(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Round 2: the remaining 10 TPC-H queries, completing the 22-query suite.
# The testdata has no partsupp table and lacks l_commitdate / l_receiptdate
# / l_shipmode / c_phone, so Q2/Q9/Q11/Q12/Q16/Q20/Q21/Q22 keep their
# canonical query SHAPE (correlated min-subquery, nested-aggregate HAVING,
# conditional counts, NOT-IN exclusion, dominant-supplier semi-join chain,
# exists/not-exists self-join, anti-join against the fact) with the
# part-supplier relationship derived from lineitem and equivalent columns
# substituted — each adaptation is documented on the query. Same precedent
# as Q3/Q4 above (SURVEY.md §2 "adapted where the testdata lacks a column").
# ---------------------------------------------------------------------------


@query(
    "tpch_q2",
    oracle="""
    WITH cost AS (
        SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
               FLOOR(MIN(l.l_extendedprice / l.l_quantity) * 1000000.0 + 0.5)
                   / 1000000.0 AS supply_cost
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1, 2
    )
    SELECT FLOOR(s.s_acctbal * 100.0 + 0.5) / 100.0 AS acctbal,
           s.s_name AS supp_name, n.n_name AS nation,
           p.p_partkey AS partkey, p.p_name AS part_name,
           c.supply_cost
    FROM part p
    JOIN cost c     ON p.p_partkey = c.partkey
    JOIN supplier s ON c.suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
      AND c.supply_cost = (SELECT MIN(c2.supply_cost) FROM cost c2
                           WHERE c2.partkey = p.p_partkey)
    ORDER BY acctbal DESC, nation, supp_name, partkey
    LIMIT 100
    """,
)
def tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier (adapted: no partsupp table —
    supply cost is MIN(l_extendedprice/l_quantity) over each supplier's
    lineitems, keeping the correlated-min-subquery shape).

    Decorrelation: the per-part minimum is a second aggregate over the
    same `cost` frame, joined back on (partkey, cost = min) — the
    correlated scalar subquery never re-executes per row. Cost is
    floor-rounded to 6 dp BEFORE the equality (the q15 rule: raw double
    aggregates differ across engines in the last ulp). Dims broadcast;
    the only big shuffle is the lineitem cost aggregation."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cost = (
        table(spark, sf_dir, "lineitem")
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            fx.fround(F.min(F.col("l_extendedprice")
                            / F.col("l_quantity")), 6)
            .alias("supply_cost")
        )
    )
    min_cost = cost.groupBy(F.col("partkey").alias("mc_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    # fresh aliased projections for the output joins — `s`/`n` already
    # feed the cost subtree, and reusing the same Dataset objects makes
    # the join columns ambiguous (Spark self-join resolution)
    s_out = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("out_suppkey"), "s_name", "s_acctbal",
        F.col("s_nationkey").alias("out_natkey"),
    )
    n_out = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("out_nkey"), "n_name"
    )
    return (
        cost.join(
            min_cost,
            (cost.partkey == min_cost.mc_partkey)
            & (cost.supply_cost == min_cost.min_cost),
        )
        .join(p, F.col("partkey") == p.p_partkey)
        .join(s_out, F.col("suppkey") == F.col("out_suppkey"))
        .join(F.broadcast(n_out), F.col("out_natkey") == F.col("out_nkey"))
        .select(
            fx.fround(F.col("s_acctbal"), 2).alias("acctbal"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            "supply_cost",
        )
        .orderBy(
            F.desc("acctbal"), F.asc("nation"), F.asc("supp_name"),
            F.asc("partkey"),
        )
        .limit(100)
    )


@query(
    "tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           FLOOR(CAST(SUM({fx.sql_dec(_REV.replace('l_', 'l.l_'))})
                      AS DOUBLE) * 100.0 + 0.5) / 100.0
               AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume shipping: revenue between two trading nations by
    direction and year. Both nation dims broadcast (pre-filtered to the
    two trading partners, so the fact rows that survive the join are cut
    before the aggregate); the date predicate pushes to the scan.
    4 fixed groups over the fact table → decimal accumulation (fx.dec,
    fx.py module docstring)."""
    rev = fx.dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    pair = ["NATION_1", "NATION_2"]
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(pair)
    ).select(F.col("n_nationkey").alias("n1_key"),
             F.col("n_name").alias("supp_nation"))
    n2 = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(pair)
    ).select(F.col("n_nationkey").alias("n2_key"),
             F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(fx.fround(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


@query(
    "tpch_q8",
    oracle=f"""
    SELECT o_year,
           FLOOR(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END)
                      AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               {fx.sql_dec(_REV.replace('l_', 'l.l_'))} AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8 national market share: NATION_1's share of ECONOMY-part
    revenue sold into AMERICA, by order year. The share is a conditional
    sum over the same aggregate rows — one pass, no second join. Part is
    pre-filtered then broadcast; nation/region always broadcast. Both
    sums of the share accumulate in decimal (fx.dec) and the division
    happens once on the exact totals cast to double — a 6-dp-quantum
    ratio is the tightest target in the drift class (fx.py)."""
    rev = fx.dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("nation"),
    )
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("volume"), "nation",
        )
    )
    dec_zero = F.lit(0).cast("decimal(18,4)")
    return vol.groupBy("o_year").agg(
        fx.fround(
            F.sum(F.when(F.col("nation") == "NATION_1",
                         F.col("volume")).otherwise(dec_zero))
            .cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


@query(
    "tpch_q9",
    oracle=f"""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           FLOOR(CAST(SUM(CAST({_REV.replace('l_', 'l.l_')}
                               - 0.5 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(18, 4))) AS DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS sum_profit
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit (adapted: no partsupp, so supply
    cost is 0.5·p_retailprice per unit instead of ps_supplycost — the
    profit expression keeps its rev-minus-cost shape). Grouped by
    supplier nation × order year; part pre-filtered on the name pattern
    and broadcast; one fact-fact shuffle on orderkey.

    Decimal-stable aggregate: every per-row profit is an exact 4-dp
    decimal (2-dp money × 2-dp discount factors), so casting rows to
    DECIMAL(18,4) is lossless in both engines and the SUM becomes exact
    decimal addition — order-independent, immune to the floor-boundary
    ulp flips a double sum hits when the true total lands on a .005
    rounding boundary (observed at sf0.001: 219973.625)."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    profit = (
        rev - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(fx.fround(F.sum(profit).cast("double"), 2).alias("sum_profit"))
    )


_Q11_SQL = f"""
WITH pv AS (
    SELECT l.l_partkey AS partkey,
           SUM({fx.sql_dec(_REV.replace('l_', 'l.l_'))}) AS value
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_5'
    GROUP BY 1
)
SELECT partkey, CAST(FLOOR(value * 100.0 + 0.5) / 100.0 AS DOUBLE) AS value
FROM pv
WHERE value > 0.001 * (SELECT CAST(SUM(value) AS DECIMAL(28,4)) FROM pv)
"""
# r7 decimal posture (fx.py module docstring): per-part value AND the
# global threshold total accumulate exactly — a double drift in the
# total would move the 0.001 cutoff and flip borderline parts in or
# out (row MEMBERSHIP, not just value drift). The r8 refinement (ADVICE
# finding): the bare product 0.001 * SUM(value) derives DECIMAL(38,7)
# in DuckDB (exact) but overflows Spark's width-38 cap (sum-of-sums is
# 38,4 → product wants 43,7 → precision-loss rule caps at 38,6), a
# ≤5e-7 threshold gap that could flip a borderline part's membership.
# CAST(SUM(value) AS DECIMAL(28,4)) is lossless (a global money sum is
# ~24 digits under the width) and pins the product at DECIMAL(32,7) —
# exact and identical on BOTH engines (verified by type probe); the
# only double arithmetic left is the shared FLOOR rounding of each
# emitted value.


@query("tpch_q11", oracle=_Q11_SQL)
def tpch_q11(spark, sf_dir):
    """TPC-H Q11 important stock (adapted: no partsupp — part value is
    NATION_5-supplied revenue from lineitem instead of
    ps_supplycost·ps_availqty, keeping the nested-aggregate HAVING
    against a fraction of the global scalar).

    One SQL text serves both engines (the c30/q22 pattern): the global
    total is a true scalar subquery — Catalyst executes it once and
    embeds the result as a literal in the HAVING filter, no join
    operator at all. Every DataFrame spelling of a scalar threshold
    (bare crossJoin, and even an equi join on a constant key, which the
    optimizer folds) physically plans as BroadcastNestedLoopJoin, which
    the plan sweep bans outside justified non-equi keys. The per-part
    aggregate is one partial-agg shuffle; the subquery's re-aggregate
    runs over the same tiny grouped frame."""
    register_views(spark, sf_dir, ("lineitem", "supplier", "nation"))
    return spark.sql(_Q11_SQL)


@query(
    "tpch_q12",
    oracle="""
    SELECT l.l_returnflag AS returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipping-mode priority (adapted: no l_shipmode /
    commit/receipt dates — lines shipped in 1997 grouped by returnflag,
    keeping the conditional high/low priority line counts). The CASE
    sums are codegen'd conditional aggregates, one pass after the
    orderkey join."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = table(spark, sf_dir, "orders")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q16",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16(spark, sf_dir):
    """TPC-H Q16 parts/supplier relationship (adapted: the part-supplier
    relation comes from lineitem, and the excluded-supplier subquery is
    the negative-balance set instead of complaint comments — keeping the
    NOT-IN exclusion + COUNT DISTINCT shape). The exclusion compiles to
    a broadcast ANTI join (tiny set); part is pre-filtered then
    broadcast; the distinct count shuffles once on the group key."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        table(spark, sf_dir, "lineitem")
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "tpch_q20",
    oracle="""
    WITH shipped AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               SUM(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ), tot AS (
        SELECT partkey, SUM(qty) AS total_qty FROM shipped GROUP BY 1
    )
    SELECT DISTINCT s.s_name AS supp_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
      AND s.s_suppkey IN (
          SELECT sh.suppkey
          FROM shipped sh
          JOIN tot t ON sh.partkey = t.partkey
          JOIN part p ON sh.partkey = p.p_partkey
          WHERE p.p_name LIKE 'small%' AND sh.qty > 0.3 * t.total_qty
      )
    """,
)
def tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential part promotion (adapted: no ps_availqty —
    a supplier qualifies by having shipped >30% of a small-part's 1997
    volume, keeping the semi-join chain over nested aggregates).
    Both aggregates are over the same pre-aggregated `shipped` frame
    (partial-agg shuffle on (part, supp), then a re-agg on part);
    qualification is an equi join partkey-to-partkey; the supplier
    filter is a broadcast SEMI join — no row explosion anywhere.
    l_quantity is integral so the 0.3·total comparison is exact in
    double on any summation order."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).agg(F.sum("l_quantity").alias("qty"))
    tot = shipped.groupBy(F.col("partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    qualifying = (
        shipped.join(tot, F.col("partkey") == F.col("t_partkey"))
        .join(p, F.col("partkey") == p.p_partkey)
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .select("suppkey")
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(qualifying, F.col("s_suppkey") == F.col("suppkey"),
              "left_semi")
        .select(F.col("s_name").alias("supp_name"))
        .distinct()
    )


@query(
    "tpch_q21",
    oracle="""
    WITH order_stats AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_ret
        FROM lineitem GROUP BY 1
    )
    SELECT s.s_name AS supp_name, COUNT(*) AS numwait
    FROM (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
    ) ret
    JOIN order_stats os ON ret.l_orderkey = os.l_orderkey
    JOIN supplier s ON ret.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE os.n_supp > 1 AND os.n_ret = 1 AND n.n_name = 'NATION_2'
    GROUP BY 1
    ORDER BY numwait DESC, supp_name
    LIMIT 100
    """,
)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21 suppliers who kept orders waiting (adapted: no
    commit/receipt dates — "late" is a returned line, so the query
    finds suppliers who were the ONLY supplier with returned lines on a
    multi-supplier finalized order). The canonical EXISTS (another
    supplier on the order) + NOT EXISTS (another supplier also late) is
    decorrelated into ONE aggregate reading lineitem exactly once,
    using the min/max trick (r9, verdict ask 3 — the K=1000 aggregate
    floor): over non-null keys, ``COUNT(DISTINCT s) > 1 ⟺ MIN(s) ≠
    MAX(s)`` and ``COUNT(DISTINCT r) = 1 ⟺ MIN(r) = MAX(r) AND MIN(r)
    IS NOT NULL`` — and when it holds, MIN(r) IS the unique late
    supplier. That replaces the r7 two-level form (level-1 dedup to
    (orderkey, suppkey) pairs, level-2 re-count) with a single
    groupBy(orderkey) whose state is FOUR LONGS per group: no pair-
    dedup hash table over ~4×orders rows, maximal map-side combine
    (min/max fold rows into partial state before the shuffle moves
    anything), one shuffle keyed on orderkey carrying constant-size
    partials. The min/max spelling also matches the oracle's
    COUNT(DISTINCT) null semantics exactly (both ignore NULL keys,
    which the pair-dedup form silently counted). Measured at K=1000:
    see SCALE.md §16 (this rewrite attacks the 155 s aggregate floor
    the layout probe isolated — the shuffle was already free there).
    Skew posture: a mega-order's lines fold into four longs inside
    each map task before the per-order reduce sees them — strictly
    better than spreading pairs."""
    R = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    qualifying = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("min_s"),
            F.max("l_suppkey").alias("max_s"),
            F.min(R).alias("min_r"),
            F.max(R).alias("max_r"),
        )
        .filter(
            (F.col("min_s") != F.col("max_s"))
            & F.col("min_r").isNotNull()
            & (F.col("min_r") == F.col("max_r"))
        )
        .select("l_orderkey", F.col("min_r").alias("ret_supp"))
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    ret = qualifying.join(o, F.col("l_orderkey") == o.o_orderkey,
                          "left_semi")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    return (
        ret.join(s, F.col("ret_supp") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("supp_name"))
        .limit(100)
    )


_Q22_SQL = """
SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
       CAST(FLOOR(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  * 100.0 + 0.5) / 100.0 AS DOUBLE)
           AS totacctbal
FROM customer c
WHERE c.c_nationkey IN (10, 11, 12, 13, 14, 15)
  AND c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                 AS DOUBLE) / COUNT(*)
                     FROM customer
                     WHERE c_acctbal > 0.0
                       AND c_nationkey IN (10, 11, 12, 13, 14, 15))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY 1
"""
# r7 decimal posture (fx.py): the per-country totals and the global
# average-balance threshold both ride exact decimal sums. The AVG is
# spelled SUM/COUNT explicitly because the engines type AVG(DECIMAL)
# differently (Spark DECIMAL(p+4,s+4), DuckDB DOUBLE); an exact
# decimal sum cast to double then one shared division is identical
# IEEE arithmetic on both — a drifting threshold would flip borderline
# customers' membership, q11's instability class.


@query("tpch_q22", oracle=_Q22_SQL)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 global sales opportunity (adapted: no c_phone — the
    country code is c_nationkey; and because every testdata customer has
    at least one order, "has never ordered" becomes "dormant since
    2001" — keeping the scalar-average subquery + NOT EXISTS anti join).

    One SQL text serves both engines (the c30 pattern): Catalyst plans
    the threshold as a true scalar subquery — executed once, its result
    embedded as a literal in the main plan's filter, NO join operator
    (a DataFrame crossJoin spelling of the same scalar compiles to
    BroadcastNestedLoopJoin, which the plan sweep bans) — and rewrites
    the NOT EXISTS to a left ANTI join on custkey against the
    date-pruned orders scan."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_Q22_SQL)
