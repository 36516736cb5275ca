"""Group C query keys (part 1: C1-C17) — the full relational surface the
reference exposes by delegating queries to Postgres (``README.md:79-82``;
SURVEY.md §2 group C). Everything here is built-in Spark — the work is the
query definitions and their physical posture, not custom machinery.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from .. import fx
from ..catalog import register_views, table
from ..registry import query


@query(
    "c1_smj_selfjoin",
    oracle="""
    SELECT l1.l_returnflag AS returnflag,
           COUNT(*) AS n_pairs,
           FLOOR(SUM(l1.l_quantity + l2.l_quantity) * 100.0 + 0.5) / 100.0
               AS pair_qty
    FROM lineitem l1
    JOIN lineitem l2
      ON l1.l_orderkey = l2.l_orderkey
     AND l1.l_linenumber < l2.l_linenumber
    GROUP BY 1
    """,
)
def c1_smj_selfjoin(spark, sf_dir):
    """Large-large equi self-join (trips⋈trips analog). ``merge`` hint
    forces sort-merge — at 100 TB both sides shuffle-sort on l_orderkey;
    no broadcast is possible. The extra `<` predicate is applied post-merge.
    Skew note: order sizes are bounded (≤7 lines), so no hot key."""
    l1 = table(spark, sf_dir, "lineitem").alias("l1")
    l2 = table(spark, sf_dir, "lineitem").alias("l2")
    return (
        l1.hint("merge")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_linenumber") < F.col("l2.l_linenumber")),
        )
        .groupBy(F.col("l1.l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            fx.fround(F.sum(F.col("l1.l_quantity")
                            + F.col("l2.l_quantity")), 2)
            .alias("pair_qty"),
        )
    )


@query(
    "c3_semi_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = 'BUILDING')
    """,
)
def c3_semi_join(spark, sf_dir):
    """Left semi join — EXISTS/IN. The scale-critical property is the
    join TYPE (one probe per outer row, no duplication); the build side
    is filtered customer, which scales with the corpus, so broadcast-vs-
    shuffle is AQE's runtime-size call, not a forced hint."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey")
    )


@query(
    "c4_anti_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_acctbal > 5000)
    """,
)
def c4_anti_join(spark, sf_dir):
    """Left anti join — NOT EXISTS. Same posture as c3: the anti TYPE is
    the property; the SF-scaling build side is AQE's sizing call."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .select("o_orderkey", "o_custkey")
    )


@query(
    "c5_full_outer",
    oracle="""
    WITH big_cust AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 8000
    ), busy AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 13
    )
    SELECT COALESCE(b.c_custkey, u.o_custkey) AS custkey,
           b.c_acctbal AS acctbal,
           u.n_orders AS n_orders
    FROM big_cust b FULL OUTER JOIN busy u ON b.c_custkey = u.o_custkey
    """,
)
def c5_full_outer(spark, sf_dir):
    """Full outer join — rows surviving on either side only. Full outer
    cannot broadcast (both sides must see unmatched rows): shuffle-hash /
    sort-merge on the key, which AQE picks by size."""
    big = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select("c_custkey", "c_acctbal")
    )
    busy = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 13)
    )
    return (
        big.join(busy, big.c_custkey == busy.o_custkey, "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            "n_orders",
        )
    )


@query(
    "c6_cross_join",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
)
def c6_cross_join(spark, sf_dir):
    """Cross join (cartesian) — only sane when one side is tiny; planned
    as BroadcastNestedLoopJoin here. Guard rails at scale: never cross-join
    two fact tables (see f3's pre-filtered variant for the ANN use)."""
    r = table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    n = table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return r.crossJoin(n)


@query(
    "c7_range_join",
    oracle="""
    SELECT b.band_name AS band, COUNT(*) AS n_parts,
           FLOOR(CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2)))
                      AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_price
    FROM part p
    JOIN (VALUES ('low', 900.0, 930.0), ('mid', 930.0, 970.0),
                 ('high', 970.0, 1000.0)) b(band_name, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY 1
    """,
)
def c7_range_join(spark, sf_dir):
    """Theta/range join — non-equi band lookup. The bands table is a
    literal dim → BroadcastNestedLoopJoin with the inequality evaluated
    in codegen. At scale, a banded fact uses the same broadcast (bands are
    always small); for fact-fact range joins see c8's bucketing note.

    The per-band price sums accumulate in decimal (fx.dec, scale 2: raw
    2-dp money, no product): 3 fixed bands over the whole part table is
    the deterministic drift class (fx.py module docstring) — per-group
    row counts grow with the data, so double accumulation drifts past
    the 2-dp quantum at scale (r8 ADVICE finding)."""
    p = table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("low", 900.0, 930.0), ("mid", 930.0, 970.0), ("high", 970.0, 1000.0)],
        "band_name string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy(F.col("band_name").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fx.fround(F.sum(fx.dec("p_retailprice", scale=2))
                      .cast("double"), 2).alias("total_price"),
        )
    )


@query(
    "c8_asof_join",
    oracle="""
    SELECT p.event_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def c8_asof_join(spark, sf_dir):
    """As-of join (nearest earlier event) — Spark has no native operator
    (SURVEY.md §2 C8). Scalable composition: tag both streams, union, and
    carry the last click timestamp forward with a running
    ``last(ignorenulls)`` window — one shuffle on (user_id), no range
    explosion, works at any size (vs the naive range-join + row_number
    which is quadratic per key). DuckDB's native ASOF JOIN is the oracle.
    """
    ev = table(spark, sf_dir, "events")
    # JOIN semantics for null keys (r6 edge finding): the window
    # composition's partitionBy treats null user_id as a GROUP (null-user
    # purchases would see null-user clicks), but an as-of JOIN never
    # matches null keys. Null-user clicks therefore can't match anything
    # and are dropped; null-user purchases survive the left join with a
    # null last_click — byte-identical to DuckDB's native ASOF LEFT JOIN.
    # Null-ts clicks need no filter: a null click_ts never updates
    # last(ignorenulls), same as a null comparison never matching.
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select(
        "user_id", "ts", F.col("ts").alias("click_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("click_ts"),
        "event_id",
    )
    # clicks sort before purchases at equal ts (p.ts >= c.ts is inclusive)
    tagged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        tagged.withColumn(
            "last_click", F.last("click_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("event_id").isNotNull())
        .select(
            "event_id",
            F.date_format("ts", fmt).alias("purchase_ts"),
            F.date_format("last_click", fmt).alias("last_click_ts"),
        )
    )


@query(
    "c9_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def c9_rollup(spark, sf_dir):
    """ROLLUP — hierarchical subtotals (flag → flag+status → grand).
    Spark expands to a union of grouping sets inside one hash aggregate.

    Adjudicated empty-input seam (r6 empty-corpus sweep, applies to
    c9_cube and c34 alike): over ZERO input rows Spark's rollup/cube/
    grouping-sets emit no rows at all, while the SQL standard (DuckDB,
    PostgreSQL) still emits the ``()`` grand-total group (count 0).
    This engine keeps native Spark semantics — a user's Spark code
    sees Spark's answer — and the empty-corpus gate allowlists the
    difference rather than distorting the plan with an emptiness probe
    and a synthesized union row."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fx.fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n", "sum_qty",
        )
    )


@query(
    "c9_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def c9_cube(spark, sf_dir):
    """CUBE — all grouping-set combinations. (Empty-input seam: see
    c9_rollup — Spark emits no grand-total row over zero input rows.)"""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


@query(
    "c10_count_distinct",
    oracle="""
    SELECT l_returnflag AS returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def c10_count_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) — planned as expand + two-phase aggregate.
    The approx (HLL++) variant is `c10_approx_distinct` (rows-only: sketch
    results are engine-specific)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query("c10_approx_distinct")  # rows-only: HLL sketch is engine-specific
def c10_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counts: fixed-size sketch, mergeable, one pass, no expand."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "c11_percentiles",
    oracle="""
    SELECT l_returnflag AS returnflag,
           FLOOR(median(l_quantity) * 10000.0 + 0.5) / 10000.0 AS med_qty,
           FLOOR(quantile_cont(l_extendedprice, 0.25) * 10000.0 + 0.5) / 10000.0
               AS p25_price,
           FLOOR(quantile_cont(l_extendedprice, 0.75) * 10000.0 + 0.5) / 10000.0
               AS p75_price,
           FLOOR(stddev_samp(l_quantity) * 10000.0 + 0.5) / 10000.0 AS sd_qty,
           FLOOR(corr(l_quantity, l_extendedprice) * 10000.0 + 0.5) / 10000.0
               AS qty_price_corr
    FROM lineitem GROUP BY 1
    """,
)
def c11_percentiles(spark, sf_dir):
    """Exact median/percentiles + stats aggregates. Exact percentile sorts
    per group — fine at dim cardinality; the scale path for high-cardinality
    groups is `c11_approx_percentile` (rows-only)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            fx.fround(F.expr("percentile(l_quantity, 0.5D)"), 4).alias("med_qty"),
            fx.fround(F.expr("percentile(l_extendedprice, 0.25D)"), 4).alias("p25_price"),
            fx.fround(F.expr("percentile(l_extendedprice, 0.75D)"), 4).alias("p75_price"),
            fx.fround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            fx.fround(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        )
    )


@query("c11_approx_percentile")  # rows-only: t-digest/GK sketch differs
def c11_approx_percentile(spark, sf_dir):
    """approx_percentile — mergeable quantile sketch; the 100 TB path.

    One sketch per group computes all three quartiles; `element_at`
    projects them as SCALAR columns (an array-typed result column breaks
    order-insensitive canonicalizers that sort multi-column frames —
    pandas lexsort can't factorize lists; bit r01)."""
    q = F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000)
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(q.alias("qs"))
        .select(
            "returnflag",
            F.element_at("qs", 1).alias("p25_price"),
            F.element_at("qs", 2).alias("p50_price"),
            F.element_at("qs", 3).alias("p75_price"),
        )
    )


@query(
    "c12_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               ROW_NUMBER() OVER w AS rn,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               NTILE(4) OVER w AS tile4,
               FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0
                   AS pct_rank,
               FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) / 1000000.0
                   AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey)
    ) WHERE rn <= 3
    """,
)
def c12_rank(spark, sf_dir):
    """Ranking windows — latest-3-orders-per-customer (top-k per group)
    plus the full ranking family (ntile/percent_rank/cume_dist). One
    shuffle on the partition key; the orderkey tiebreak makes the order
    total, so every ranking function is deterministic across engines."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("tile4"),
            fx.fround(F.percent_rank().over(w), 6).alias("pct_rank"),
            fx.fround(F.cume_dist().over(w), 6).alias("cdist"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "c13_lag_lead",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           o_totalprice AS totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    """,
)
def c13_lag_lead(spark, sf_dir):
    """Analytic windows — lag/lead along each customer's order history.

    Null ordering is EXPLICIT on both sides (r6 edge-corpus finding):
    Spark's bare ASC is NULLS FIRST, DuckDB's is NULLS LAST, so a null
    o_orderdate silently reorders the frame and shifts every lag/lead
    in that partition. Dormant on clean driver data; real on any
    corpus with unparsed dates."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_first(), "o_orderkey"
    )
    return table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("totalprice"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "c14_running_sum",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           FLOOR(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) * 100.0 + 0.5) / 100.0 AS running_rev
    FROM orders
    """,
)
def c14_running_sum(spark, sf_dir):
    """Aggregate window with an explicit ROWS frame — running revenue per
    customer. Frame order is pinned, so the float sum sequence is identical
    across engines (rounding is belt-and-braces). Null ordering explicit
    on both sides — see c13's note (the running sum's PREFIX depends on
    where null-dated orders sort)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_first(), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        fx.fround(F.sum("o_totalprice").over(w), 2).alias("running_rev"),
    )


@query(
    "c15_union",
    oracle="""
    SELECT key, COUNT(*) AS n FROM (
        SELECT o_custkey AS key FROM orders
        UNION ALL
        SELECT c_custkey AS key FROM customer
    ) GROUP BY key
    """,
)
def c15_union(spark, sf_dir):
    """UNION ALL + aggregate — bag semantics preserved."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    return o.unionByName(c).groupBy("key").agg(F.count(F.lit(1)).alias("n"))


@query(
    "c15_intersect",
    oracle="""
    SELECT o_custkey AS key FROM orders
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 7000
    """,
)
def c15_intersect(spark, sf_dir):
    """INTERSECT (set semantics) — planned as an aggregate + semi join."""
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select(F.col("c_custkey").alias("key"))
    )
    return o.intersect(c)


@query(
    "c15_except",
    oracle="""
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 0
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def c15_except(spark, sf_dir):
    """EXCEPT (set difference) — planned as an aggregate + anti join.
    NB: ``subtract`` is EXCEPT DISTINCT; ``exceptAll().distinct()`` would
    be wrong when the left side holds duplicates of a value also present
    on the right (exceptAll leaves surviving copies that distinct keeps,
    but set-EXCEPT removes the value entirely)."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("key"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("key"))
    )
    return c.subtract(o)


@query(
    "c16_sort",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           o_totalprice
    FROM orders
    ORDER BY o_orderdate ASC NULLS FIRST,
             o_totalprice DESC NULLS LAST, o_orderkey
    LIMIT 100
    """,
)
def c16_sort(spark, sf_dir):
    """Global multi-key sort — range-partitioned exchange (sampled
    boundaries) feeding per-partition sorts; with LIMIT, Spark instead
    plans TakeOrderedAndProject (no full exchange). Null ordering
    explicit on both sides (see c13): with nulls in the sort keys the
    engines' different defaults change WHICH rows survive the LIMIT,
    not just their order."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(
            F.col("o_orderdate").asc_nulls_first(),
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc(),
        )
        .limit(100)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_totalprice",
        )
    )


@query(
    "c17_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
)
def c17_offset(spark, sf_dir):
    """LIMIT + OFFSET pagination over a deterministic total order."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "c32_recursive_cte",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '2001-08-01'
    )
    SELECT strftime(CAST(m AS DATE), '%Y-%m') AS month,
           COALESCE(o.n, 0) AS n_orders
    FROM months
    LEFT JOIN (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mk,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    ) o ON strftime(CAST(m AS DATE), '%Y-%m') = o.mk
    """,
)
def c32_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4) — a calendar month spine spanning the data
    domain, left-joined to per-month order counts so gap months surface
    as explicit zeros: the dense-time-series pattern Postgres users write
    with generate_series or WITH RECURSIVE. The recursion is ~80 rows of
    driver-side iteration (bounded, tiny); the join against it broadcasts
    the spine."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT add_months(m, 1) FROM months WHERE m < DATE '2001-08-01'
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               COALESCE(o.n, CAST(0 AS BIGINT)) AS n_orders
        FROM months
        LEFT JOIN (
            SELECT date_format(o_orderdate, 'yyyy-MM') AS mk,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        ) o ON date_format(m, 'yyyy-MM') = o.mk
    """)


@query(
    "c33_salted_join",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_items,
           FLOOR(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))) AS DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def c33_salted_join(spark, sf_dir):
    """C33: skew-mitigated shuffle join via explicit salting
    (``skew.salted_join``). Semantically identical to the plain equi
    join the oracle runs — the salt only changes the *partitioning*:
    each hot l_orderkey spreads over 16 reducers instead of landing on
    one, at the cost of shuffling the orders side 16×. The technique a
    1000-executor job reaches for when the dim is too big to broadcast
    and AQE's skew split doesn't apply (aggregation keyed on the hot
    key downstream; stats unavailable). The join is sort-merge — a
    shuffled-hash build side cannot spill and OOMed at the 100× stress
    run (SCALE.md §10). Plan shape (salt in the join keys, shuffle join
    not broadcast) is asserted in tests/test_plans.py.

    The per-priority revenue sums accumulate in decimal (fx.dec): 5
    fixed groups over the entire lineitem⋈orders join is the
    deterministic drift class (fx.py module docstring) — at K=1000 each
    group's sum (~1e13) exceeds the 1.6e11 that tripped q19 (r8 ADVICE
    finding)."""
    from ..skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, on=["l_orderkey"], n_salt=16)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fx.fround(F.sum(fx.dec(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))))
                  .cast("double"), 2).alias("revenue"),
        )
    )


@query(
    "c34_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
)
def c34_grouping_sets(spark, sf_dir):
    """C34: explicit GROUPING SETS — the general form c9's rollup/cube
    are shorthands for: exactly the (flag, status), (flag), () grains,
    no others. One pass over the fact, each partial aggregate combined
    map-side per grain (Spark expands to a union of aggregates over one
    shuffle of the Expand output). COALESCE markers instead of
    grouping_id keep the output engine-portable (both columns are
    non-null in the data, so 'ALL' is unambiguous). (Empty-input seam:
    see c9_rollup — Spark emits no () group over zero input rows.)"""
    register_views(spark, sf_dir, ("lineitem",))
    # fx.spark_sql_round: the guarded fround policy in SQL-text form
    # (D-suffixed double literals, specials/magnitude branches)
    return spark.sql(f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n,
               {fx.spark_sql_round('SUM(l_quantity)', 2)} AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)


@query(
    "c35_range_frame",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           date_diff('day', TIMESTAMP '1990-01-01', o_orderdate) AS d,
           FLOOR(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', TIMESTAMP '1990-01-01', o_orderdate)
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) * 100.0 + 0.5) / 100.0 AS spend_30d
    FROM orders
    """,
)
def c35_range_frame(spark, sf_dir):
    """C35: value-RANGE window frame — per-customer rolling 30-day spend.
    c14's running sum is a ROWS frame (physical offsets); RANGE frames
    bound by the ORDER key's *value*, so same-day orders aggregate
    together and gaps in the calendar matter — the form rolling-window
    analytics actually needs. Order key is integer days-since-epoch
    (both engines compute the identical integer, keeping frame
    boundaries bit-identical). One shuffle on custkey; frames evaluate
    in a single per-partition sorted pass."""
    days = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, 0)
    )
    return table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        days.cast("long").alias("d"),
        fx.fround(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


_SESSION_GAP_S = 1800


@query(
    "c36_sessionize",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN date_diff('second',
                        lag(ts) OVER w, ts) <= {_SESSION_GAP_S}
                    THEN 0 ELSE 1 END AS is_new
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           date_diff('second', MIN(ts), MAX(ts)) AS duration_s,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM sess GROUP BY 1, 2
    """,
)
def c36_sessionize(spark, sf_dir):
    """C36: batch sessionization — events split into sessions at >30 min
    inactivity gaps (lag + running sum of session starts), then per-
    session profiles. The batch twin of d5's streaming session window —
    the form backfills and offline feature pipelines run.

    Scale posture: ONE shuffle on user_id serves both windows and the
    final aggregate (same partitioning, Catalyst reuses the exchange);
    everything after is per-partition sorted passes. The lag tie-break
    (ts, event_id) makes same-timestamp ordering deterministic across
    engines. Null event time excluded explicitly on both sides (r6
    edge finding — see d3): a timeless event cannot belong to a
    session, and the engines disagree on where null sorts."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = W.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(W.unboundedPreceding, 0)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    marked = ev.select(
        "user_id", "ts", "value", "event_id",
        F.when(
            F.to_unix_timestamp(F.col("ts"))
            - F.to_unix_timestamp(F.lag(F.col("ts")).over(w))
            <= _SESSION_GAP_S,
            0,
        ).otherwise(1).alias("is_new"),
    )
    sess = marked.select(
        "user_id", "ts", "value",
        F.sum("is_new").over(w_run).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.to_unix_timestamp("ts")) - F.min(F.to_unix_timestamp("ts")))
        .alias("duration_s"),
        fx.fround(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "c37_bitmap_distinct_rollup",
    # the oracle recomputes month-distinct from raw rows; the Spark side
    # MERGES per-day bitmaps — same numbers proves merge-correctness
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
           COUNT(DISTINCT user_id) AS distinct_users
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def c37_bitmap_distinct_rollup(spark, sf_dir):
    """C37: mergeable EXACT distinct via bitmap aggregates — per-day
    (and per 32k-id bucket) user bitmaps built once, then OR-merged to
    month grain without ever rescanning the fact. The pattern that makes
    exact distinct-user rollups incremental at 100 TB: daily jobs emit
    tiny bitmap partials; any later grain (week/month/arbitrary window)
    is a bitmap_or_agg + bitmap_count over partials. The oracle
    recomputes month-distinct from raw rows — matching it proves the
    merge path is lossless (what HLL's c10/c38 trade away). Null
    event time excluded explicitly on both sides (r6 edge finding —
    see d3's note; here the null month group additionally fell out of
    the rollup's USING(month) join while the oracle kept it, so the
    engines even disagreed on the row COUNT)."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
        WITH day_partials AS (      -- the incremental daily-job output
            SELECT date_format(ts, 'yyyy-MM') AS month,
                   date_format(ts, 'yyyy-MM-dd') AS day,
                   bitmap_bucket_number(user_id) AS bkt,
                   bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
        ), month_buckets AS (       -- rollup: merge partials, no rescan
            SELECT month, bkt, bitmap_count(bitmap_or_agg(bm)) AS c
            FROM day_partials GROUP BY month, bkt
        ), month_days AS (          -- day count over partials, not buckets:
                                    -- a per-bucket distinct-day count would
                                    -- undercount months where no single id
                                    -- bucket is active on every day
            SELECT month, count(DISTINCT day) AS n_days
            FROM day_partials GROUP BY month
        )
        SELECT month, d.n_days AS n_days, u.distinct_users AS distinct_users
        FROM month_days d
        JOIN (SELECT month, SUM(c) AS distinct_users
              FROM month_buckets GROUP BY month) u USING (month)
    """)


@query("c38_hll_sketch_union")  # rows-only: sketch estimate, no SQL twin
def c38_hll_sketch_union(spark, sf_dir):
    """C38: mergeable APPROXIMATE distinct via Datasketches HLL — same
    partial/merge shape as c37 but the partial is a constant-size sketch
    (vs bitmaps' id-range-proportional size): per-day sketches union to
    month estimates at any cardinality for KBs per partial. c10's
    approx_count_distinct computes one estimate inline; this exposes the
    SKETCH as a column — the storable, re-mergeable artifact incremental
    pipelines persist. Estimate-vs-exact tolerance asserted in
    tests/test_llm_ops.py."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql("""
        WITH day_sketches AS (
            SELECT date_format(ts, 'yyyy-MM') AS month,
                   date_format(ts, 'yyyy-MM-dd') AS day,
                   hll_sketch_agg(user_id) AS sk
            FROM events GROUP BY 1, 2
        )
        SELECT month,
               count(*) AS n_days,
               hll_sketch_estimate(hll_union_agg(sk)) AS approx_users
        FROM day_sketches GROUP BY month
    """)


_C38_PORTABLE_HLL_SQL = """
    WITH hx AS (
        -- 256-bucket HLL over the md5 bit-stream: 2 hex chars pick the
        -- bucket, the next 12 (48 bits) feed the leading-zero rank.
        -- md5 renders lowercase hex identically in both engines, so
        -- the sketch state is reproducible cross-engine by hand.
        SELECT substr(CAST(ts AS STRING), 1, 7) AS month,
               md5(CAST(user_id AS STRING)) AS h
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), parts AS (
        SELECT month,
               (POSITION(substr(h, 1, 1) IN '0123456789abcdef') - 1) * 16
             + (POSITION(substr(h, 2, 1) IN '0123456789abcdef') - 1)
                   AS bucket,
               length(regexp_extract(substr(h, 3, 12), '^(0*)', 1)) AS zh,
               substr(h, 3, 12) AS tail
        FROM hx
    ), ranked AS (
        -- rank = leading zero BITS + 1, from pure string ops (both
        -- engines lack a shared hex->int; 4 bits per zero hex char
        -- plus a CASE over the first non-zero digit's high bits)
        SELECT month, bucket,
               CASE WHEN zh = 12 THEN 49
                    ELSE zh * 4
                       + CASE substr(tail, zh + 1, 1)
                             WHEN '1' THEN 3
                             WHEN '2' THEN 2 WHEN '3' THEN 2
                             WHEN '4' THEN 1 WHEN '5' THEN 1
                             WHEN '6' THEN 1 WHEN '7' THEN 1
                             ELSE 0 END
                       + 1
               END AS rnk
        FROM parts
    ), perbucket AS (
        SELECT month, bucket, MAX(rnk) AS mr FROM ranked GROUP BY 1, 2
    ), agg AS (
        -- exact-integer harmonic state: S = sum 2^(49-mr) (+ 2^49 per
        -- empty bucket), so no float accumulation order can drift;
        -- the one integer->double cast rounds identically in IEEE
        SELECT month,
               CAST(SUM(CAST(POWER(2.0, 49 - mr) AS BIGINT)) AS DOUBLE)
                 + CAST(256 - COUNT(*) AS DOUBLE) * 562949953421312.0
                   AS s,
               256 - COUNT(*) AS zeros
        FROM perbucket GROUP BY 1
    )
    SELECT month,
           CAST(FLOOR(
               CASE WHEN ((0.7213 / (1 + 1.079 / 256.0)) * 65536.0
                          * 562949953421312.0 / s) <= 640.0
                         AND zeros > 0
                    THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                    ELSE (0.7213 / (1 + 1.079 / 256.0)) * 65536.0
                         * 562949953421312.0 / s
               END + 0.5) AS BIGINT) AS approx_users
    FROM agg
"""


@query("c38_portable_hll", oracle=_C38_PORTABLE_HLL_SQL)
def c38_portable_hll(spark, sf_dir):
    """C38 twin, ORACLE-GRADE (r9, verdict ask 5 — the f21 playbook):
    a from-scratch HyperLogLog whose every step both engines compute
    bit-identically, so the sketch CLASS gains an exact cross-engine
    twin while c38_hll_sketch_union stays the library-parity demo
    (Datasketches internals legitimately differ across engines).

    One SQL text serves both engines (the c30 pattern): md5-derived
    bucket/rank via shared string ops (POSITION(c IN hex-alphabet),
    regexp_extract leading zeros, CASE on the first non-zero digit),
    per-(month, bucket) MAX rank, and an EXACT-INTEGER harmonic sum
    (2^(49-mr) summed as BIGINT/HUGEINT) so no floating accumulation
    order exists to drift; the final estimate is a fixed chain of IEEE
    double ops on identical operands. The only library function in the
    numeric path is ln() in the linear-counting branch — same double
    in, ±1 ulp across libm at worst, and the result rounds to an
    integer, so a mismatch needs the true value within ~1e-10 of a
    .5 boundary (the edge sweep would catch one).

    Scale posture — this is WHY HLL, stated in the plan: NO distinct
    shuffle anywhere. The per-(month,bucket) MAX partial-aggregates
    map-side, so the shuffle moves at most months x 256 rows of
    constant-size state no matter how many billions of events — the
    exact mergeable-sketch economics c38 demonstrates with the
    library, now verifiable to the digit against DuckDB. Accuracy for
    m=256 is ~6.5% (1.04/sqrt(m)); tolerance vs exact is pytest-gated
    like c10's (tests/test_approx_ops.py)."""
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_C38_PORTABLE_HLL_SQL)


_C11_PORTABLE_QUANTILE_SQL = """
    WITH b AS (
        -- fixed-width histogram: bin = floor(price / 100); ~900 bins
        -- over the price domain, counted with full map-side combine
        SELECT l_returnflag AS returnflag,
               CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS bin,
               COUNT(*) AS c
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
        GROUP BY 1, 2
    ), cum AS (
        SELECT returnflag, bin, c,
               SUM(c) OVER (PARTITION BY returnflag ORDER BY bin)
                   AS cum,
               SUM(c) OVER (PARTITION BY returnflag) AS n
        FROM b
    )
    SELECT returnflag,
           MIN(CASE WHEN cum >= CEIL(n * 0.25)
                    THEN (CAST(bin AS DOUBLE) + 0.5) * 100.0 END) AS p25_price,
           MIN(CASE WHEN cum >= CEIL(n * 0.5)
                    THEN (CAST(bin AS DOUBLE) + 0.5) * 100.0 END) AS p50_price,
           MIN(CASE WHEN cum >= CEIL(n * 0.75)
                    THEN (CAST(bin AS DOUBLE) + 0.5) * 100.0 END) AS p75_price
    FROM cum GROUP BY 1
"""


@query("c11_portable_quantile", oracle=_C11_PORTABLE_QUANTILE_SQL)
def c11_portable_quantile(spark, sf_dir):
    """C11 twin, ORACLE-GRADE (r9 — the c38_portable_hll playbook
    applied to the percentile class): a deterministic histogram
    quantile whose every step both engines compute bit-identically,
    giving the approximate-percentile CLASS an exact cross-engine twin
    while c11_approx_percentile stays the library demo (Spark's
    t-digest-style sketch has no DuckDB twin by construction).

    One SQL text serves both engines: fixed-width binning
    (FLOOR(price/100) — one IEEE divide + floor, identical both
    sides), per-(flag, bin) counts, a cumulative-count window over the
    unique bins, and the p-quantile read off as the first bin whose
    cumulative count reaches CEIL(n·p) — p in {.25, .5, .75} are exact
    binary fractions, so n·p and its CEIL are exact integers in both
    engines; the reported value is the bin midpoint (small-integer
    arithmetic, exact). NULL prices are excluded explicitly — the one
    spot engine defaults could diverge (Spark windows order NULLS
    FIRST, DuckDB NULLS LAST).

    Scale posture: the histogram is the percentile structure that
    SURVIVES 100 TB — per-bin counts partial-aggregate map-side
    (bounded ~900 bins/group regardless of row count), the window runs
    over bins not rows, and bin width is the accuracy knob (here ±50
    on a ~50 000 price domain, ~0.1% rank error at the probed SFs —
    tolerance gated in tests/test_approx_ops.py). Contrast c11's exact
    path, which must shuffle and sort the raw values."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_C11_PORTABLE_QUANTILE_SQL)
