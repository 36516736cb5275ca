"""Group C query keys (part 2: C18-C31) — pivot/unpivot and the scalar
function families (string/date/math/null/array/map/struct/JSON), plus
subqueries and CTEs (SURVEY.md §2 group C).

These are the "same query capabilities as Postgres" surface
(``README.md:79-82``): every family is built-in `pyspark.sql.functions`
(JVM-side, whole-stage-codegen) — no UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import fx
from ..catalog import register_views, table
from ..registry import query


@query(
    "c18_pivot",
    oracle="""
    SELECT l_returnflag AS returnflag,
           FLOOR(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END)
                 * 100.0 + 0.5) / 100.0 AS qty_o,
           FLOOR(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END)
                 * 100.0 + 0.5) / 100.0 AS qty_f
    FROM lineitem GROUP BY 1
    """,
)
def c18_pivot(spark, sf_dir):
    """PIVOT — wide aggregate with explicit value list (listing values
    avoids the extra distinct-discovery job and keeps the plan one
    aggregate; required practice at scale)."""
    piv = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return piv.select(
        "returnflag",
        fx.fround(F.col("O"), 2).alias("qty_o"),
        fx.fround(F.col("F"), 2).alias("qty_f"),
    )


@query(
    "c19_unpivot",
    oracle="""
    WITH agg AS (
        SELECT l_returnflag,
               FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
               FLOOR(SUM(l_discount) * 10000.0 + 0.5) / 10000.0 AS sum_disc
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag AS returnflag, 'sum_qty' AS measure,
           sum_qty AS value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
    """,
)
def c19_unpivot(spark, sf_dir):
    """UNPIVOT/melt — wide→long reshape via ``DataFrame.unpivot``."""
    agg = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            fx.fround(F.sum("l_quantity"), 2).alias("sum_qty"),
            fx.fround(F.sum("l_discount"), 4).alias("sum_disc"),
        )
    )
    return agg.unpivot(
        ids=["returnflag"],
        values=["sum_qty", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@query(
    "c20_string_funcs",
    oracle="""
    SELECT c_custkey AS custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substring(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           c_mktsegment || '#' || c_name AS tagged,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
           CASE WHEN c_name IS NULL THEN NULL
                ELSE split_part(c_name, '#', 1) END AS first_token,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one,
           levenshtein(regexp_replace(c_mktsegment, '[^\x20-\x7E]', '?',
                                      'g'),
                       'BUILDING') AS seg_dist,
           trim(' ' || c_name || ' ') AS trimmed,
           replace(c_name, '#', '-') AS dashed
    FROM customer
    """,
)
def c20_string_funcs(spark, sf_dir):
    """String function family — concat/case/substr/pad/split/regex/
    like/levenshtein/trim/replace, all codegen'd JVM expressions.

    Oracle spellings chosen for null parity (r6 edge-corpus findings,
    dormant on clean data): DuckDB's ``concat()`` SKIPS null arguments
    where Spark's propagates null, so the oracle uses ``||`` (which
    null-propagates in both engines); DuckDB's ``split_part(NULL,..)``
    returns '' not NULL, hence the explicit CASE guard.

    ``levenshtein`` semantics (r8, retiring the last adjudicated
    divergence): Spark's levenshtein is codepoint-based, DuckDB's is
    byte-based — 8 vs 14 on a CJK+multibyte string, an inherent engine
    seam no normalization can close (NFC leaves CJK multibyte). Both
    sides therefore compute the distance over an ASCII PROJECTION
    (every non-ASCII codepoint → '?'), where byte ≡ codepoint and the
    two engines agree by construction; values on ASCII data — all real
    segment names — are unchanged, and hostile multibyte input gets a
    well-defined cross-engine distance instead of an engine-dependent
    one. (Remaining non-ASCII seam class, still dormant: Java's locale
    case mapping uppercases ß→SS where utf8proc does not — not planted
    by the edge corpus, noted for the record.)"""
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_name"))
        .alias("tagged"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.split(F.col("c_name"), "#").getItem(0).alias("first_token"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.when(F.col("c_name").like("%1%"), 1).otherwise(0).alias("has_one"),
        F.levenshtein(
            F.regexp_replace(F.col("c_mktsegment"), "[^\\x20-\\x7E]", "?"),
            F.lit("BUILDING"),
        ).alias("seg_dist"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" ")))
        .alias("trimmed"),
        F.regexp_replace("c_name", "#", "-").alias("dashed"),
    )


@query(
    "c21_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mth,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
                AS INTEGER) AS days_to_1999,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def c21_date_funcs(spark, sf_dir):
    """Date/time function family. Engine-semantics notes: Spark
    ``dayofweek`` is 1=Sunday..7 while DuckDB's is 0=Sunday..6 (oracle
    adds 1); DuckDB ``year()`` returns BIGINT (oracle casts to INT);
    DuckDB ``epoch()`` keeps the sub-second fraction and CAST(double
    AS BIGINT) ROUNDS it while Spark's unix_timestamp truncates — the
    oracle floors first (r6 edge-corpus finding, visible only on
    timestamps with microseconds)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd")
        .alias("plus_30d"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("month_start"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.to_date("o_orderdate"))
        .alias("days_to_1999"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "c22_math_funcs",
    oracle="""
    SELECT p_partkey,
           abs(p_retailprice - 950.0) AS abs_dev,
           CAST(ceil(p_retailprice) AS DOUBLE) AS ceil_price,
           CAST(floor(p_retailprice) AS DOUBLE) AS floor_price,
           sqrt(p_retailprice) AS sqrt_price,
           p_retailprice * p_retailprice AS price_sq,
           FLOOR(ln(p_retailprice) * 1000000.0 + 0.5) / 1000000.0 AS ln_price,
           greatest(p_retailprice, 950.0) AS hi,
           least(p_retailprice, 950.0) AS lo,
           CAST(sign(p_retailprice - 950.0) AS DOUBLE) AS dev_sign,
           CAST(p_size % 7 AS INTEGER) AS size_mod7
    FROM part
    """,
)
def c22_math_funcs(spark, sf_dir):
    """Math function family. sqrt/abs are IEEE-exact cross-engine; ln goes
    through libm so it is rounded at 6dp on both sides; pow is avoided in
    favor of x*x (libm pow is not guaranteed identically rounded)."""
    p = table(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.abs(price - 950.0).alias("abs_dev"),
        F.ceil(price).cast("double").alias("ceil_price"),
        F.floor(price).cast("double").alias("floor_price"),
        F.sqrt(price).alias("sqrt_price"),
        (price * price).alias("price_sq"),
        fx.fround(F.log(price), 6).alias("ln_price"),
        F.greatest(price, F.lit(950.0)).alias("hi"),
        F.least(price, F.lit(950.0)).alias("lo"),
        F.signum(price - 950.0).alias("dev_sign"),
        (F.col("p_size") % 7).alias("size_mod7"),
    )


@query(
    "c23_null_funcs",
    oracle="""
    SELECT c_custkey AS custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CASE WHEN NULLIF(c_acctbal, 0.0) IS NULL THEN -1.0
                ELSE c_acctbal END AS bal_nz,
           COALESCE(NULLIF(c_acctbal, c_acctbal), 0.0) AS always_zero,
           CAST(c_acctbal IS NULL AS INTEGER) AS bal_is_null
    FROM customer
    """,
)
def c23_null_funcs(spark, sf_dir):
    """Null-handling family — coalesce/nullif/is-null arithmetic (the
    testdata is null-free, so nulls are manufactured with NULLIF; the
    taxi conform layer exercises organic nulls, tests/test_conform.py)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                   F.lit("OTHER")).alias("seg_or_other"),
        F.when(F.nullif(F.col("c_acctbal"), F.lit(0.0)).isNull(), F.lit(-1.0))
        .otherwise(F.col("c_acctbal")).alias("bal_nz"),
        F.coalesce(F.nullif(F.col("c_acctbal"), F.col("c_acctbal")),
                   F.lit(0.0)).alias("always_zero"),
        F.col("c_acctbal").isNull().cast("int").alias("bal_is_null"),
    )


@query(
    "c24_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           string_split(text, ' ')[1] AS first_token,
           string_split(text, ' ')[-1] AS last_token,
           array_to_string(string_split(text, ' ')[1:3], ',') AS top3,
           list_sort(string_split(text, ' '))[1] AS min_token,
           CAST(list_contains(string_split(text, ' '), 'spark') AS INTEGER)
               AS has_spark
    FROM documents
    """,
)
def c24_array_funcs(spark, sf_dir):
    """Array function family over tokenized text — size/distinct/index/
    slice/sort/contains, incl. negative indexing. Higher-order transforms
    are exercised in f3 (zip_with/aggregate for dot products)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # fx.nsize, not F.size: these counts land in the output, and legacy
    # size(NULL) = -1 under the production ansi=false session (r6 edge
    # finding — see fx.nsize)
    return d.select(
        "doc_id",
        fx.nsize(toks).alias("n_tokens"),
        fx.nsize(F.array_distinct(toks)).alias("n_distinct"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(toks, -1).alias("last_token"),
        F.array_join(F.slice(toks, 1, 3), ",").alias("top3"),
        F.element_at(F.sort_array(toks), 1).alias("min_token"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
    )


@query(
    "c25_map_funcs",
    oracle="""
    SELECT event_id, mkey, mval FROM (
        SELECT event_id, 'raw' AS mkey, value AS mval FROM events
        UNION ALL
        SELECT event_id, 'double', value * 2 FROM events
    )
    """,
)
def c25_map_funcs(spark, sf_dir):
    """Map function family — create_map + explode back to rows (the
    row-form output keeps the oracle engine-neutral; map_keys/map_values/
    element_at are exercised in tests/test_functions.py)."""
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("raw"), F.col("value"),
        F.lit("double"), F.col("value") * 2,
    )
    return e.select("event_id", F.explode(m).alias("mkey", "mval"))


@query(
    "c26_struct_funcs",
    oracle="""
    SELECT o_orderkey,
           o_custkey AS cust_from_struct,
           o_totalprice AS price_from_struct,
           o_orderstatus || '/' || o_orderpriority AS status_tag
    FROM orders
    """,
)
def c26_struct_funcs(spark, sf_dir):
    """Struct family — build a struct, project dotted fields back out
    (flat output keeps the oracle engine-neutral). The oracle's tag
    concatenation uses ``||``, not DuckDB ``concat()``, which skips
    null arguments where Spark's propagates (r6 edge-corpus finding —
    see c20)."""
    o = table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_custkey").alias("ck"),
        F.col("o_totalprice").alias("tp"),
        F.concat(F.col("o_orderstatus"), F.lit("/"),
                 F.col("o_orderpriority")).alias("tag"),
    )
    return o.withColumn("s", s).select(
        "o_orderkey",
        F.col("s.ck").alias("cust_from_struct"),
        F.col("s.tp").alias("price_from_struct"),
        F.col("s.tag").alias("status_tag"),
    )


@query(
    "c27_json_funcs",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(
               CASE WHEN json_valid(props) THEN props END, '$.k')
               AS INTEGER) AS k_val,
           TRY_CAST(json_extract_string(
               CASE WHEN json_valid(props) THEN props END, '$.missing')
               AS INTEGER) AS missing_val
    FROM events
    """,
)
def c27_json_funcs(spark, sf_dir):
    """JSON family — get_json_object / from_json over the events props
    column (string-typed JSON, FIXTURES.md §4).

    Oracle hardening (r6 edge-corpus finding): Spark's get_json_object
    returns NULL on malformed JSON and a null-producing cast; DuckDB's
    json_extract_string THROWS on malformed input and plain CAST throws
    on non-numeric strings — it killed the whole contract drive until
    guarded with json_valid + TRY_CAST. Identical on any corpus whose
    props are all valid JSON (the driver testdata)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.get_json_object("props", "$.missing").cast("int")
        .alias("missing_val"),
    )


@query(
    "c28_collect",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_seen,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def c28_collect(spark, sf_dir):
    """Collect aggregates — collect_set sorted and joined to a string
    (order-insensitive, engine-neutral encoding of the set)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",")
        .alias("types_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("c29_sample")  # rows-only: samplers are engine-specific
def c29_sample(spark, sf_dir):
    """Bernoulli sampling with a fixed seed — deterministic within Spark
    (per-partition seeds), but no cross-engine oracle exists; the
    oracle-checked form of the same operation is
    :func:`c29_deterministic_sample` (kept as the library-API parity
    demo the same way e1 demos the row-Python UDF surface)."""
    return (
        table(spark, sf_dir, "lineitem")
        .sample(fraction=0.1, seed=42)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "c29_deterministic_sample",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE ('0x' || substring(md5(l_orderkey || '|' || l_linenumber), 1, 15))
          ::BIGINT % 10 = 0
    """,
)
def c29_deterministic_sample(spark, sf_dir):
    """~10% sample by content-hash threshold instead of RNG (graduating
    c29 from rows-only, r7): ``md5(primary key) mod 10 == 0`` is
    reproducible on any engine, partitioning, and retry — the property
    f22's stratified sampler already relies on (llm.py) and the one
    `df.sample`'s per-partition seeded RNG cannot give (its output
    changes with the physical split of the input). Hash recipe =
    the repo's cross-engine standard (f2): first 15 md5 hex chars as a
    60-bit BIGINT — Spark ``conv(...,16,10)``, DuckDB ``('0x'||h)::
    BIGINT``. Scale shape: pure map-side filter, no shuffle; the
    fraction is exact-in-expectation per key (a fixed hash family, so
    repeated runs select the SAME rows — what makes downstream
    train/eval splits and A/B slices reproducible)."""
    li = table(spark, sf_dir, "lineitem")
    hk = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("l_orderkey"),
                              F.col("l_linenumber"))), 1, 15),
        16, 10,
    ).cast("bigint")
    return (
        li.filter(hk % 10 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


_C30_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
"""


@query("c30_subquery", oracle=_C30_SQL)
def c30_subquery(spark, sf_dir):
    """Scalar + IN subqueries — one SQL text serves both engines (Catalyst
    rewrites the scalar subquery to a broadcast and the IN to a semi join).
    """
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(_C30_SQL)


_C31_SQL = """
WITH cust_orders AS (
    SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS rev
    FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
       co.n_orders AS n_orders,
       CAST(FLOOR(co.rev * 100.0 + 0.5) / 100.0 AS DOUBLE) AS revenue
FROM customer c
JOIN cust_orders co ON c.c_custkey = co.o_custkey
WHERE co.n_orders >= 12
"""


@query("c31_cte", oracle=_C31_SQL)
def c31_cte(spark, sf_dir):
    """CTE (WITH) — shared SQL text across engines; Catalyst inlines or
    reuses the CTE subplan as costs dictate."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(_C31_SQL)


# C41 (r10, self-initiated): LATERAL correlated derived table — the
# per-row-subquery surface (top-2 orders per customer). One SQL text
# serves both engines; Catalyst decorrelates the LATERAL into a
# ranked window over an equi join (DomainJoin rewrite), so the plan
# stays shuffle-partitionable — no per-customer re-execution, which is
# exactly what makes the construct survivable at 100 TB (a naive
# nested-loop LATERAL would run one orders scan per customer row).
# Money kept at the source's exact 2-dp double per fx.py's drift
# class; top-2 ties broken on o_orderkey so the row set is unique.
_C41_SQL = """
SELECT c_custkey AS custkey, t.o_orderkey AS orderkey,
       t.o_totalprice AS totalprice
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


@query("c41_lateral_topk", oracle=_C41_SQL)
def c41_lateral_topk(spark, sf_dir):
    """LATERAL subquery (correlated derived table) — top-2 orders per
    customer. Shared SQL text; Spark decorrelates (no per-row rescan),
    DuckDB runs its native LATERAL."""
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(_C41_SQL)


@query(
    "c39_variant_shred",
    oracle="""
    WITH shredded AS (
        SELECT TRY_CAST(json_extract_string(
                   CASE WHEN json_valid(props) THEN props END, '$.k')
               AS BIGINT) AS k
        FROM events
    )
    SELECT k % 10 AS k_bucket, COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM shredded GROUP BY 1
    """,
)
def c39_variant_shred(spark, sf_dir):
    """C39: VARIANT semi-structured path (Spark 4) — ``parse_json`` once
    into the binary VARIANT encoding, then typed ``variant_get``
    extraction feeding a plain aggregate. vs c27's per-access
    ``get_json_object`` string re-parse: VARIANT parses each value once
    and every downstream access is a cheap binary probe — the difference
    between O(accesses) and O(1) parses per row, which is what makes
    wide semi-structured event payloads queryable at 100 TB (and the
    encoding parquet shredding is being standardized on).

    ``try_parse_json``, not ``parse_json`` (r6 edge finding): the
    strict form ABORTS THE QUERY on the first malformed payload — on a
    100 TB crawl one bad record would kill the job. try_parse_json
    yields null, the oracle mirrors with json_valid + TRY_CAST, and
    malformed rows land in the null bucket both sides count."""
    e = table(spark, sf_dir, "events")
    k = F.expr("variant_get(try_parse_json(props), '$.k', 'long')")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


@query(
    "c40_nullsafe_join",
    oracle="""
    WITH l AS (
        SELECT NULLIF(event_type, 'click') AS k, value FROM events
    ), d AS (
        SELECT k, AVG(value) AS av FROM l GROUP BY k
    )
    SELECT l.k AS k, COUNT(*) AS n,
           FLOOR(MAX(d.av) * 10000.0 + 0.5) / 10000.0 AS avg_v
    FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.k
    GROUP BY l.k
    """,
)
def c40_nullsafe_join(spark, sf_dir):
    """C40: null-safe equi join (``<=>`` / IS NOT DISTINCT FROM) — NULL
    keys MATCH each other instead of silently dropping, the semantic a
    plain equi join gets wrong when the join key is derived and partly
    null (here: event_type with one value nulled out). Physically still
    a hash join — the null-safe comparison hashes NULL as a regular key
    value, so the NULL group shuffles to one reducer like any other key
    (a hot NULL group is the classic salting candidate, c33)."""
    e = table(spark, sf_dir, "events")
    left = e.select(
        F.nullif("event_type", F.lit("click")).alias("k"), "value"
    )
    dim = left.groupBy("k").agg(F.avg("value").alias("av"))
    return (
        left.alias("l")
        .join(dim.alias("d"), F.col("l.k").eqNullSafe(F.col("d.k")))
        .groupBy(F.col("l.k").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fx.fround(F.max("av"), 4).alias("avg_v"),
        )
    )
