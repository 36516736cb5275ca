"""Group A query keys — ETL-surface operators (SURVEY.md §2 group A).

The ingestion operators themselves (conform, idempotent writers) live in
``conform.py``/``io.py`` and are unit-tested; the two A-group keys the
driver checks are the filter and validation-count shapes that survive into
query-land (A9, A16).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import fx
from ..catalog import table
from ..registry import query


@query(
    "a9_notnull_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    """,
)
def a9_notnull_filter(spark, sf_dir):
    """Not-null row filter (reference: drop null-pickup rows,
    ``python/ingest_data.py:147-148``). IsNotNull pushes down to the
    parquet scan (null-count stats skip whole row groups)."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "a16_validation_count",
    oracle="""
    SELECT tbl, n FROM (
        SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'customer', COUNT(*) FROM customer
        UNION ALL SELECT 'events', COUNT(*) FROM events
        UNION ALL SELECT 'documents', COUNT(*) FROM documents
    )
    """,
)
def a16_validation_count(spark, sf_dir):
    """Post-load validation counts (reference: ``README.md:108``; row-count
    logging ``python/ingest_data.py:183``). Parquet count() is served from
    footer metadata — no data scan."""
    parts = []
    for name in ("lineitem", "orders", "customer", "events", "documents"):
        parts.append(
            table(spark, sf_dir, name)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(name).alias("tbl"), "n")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "a21_python_datasource",
    oracle="""
    SELECT i AS id,
           md5('42:' || CAST(i AS VARCHAR)) AS fp,
           CAST(('0x' || substr(md5('42:' || CAST(i AS VARCHAR)), 1, 2))
                AS INTEGER) AS bucket
    FROM range(2000) t(i)
    """,
)
def a21_python_datasource(spark, sf_dir):
    """A21: custom Python DataSource (Spark 4 ``pyspark.sql.datasource``)
    — ``pysource.RangeDocsSource`` registered as format 'rangedocs',
    planned into 8 InputPartitions read executor-side in parallel. The
    deterministic seeded-md5 payload is what makes a *custom source*
    oracle-checkable at all: DuckDB rebuilds the identical rows from
    range()+md5. See pysource.py for the production shape this demos."""
    from ..pysource import register

    register(spark)
    return (
        spark.read.format("rangedocs")
        .option("n", 2000).option("partitions", 8)
        .load()
    )


@query(
    "a22_merge_upsert",
    # target = snapshot missing doc_id%7 rows; updates = doc_id%3 rows
    # re-tagged. MERGE semantics: updates win, unmatched target stays,
    # update-only rows (the %21 overlap of "missing" and "updated") insert.
    oracle="""
    WITH target AS (
        SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 != 0
    ), updates AS (
        SELECT doc_id, 'xx' AS lang, n_chars + 1 AS n_chars
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
           COALESCE(u.lang, t.lang) AS lang,
           COALESCE(u.n_chars, t.n_chars) AS n_chars
    FROM target t FULL OUTER JOIN updates u ON t.doc_id = u.doc_id
    """,
)
def a22_merge_upsert(spark, sf_dir):
    """A22: MERGE-INTO semantics on parquet (``io.merge_upsert``) — the
    upsert the reference would write as ON CONFLICT DO UPDATE: one
    full-outer join on the key, update values win per column, unmatched
    rows from either side survive. The planted shapes exercise all three
    MERGE branches (matched-update, not-matched-by-source keep,
    not-matched-by-target insert)."""
    from ..io import merge_upsert

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    target = docs.filter(F.col("doc_id") % 7 != 0)
    updates = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    return merge_upsert(target, updates, keys=["doc_id"])


@query(
    "a23_snapshot_diff",
    # CDC between two snapshots: %5 rows deleted, %4 rows edited
    oracle="""
    WITH old AS (
        SELECT doc_id, lang, n_chars FROM documents
    ), new AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 4 = 0 THEN n_chars + 10
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 5 != 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'insert'
                WHEN n.doc_id IS NULL THEN 'delete'
                ELSE 'update' END AS change
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL
       OR o.lang != n.lang OR o.n_chars != n.n_chars
    """,
)
def a23_snapshot_diff(spark, sf_dir):
    """A23: snapshot CDC diff — the change feed between two table
    versions (insert/update/delete per key), the op that turns periodic
    full snapshots into an incremental feed. One full-outer equi join on
    the key; unchanged rows are filtered by column comparison (at width,
    a payload hash per side compares once instead of per column —
    same join shape).

    Scale posture: shuffle equi join on the key, AQE-skew-splittable;
    the change feed is usually a small fraction of the snapshot, so
    everything downstream of the filter is cheap."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    old = docs.withColumn("_o", F.lit(1))
    new = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id", "lang",
            F.when(F.col("doc_id") % 4 == 0, F.col("n_chars") + 10)
            .otherwise(F.col("n_chars")).alias("n_chars"),
        )
        .withColumn("_n", F.lit(1))
    )
    j = old.alias("o").join(new.alias("n"), "doc_id", "full_outer")
    return (
        j.select(
            F.col("doc_id"),
            F.when(F.col("o._o").isNull(), "insert")
            .when(F.col("n._n").isNull(), "delete")
            .otherwise("update").alias("change"),
            F.col("o.lang").alias("ol"), F.col("n.lang").alias("nl"),
            F.col("o.n_chars").alias("oc"), F.col("n.n_chars").alias("nc"),
        )
        .filter(
            # presence decides insert/delete; matched rows compare values
            # with plain != (NULL-compare drops the row — the oracle's
            # three-valued WHERE has the same semantics)
            (F.col("change") != "update")
            | (F.col("ol") != F.col("nl")) | (F.col("oc") != F.col("nc"))
        )
        .select("doc_id", "change")
    )


@query(
    "a24_observed_metrics",
    oracle="""
    SELECT 'n_rows' AS metric, CAST(COUNT(*) AS DOUBLE) AS value
    FROM events
    UNION ALL
    SELECT 'total_value',
           COALESCE(FLOOR(SUM(value) * 100.0 + 0.5) / 100.0, 0.0)
    FROM events
    UNION ALL
    SELECT 'null_props', CAST(COUNT(*) FILTER (WHERE props IS NULL)
                              AS DOUBLE)
    FROM events
    """,
)
def a24_observed_metrics(spark, sf_dir):
    """A24: single-pass pipeline metrics via the Observation API — the
    generalization of A16's validation counts that costs ZERO extra
    passes: ``df.observe`` attaches accumulator-backed aggregates to the
    frame, the job that materializes it (here a noop sink; in production
    the real write) fills them as a side effect, and the driver reads
    them after. At 100 TB the difference between observe() and a
    separate validation query is a full second scan of the table."""
    from pyspark.sql import Observation

    obs = Observation("a24")
    e = table(spark, sf_dir, "events")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        fx.fround(F.sum("value"), 2).alias("total_value"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("null_props"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    # observed SUM over zero rows is NULL → report 0.0, don't crash:
    # the empty input is exactly the case a metrics gate must survive
    return spark.createDataFrame(
        [(k, 0.0 if m[k] is None else float(m[k]))
         for k in ("n_rows", "total_value", "null_props")],
        "metric string, value double",
    )
