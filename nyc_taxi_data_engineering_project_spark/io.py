"""I/O layer — readers and idempotent writers (SURVEY.md §2 rows A1-A3,
A10-A13, A15; reference logic ``python/ingest_data.py:69-107,152-183``).

Write-path design for 100 TB:

- The fact table is **partitioned by month** (``pickup_month=YYYY-MM``
  directories). This is the Spark replacement for the reference's
  ``idx_taxi_trips_pickup_dt`` B-tree (``sql/init.sql:45``): date-range
  predicates prune whole partitions before any task launches.
- **Idempotent month reload** (A10) = the reference's delete-then-insert
  window (``python/ingest_data.py:160-166``) expressed as *dynamic
  partition overwrite*: only partitions present in the incoming batch are
  atomically replaced; reruns converge to the same state.
- **Full refresh** (A11) = the dimension truncate-and-reload
  (``python/ingest_data.py:104-107``) as ``mode("overwrite")``.
- Chunking (A12, ``INGEST_CHUNK_SIZE``) disappears: Spark sizes tasks from
  ``spark.sql.files.maxPartitionBytes`` and parquet row groups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .conform import conform_trips

MONTH_COL = "pickup_month"


def download_if_missing(url: str, dest: str, min_bytes: int = 100,
                        timeout: int = 60, chunk_bytes: int = 8192) -> bool:
    """A1: driver-side prefetch of a remote file
    (``python/ingest_data.py:69-85``): skip when ``dest`` already exists
    above the size guard, else stream-download in bounded chunks to a
    temp name and rename atomically (a crashed download never leaves a
    plausible-looking partial file). Returns True when a download
    happened. Driver-side by design — on a cluster the executors read
    object storage directly and this step disappears."""
    import urllib.request

    if os.path.exists(dest) and os.path.getsize(dest) > min_bytes:
        return False
    tmp = dest + ".part"
    with urllib.request.urlopen(url, timeout=timeout) as resp, \
            open(tmp, "wb") as out:
        while True:
            chunk = resp.read(chunk_bytes)
            if not chunk:
                break
            out.write(chunk)
    os.replace(tmp, dest)
    return True


def read_trips(spark: SparkSession, path: str) -> DataFrame:
    """A2: parquet scan. Spark parallelizes over row groups natively —
    the reference's manual row-group loop (``python/ingest_data.py:169-175``)
    is the engine's default execution model."""
    return spark.read.parquet(path)


def read_zones_csv(spark: SparkSession, path: str) -> DataFrame:
    """A3: header CSV scan for the zones lookup
    (``python/ingest_data.py:95``). Schema inference (one extra pass) is
    acceptable for a 265-row dim — without it every column reads as
    string; real pipelines pass an explicit schema. ``conform_zones``
    enforces the contract types either way."""
    return spark.read.csv(path, header=True, inferSchema=True)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Multimodal file ingestion: the ``binaryFile`` source reads raw
    image/audio/video files as rows of (path, modificationTime, length,
    content binary) — the entry point that turns an object-store prefix
    of media files into the opaque-binary-column model f5/f12 process.
    Each file is one row read by the executor that owns the split, so a
    million-file prefix parallelizes by file without driver listing cost
    beyond the initial index. Decode/resize happens downstream in
    Arrow-batched ``mapInPandas`` (f12), never here — the source's only
    job is bytes + metadata."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def with_month(df: DataFrame) -> DataFrame:
    """Derive the partition column from pickup_datetime.

    ``date_format`` renders in the SESSION timezone: two writers with
    different timezones would assign boundary trips to different month
    partitions, breaking the idempotent-reload convergence guarantee.
    The engine pins UTC (``get_session``); this guard makes the
    requirement explicit instead of silently mis-partitioning."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"month partitioning requires spark.sql.session.timeZone=UTC "
            f"(session has {tz!r}): differing writer timezones would "
            "assign month-boundary rows to different partitions"
        )
    return df.withColumn(
        MONTH_COL, F.date_format("pickup_datetime", "yyyy-MM")
    )


def write_trips_month_idempotent(df: DataFrame, target: str,
                                 files_per_month: int = 1) -> None:
    """A10: idempotent window reload. Dynamic partition overwrite replaces
    exactly the months present in ``df`` and leaves all others untouched —
    the delete-before-insert of ``python/ingest_data.py:160-166`` without
    a separate delete pass, atomic per partition via the file-commit
    protocol (SURVEY.md §7.4 hard-point 5: single-writer, like the
    reference's systemd unit).

    ``files_per_month`` controls layout width: the shuffle key is
    (month, hash(pickup_datetime) % N), so each month writes N similar-
    sized files. Local/test default is 1; at real scale a month of trips
    is far bigger than one task's worth, so N is sized to make individual
    files land near the 128 MB-1 GB sweet spot — one-file-per-month does
    not survive a 100 TB table."""
    keyed = with_month(df).withColumn(
        "_file_bucket",
        F.pmod(F.hash("pickup_datetime"), F.lit(files_per_month)),
    )
    (
        keyed.repartition(MONTH_COL, "_file_bucket")
        .drop("_file_bucket")
        .write.mode("overwrite")
        .partitionBy(MONTH_COL)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(target)
    )


def write_full_refresh(df: DataFrame, target: str) -> None:
    """A11: truncate-and-reload for small dimensions
    (``python/ingest_data.py:104-107``)."""
    df.write.mode("overwrite").parquet(target)


def ingest_trips(spark: SparkSession, source_path: str, target: str) -> int:
    """End-to-end fact ingestion (reference ``load_trips_chunked``,
    ``python/ingest_data.py:152-183``): scan → conform (A4-A9) → idempotent
    month-partitioned write (A10). One lazy DAG, no driver-side loops.
    Returns rows written BY THIS BATCH (the reference's logged row count,
    ``:183``) — counted on the target restricted to the months this batch
    replaced, so pre-existing untouched months never inflate the number."""
    # one pass over the source: the batch's months are an Observation
    # riding the write's own job
    obs = Observation()
    batch = with_month(conform_trips(read_trips(spark, source_path)))
    write_trips_month_idempotent(
        batch.observe(obs, F.collect_set(MONTH_COL).alias("months")),
        target)
    # a fully-filtered batch: AQE prunes the empty write, metrics and
    # all, so the observation holds an empty row, which obs.get refuses
    # to convert. No data files were written; nothing to count. The
    # check reads the row through the private py4j handle ``obs._jo``
    # and the JVM's ``private[sql] Observation.getRow`` — the same call
    # ``Observation.get`` makes (measured on Spark 4.1.2); pinned by
    # tests/test_conform_edges.py::test_ingest_empty_batch_returns_zero.
    if obs._jo.getRow().size() == 0:
        return 0
    # read-back validation (count what's AT REST, not what we think we
    # wrote). Cheap: the month filter prunes to this batch's partitions,
    # parquet count() is served from row-group metadata, and naming the
    # partition column's type skips an inference job over the growing
    # target (a count reads no data column).
    return (
        spark.read.schema(f"{MONTH_COL} string").parquet(target)
        .filter(F.col(MONTH_COL).isin(obs.get["months"]))
        .count()
    )


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   buckets: int, path: str | None = None) -> None:
    """A15 (scale option): hash-bucketed, per-bucket-sorted table layout.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO shuffle (and, with ``sortBy``, zero sort) — the bucketing
    is a persisted pre-shuffle, amortized across every subsequent join or
    aggregation on that key. This is the Spark analog of the reference's
    FK B-tree indexes for the repeated-join access path
    (``sql/init.sql:46-47``) when the dim is too large to broadcast.
    Asserted shuffle-free in tests/test_bucketing.py.

    Overwrites ``table_name`` (an external table when ``path`` is
    given). A bucket may hold several files: each task writes one per
    bucket it holds (the layout co-locates whole buckets per task first),
    and the layout's appends add a sorted run per touched bucket beside
    the existing files (catalog._rewrite_layout). Readers keep the
    hash-partitioning guarantee (bucket id is a property of the key
    hash, not of file count), and Spark's bucketed scan treats a
    multi-file bucket as unsorted input."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_value_partitioned(df: DataFrame, table_name: str, key: str,
                            path: str | None = None) -> None:
    """Layout variant: one directory per distinct ``key`` value
    (``PARTITIONED BY`` at rest). Where :func:`write_bucketed` buys
    shuffle-free joins/aggregates, this buys SCAN PRUNING: a filter or
    join on the partition column reads only the matching directories
    (static pruning for literals, dynamic partition pruning for join
    keys). The right layout when consumers probe a FEW values of a
    bounded-cardinality key — the embeddings ANN index's access
    pattern (catalog.LAYOUT_VALUE_PARTITIONED). Keep the key's
    cardinality bounded (directories are metadata, and tiny files are
    the failure mode): LSH plane count, not raw ids. Overwrites
    ``table_name``, like :func:`write_bucketed`."""
    # overwrite must mean THE TABLE EQUALS THE FRAME: under the
    # session's dynamic partitionOverwriteMode (right for the
    # month-window reload sinks), a rebuild only replaces partitions
    # PRESENT in the new frame — a partition value that vanished
    # between builds (e.g. an LSH relayout to a narrower plane width)
    # would survive as stale duplicate rows (observed: 500-row source
    # served 874 after a 6→4-plane rebuild). Static mode truncates
    # every existing partition first; per-write option, the session
    # default is untouched.
    writer = (df.write.mode("overwrite").partitionBy(key).format("parquet")
              .option("partitionOverwriteMode", "static"))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def surrogate_ids(df: DataFrame, order_cols: list[str] | None = None,
                  partitions: int | None = None) -> DataFrame:
    """A13: surrogate key. Default: ``monotonically_increasing_id`` —
    distributed, collision-free, non-dense (like BIGSERIAL's ordering
    guarantees, ``sql/init.sql:22``).

    With ``order_cols``: dense deterministic rank via TWO-PHASE rank —
    range-repartition on the order key, per-partition ``row_number``
    (parallel window), plus each range partition's cumulative row offset
    (a partitions-sized metadata frame, broadcast back). A naive
    ``row_number() OVER (ORDER BY …)`` plans a SINGLE-partition window
    — the whole table through one task — and its int32 result overflows
    past 2^31 rows; this form stays partition-parallel and yields longs.
    (Same pattern as f31's training-order rank, which derives its bucket
    from the key VALUE — possible there because the key is a uniform
    hash. Arbitrary ``order_cols`` need sampled range boundaries, so
    ``_pid`` comes from the physical range exchange instead, and the
    exchange is PINNED with ``localCheckpoint``: the offsets branch and
    the rank branch both consume ``ranged``, and if they planned two
    separate exchanges the range sampler could draw different boundaries
    per branch, mis-aligning offset counts with partition assignment →
    duplicate/missing ids. The checkpoint makes ``_pid`` a read of one
    materialized partitioning rather than a replayable computation; the
    lineage cut is the accepted cost of that guarantee. Deployment
    caveat: ``localCheckpoint`` blocks live on executors
    (MEMORY_AND_DISK, unreplicated) and are NOT recomputable — on
    executor loss (preemptible/spot nodes, aggressive dynamic
    allocation) the job fails with lost-checkpoint-block errors rather
    than producing wrong ids. Fail-stop by design; clusters with
    preemptible executors should swap in reliable ``checkpoint()`` to a
    checkpoint dir, or persist with replication, at the cost of an
    extra write.)"""
    if order_cols:
        from pyspark.sql import Window as W

        n = (partitions
             or df.sparkSession.sparkContext.defaultParallelism)
        ranged = df.repartitionByRange(n, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        ).localCheckpoint(eager=False)
        offsets = (
            ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
            .select(
                "_pid",
                (F.sum("_n").over(W.orderBy("_pid")) - F.col("_n"))
                .alias("_off"),
            )
        )
        w = W.partitionBy("_pid").orderBy(*order_cols)
        return (
            ranged.join(F.broadcast(offsets), "_pid")
            .withColumn(
                "trip_id",
                F.row_number().over(w).cast("long") + F.col("_off"),
            )
            .drop("_pid", "_off")
        )
    return df.withColumn("trip_id", F.monotonically_increasing_id())


# --------------------------------------------------- generic format surface
# The reference's I/O universe is parquet in, CSV in, Postgres out
# (``python/ingest_data.py:95,169-181``) plus the cloud tier its Terraform
# provisions (GCS objects + BigQuery, ``terraform/main.tf:193-208``). The
# engine generalizes that to the format matrix Spark ships natively; one
# reader/writer pair so every format goes through the same schema and
# layout policy.

_FORMATS = ("parquet", "csv", "json", "orc")


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    """Write ``df`` in any supported format with the engine's defaults.

    CSV carries a header; JSON/CSV keep timestamps ISO-8601 so a
    round-trip re-infers them. Partition columns apply uniformly — the
    layout policy (month partitions, bucketing) is format-independent.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
        if mode == "overwrite":
            # write_table promises truncate-and-reload (A11); pin static
            # per-write because the session default is dynamic (A10's
            # writer) — under dynamic, partitions absent from df would
            # silently survive the "overwrite"
            w = w.option("partitionOverwriteMode", "static")
    if fmt == "csv":
        w = w.option("header", True)
    w.format(fmt).save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None) -> DataFrame:
    """Read any supported format; pass ``schema`` to skip inference.

    Self-describing formats (parquet/orc) carry their types; csv/json
    without an explicit schema pay one inference pass — fine for dims,
    wrong for 100 TB facts, so the fact path always passes the contract
    ``StructType`` (schemas.py)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    elif fmt in ("csv", "json"):
        r = r.option("inferSchema", True)
    if fmt == "csv":
        r = r.option("header", True)
    return r.format(fmt).load(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               batch_size: int = 10_000, **properties: str) -> None:
    """A12 exact-parity sink: chunked append into an RDBMS over JDBC —
    the Spark spelling of the reference's ``to_sql(if_exists="append",
    chunksize=INGEST_CHUNK_SIZE)`` loop (``python/ingest_data.py:177-181``,
    chunk default ``:44``). Each executor partition writes its own batched
    connection, so the chunk loop the reference hand-rolls is the task
    graph here. Round-tripped in tests/test_jdbc.py against embedded
    Apache Derby (the JDBC database Spark ships for its metastore) — no
    server needed; a networked RDBMS only changes the url/driver pair."""
    (df.write.mode(mode)
       .option("batchsize", int(batch_size))
       .jdbc(url, table, properties=dict(properties)))


def wait_for_jdbc(spark: SparkSession, url: str, attempts: int = 30,
                  sleep_s: float = 3.0, probe_sql: str = "SELECT 1",
                  **properties: str) -> int:
    """A17: JDBC sink readiness retry — the reference's ``SELECT 1``
    ping ×30 with 3 s sleep (``python/ingest_data.py:210-221``): the
    engine ships a real JDBC sink (:func:`write_jdbc`), and a warehouse
    restart mid-pipeline is an ordinary cluster event. Probes the url
    through the JVM's DriverManager (the exact connection stack the
    Spark JDBC writer uses, so readiness here means the WRITE will
    connect) until the probe statement executes; returns the 1-based
    attempt that succeeded. Raises ``ConnectionError`` after
    ``attempts`` failures — fail loudly, the reference's ``sys.exit(1)``
    posture, never a silent half-started pipeline. Driver-side by
    design, like :func:`download_if_missing`: readiness is checked once
    before executors fan out. (``probe_sql``: the reference's
    ``SELECT 1`` works on Postgres/MySQL; Derby needs ``VALUES 1``.)"""
    import time

    jvm = spark._jvm
    if "driver" in properties:
        jvm.java.lang.Class.forName(properties["driver"])
    props = jvm.java.util.Properties()
    for k, v in properties.items():
        props.setProperty(k, str(v))
    last_err = None
    for attempt in range(1, attempts + 1):
        try:
            conn = jvm.java.sql.DriverManager.getConnection(url, props)
            try:
                st = conn.createStatement()
                try:
                    st.execute(probe_sql)
                finally:
                    st.close()
            finally:
                conn.close()
            return attempt
        except Exception as exc:  # noqa: BLE001 — any JDBC failure retries
            # fail FAST on configuration errors retrying can never fix:
            # a missing/unregistered driver is the same on attempt 30
            # as on attempt 1 — burning attempts×sleep_s (default 90 s)
            # before surfacing it just hides a typo
            msg = str(exc)
            if ("No suitable driver" in msg
                    or "ClassNotFoundException" in msg):
                raise ConnectionError(
                    f"JDBC driver resolution failed for {url} — a "
                    f"configuration error, not a readiness state; not "
                    f"retrying. Pass driver='...' or register the "
                    f"driver class. Underlying: {msg}"
                ) from exc
            last_err = exc
            if attempt < attempts:
                time.sleep(sleep_s)
    raise ConnectionError(
        f"JDBC endpoint not ready after {attempts} attempts "
        f"({attempts * sleep_s:.0f}s): {url} — last error: {last_err}"
    )


def merge_upsert(target: DataFrame, updates: DataFrame,
                 keys: list[str]) -> DataFrame:
    """MERGE-INTO semantics on plain parquet frames (updates win):
    matched rows take the update's values, unmatched target rows stay,
    update-only rows insert — the SCD-Type-1 upsert ANSI MERGE expresses,
    computed as ONE full-outer equi join + presence-marker projection.

    Contract: ``updates`` must be key-unique, the same precondition ANSI
    MERGE enforces with a multiple-match error — a CDC batch carrying
    the same key twice must be collapsed first (e.g. f32's arg-min
    pattern, or max-by-sequence-number), because a duplicate-keyed
    update would fan the matched target row out once per duplicate.

    Scale posture: the join shuffles on the merge key (AQE broadcasts a
    small update batch automatically); at rest the pattern pairs with
    dynamic partition overwrite (`write_trips_month_idempotent`) so only
    partitions containing merged keys rewrite — Spark-on-parquet's
    answer to a transactional MERGE, with the rewrite scope as the
    transaction granule."""
    cols = target.columns
    # presence marker, not per-column coalesce: ANSI MERGE's matched
    # branch takes the update row's values INCLUDING explicit NULLs —
    # coalesce(u.c, t.c) would silently keep the stale target value when
    # an update sets a column to NULL
    u = updates.select(*cols).withColumn("_u", F.lit(1))
    t_a, u_a = target.alias("t"), u.alias("u")
    merged = t_a.join(u_a, on=keys, how="full_outer")
    matched = F.col("u._u").isNotNull()
    return merged.select(*[
        (F.col(c) if c in keys  # name-based join pre-coalesces key cols
         else F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")))
        .alias(c)
        for c in cols
    ])
