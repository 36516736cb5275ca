"""Group D query keys — streaming operators over the events table
(SURVEY.md §2 group D). Window/session/dedup/stream-static keys run in
their *batch form* here (oracle-checkable — identical plans run
incrementally via streaming.py, asserted in tests/test_streaming.py);
source/watermark/stateful/sink keys execute a real bounded stream and are
rows-only."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, functions as F

from .. import fx
from ..catalog import table
from ..registry import query
from ..streaming import (
    ephemeral_scratch_dir,
    events_stream,
    foreach_batch_idempotent_sink,
    run_available_now,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "d1_stream_source",
    # bounded replay in complete mode processes every row exactly once,
    # so the streaming result is value-identical to the batch aggregate
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1",
)
def d1_stream_source(spark, sf_dir):
    """D1: file-source stream replayed to completion (availableNow) —
    counts per event type via a real streaming query. Complete-mode
    output over a bounded replay is deterministic, so even the streaming
    execution path is value-checked against the batch oracle."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_available_now(agg, "d1_counts", output_mode="complete")


@query(
    "d2_watermark",
    # The bounded replay is ONE micro-batch (single file, no
    # maxFilesPerTrigger), so the final watermark is max(ts) - 10min and
    # append mode emits exactly the windows whose end has passed it —
    # expressible as a batch filter. Window ends are on the hour and the
    # watermark carries max(ts)'s microseconds, so the <=/< boundary is
    # unreachable and the twin is exact.
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, COUNT(*) AS n
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    GROUP BY 1, 2
    """,
)
def d2_watermark(spark, sf_dir):
    """D2/D7: watermarked tumbling aggregate in append mode — windows
    close once the 10-minute watermark passes; late rows beyond it drop.
    Oracle-checked (r4): the ordered single-batch replay pins the final
    watermark at max(ts) - 10min, making the emitted window set a pure
    batch predicate; the held-back tail windows are exactly those the
    SQL twin excludes. Window EVICTION across genuinely advancing
    micro-batches (the property the single-batch replay assumes away)
    is pinned by the r8 chunked-replay test
    (tests/test_streaming.py::test_d2_chunked_replay_*), which streams
    the same plan (``d2_windowed``) over time-ordered file chunks and
    must emit the identical window set with state removed mid-replay."""
    agg = d2_windowed(events_stream(spark, sf_dir))
    return run_available_now(agg, "d2_watermarked", output_mode="append")


def d2_windowed(events: DataFrame) -> DataFrame:
    """The d2 watermarked-window plan over an already-constructed event
    stream (split out in r8 for the chunked multi-batch replay test —
    see d11_joined)."""
    return (
        events
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", _TS_FMT).alias("win_start"),
            "event_type", "n",
        )
    )


@query(
    "d3_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def d3_tumbling(spark, sf_dir):
    """D3: tumbling window aggregate — ``F.window`` in batch form (epoch-
    aligned 1h windows ≡ date_trunc hour). The identical plan runs as a
    stream in tests/test_streaming.py::test_tumbling_batch_equivalence.

    Null event time is EXPLICITLY excluded on both sides (r6 edge
    finding): Spark's window operator silently injects an
    isnotnull(ts) filter while SQL date_trunc keeps a NULL group, so
    the two diverge exactly when events carry no timestamp. An event
    without event time cannot be windowed — production routes it to a
    dead-letter/quality count (f33's class), never silently."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fx.fround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", _TS_FMT).alias("win_start"),
            "event_type", "n", "total_value",
        )
    )


@query(
    "d4_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                    - k.k * INTERVAL '15 minutes',
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n
    FROM events
    CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
)
def d4_sliding(spark, sf_dir):
    """D4: sliding window (1h length, 15min slide) — each event lands in 4
    overlapping windows; the oracle derives the same 4 starts from the
    15-minute bucket. Null event time excluded explicitly on both
    sides — see d3's note."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", _TS_FMT).alias("win_start"), "n"
        )
    )


@query(
    "d5_session",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 100.0 + 0.5) / 100.0 AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def d5_session(spark, sf_dir):
    """D5: session windows (30-minute gap) — ``session_window`` in batch
    form; the oracle is the classic gap-island SQL (SURVEY.md §7.4 point 7).
    Session merge rule: an event at exactly prev_ts+30min starts a NEW
    session (half-open session end), mirrored by ``>=`` in the oracle.
    Null event time excluded explicitly on both sides — see d3's note
    (session_window drops nulls implicitly; the gap-island SQL would
    otherwise sort them into the first session)."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fx.fround(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", _TS_FMT)
            .alias("session_start"),
            "n_events", "session_value",
        )
    )


def d5_sessionized(events: DataFrame) -> DataFrame:
    """The d5 session-window plan over an already-constructed event
    stream (split out in r11 for the kill-and-restart recovery test,
    the d2_windowed/d12_deduped pattern): watermarked 30-minute-gap
    sessions per user, append mode emits each session once the
    watermark passes its end. Session state (open sessions: start,
    last-event, running agg) is exactly what must survive a crash."""
    return (
        events
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", _TS_FMT)
            .alias("session_start"),
            "n_events",
        )
    )


def d6_deduped(events: DataFrame) -> DataFrame:
    """The d6 stream-dedup plan over an already-constructed event
    stream (r11, for the crash-recovery test): plain ``dropDuplicates``
    — unbounded state, each key emitted exactly ONCE for the stream's
    lifetime, which is precisely the state a restart must recover (a
    lost state store would re-emit every key the post-crash chunks
    carry)."""
    return (
        events
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )


@query(
    "d6_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def d6_stream_dedup(spark, sf_dir):
    """D6: dedup on a key subset — ``dropDuplicates`` in batch form; the
    streaming form (state-backed) is asserted equivalent and
    crash-recoverable in tests/test_streaming.py. Delegates to the
    split-out plan the recovery test exercises (the d2/d8/d11/d12
    pattern), so the tested plan IS the registry key's plan."""
    return d6_deduped(table(spark, sf_dir, "events"))


@query(
    "d8_stateful",
    # update-mode emits one row per user per micro-batch; the bounded
    # replay is ONE batch (single file), so the memory sink holds exactly
    # each user's final state = the plain batch aggregate. The FILTER
    # spells the op's measurement contract (see track()): a NaN reading
    # is as absent as a NULL one — the pandas state layer cannot tell
    # them apart anyway (float64 has no null), and SQL's MAX would
    # otherwise return NaN (both engines order NaN above +Inf).
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           MAX(value) FILTER (WHERE NOT isnan(value)) AS max_value
    FROM events GROUP BY 1
    """,
)
def d8_stateful(spark, sf_dir):
    """D8: arbitrary stateful processing — per-user running event count +
    max value maintained in explicit GroupState via
    ``applyInPandasWithState`` over a real bounded stream. Oracle-checked
    (r4): single-batch replay means the per-user final state IS the batch
    aggregate (the multi-batch path emits intermediate updates too —
    asserted separately in tests/test_streaming.py).

    (Spark 4's successor API, ``transformWithStateInPandas``, was
    verified to exist here but its Python runner requires protobuf,
    which this container lacks — the GroupState API is the supported
    path in this environment.)

    Cross-batch state carry (the property the single-batch replay
    assumes away) is pinned by the r8 chunked-replay test
    (tests/test_streaming.py::test_d8_chunked_replay_*): the same plan
    (``d8_tracked``) over time-ordered file chunks must emit
    monotonically growing per-user counts whose FINAL state equals the
    batch aggregate."""
    out = d8_tracked(events_stream(spark, sf_dir))
    # A FIXED 8 state partitions, sized to the op's compute profile,
    # not to the host: d8's per-partition cost is COMPUTE (a
    # Python-worker round per partition per batch), so the
    # store-minimizing replay default (2) serializes it, while a
    # core-derived count is too few at 8 cores and inflates the worker
    # spawn bill at 32. Fresh-JVM at sf0.1
    # (plans/r15/d8_state_parts_ab.json): at 32 cores parts=2 → 3.4 s,
    # 8 → 1.7 s, 16 → 1.9 s; at 8 cores parts=4 → 5.3 s, 8 → 2.0 s.
    # The per-query value replaces the replay default of 2.
    return run_available_now(
        out, "d8_state", output_mode="update", state_partitions=8,
    )


def d8_tracked(events: DataFrame) -> DataFrame:
    """The d8 explicit-GroupState plan over an already-constructed event
    stream (split out in r8 for the chunked multi-batch replay test —
    see d11_joined)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def track(key, pdfs, state: GroupState):
        # measurement contract (r6 IEEE-specials finding): NaN readings
        # are as absent as NULL ones — the float64 batch conflates them
        # (pandas has no null double), and the previous bare .max()
        # relied on pandas' silent skipna while SQL MAX returns NaN.
        # notna() drops both; ±Inf are legitimate readings and survive.
        # No -Inf init sentinel: a user whose only reading IS -Inf must
        # be distinguishable from a user with no readings (None → NaN →
        # NULL-equivalent at the sink).
        n, vmax = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"]
            v = v[v.notna()]
            if len(v):
                m = float(v.max())
                vmax = m if vmax is None else max(vmax, m)
        state.update((n, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, vmax double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@query(
    "d9_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           FLOOR(SUM(e.value) * 100.0 + 0.5) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def d9_stream_static_join(spark, sf_dir):
    """D9: stream⋈static dimension join, batch form (stream form in
    tests). The static side broadcasts — in a real stream every micro-batch
    reuses the broadcast, no per-batch shuffle. (Deliberately forced:
    AQE does not replan streaming queries, and shuffling the unbounded
    stream per micro-batch is strictly worse for any dim that fits; a
    static side too big to broadcast changes operator, not hint —
    pre-bucketed join or state-store lookup.)"""
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fx.fround(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "d10_foreachbatch",
    # exactly-once sink over a bounded replay = every event row written
    # exactly once; reading the sink back is a projection of events
    oracle="SELECT event_id, user_id, value FROM events",
)
def d10_foreachbatch(spark, sf_dir):
    """D10: exactly-once sink — foreachBatch + checkpoint + per-epoch
    deterministic overwrite; returns the sunk rows read back.
    Oracle-checked (r4): exactly-once + bounded replay means the sink
    holds each source row once, so the read-back equals the source
    projection (the restart/idempotency half is asserted in
    tests/test_streaming.py::test_foreachbatch_restart_is_exactly_once)."""
    tmp = tempfile.mkdtemp(prefix="d10_")
    target = os.path.join(tmp, "out")
    checkpoint = os.path.join(tmp, "ckpt")
    sdf = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    foreach_batch_idempotent_sink(sdf, target, checkpoint)
    return spark.read.parquet(target).select("event_id", "user_id", "value")


@query(
    "d11_stream_stream_join",
    # inner stream-stream join emits each match exactly once; a bounded
    # availableNow replay therefore produces the full batch-join result
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           date_diff('second', c.ts, p.ts) AS secs_to_purchase
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def d11_stream_stream_join(spark, sf_dir):
    """D11: watermarked stream-stream interval join — clicks joined to
    the purchases that follow them within 30 minutes, as a real
    Structured Streaming query (two file-source streams, event-time
    watermarks on both sides, availableNow replay). The watermark +
    interval condition is what lets Spark BOUND the join state: click
    rows older than watermark - 30min can never match a future purchase
    and are evicted, so state stays proportional to the time window, not
    the stream length — the property that makes the op viable on an
    unbounded 100 TB/day stream. State shuffles by user_id (the equi
    part); the range part evaluates post-match.

    ``date_diff('second')`` counts second-boundary crossings =
    floor(epoch(p)) - floor(epoch(c)), which is exactly the
    ``to_unix_timestamp`` subtraction on the Spark side."""
    joined = d11_joined(events_stream(spark, sf_dir),
                        events_stream(spark, sf_dir))
    return run_available_now(joined, "d11_ss_join", output_mode="append")


def d11_joined(events_a: DataFrame, events_b: DataFrame) -> DataFrame:
    """The d11 stream-stream interval-join plan over two
    already-constructed event streams. Split out (r7) so the chunked
    multi-batch replay test (test_streaming.py) drives the SAME join
    code path through N time-ordered micro-batches — pinning the
    watermark-eviction premise the single-batch reduction assumes."""
    clicks = (
        events_a
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_b
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id", "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.to_unix_timestamp("p_ts") - F.to_unix_timestamp("c_ts"))
        .alias("secs_to_purchase"),
    )


@query(
    "d12_dedup_within_watermark",
    # keys-only projection after dedup → output is exactly DISTINCT keys
    # regardless of which physical row survived per key
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def d12_dedup_within_watermark(spark, sf_dir):
    """D12: ``dropDuplicatesWithinWatermark`` — dedup whose state is
    EVICTABLE: a key's dedup record is dropped once the watermark passes
    its event time + delay, so state is proportional to the watermark
    window, not the stream's lifetime. d6's plain ``dropDuplicates``
    keeps every key forever (exact, but unbounded state); this is the
    form an unbounded 100 TB/day stream actually runs, trading re-admit
    of duplicates that arrive further apart than the delay. In the
    bounded availableNow replay every duplicate falls inside one
    watermark window, so the result equals exact DISTINCT — which is
    what makes the key oracle-checkable. The chunked multi-batch replay
    (watermark advancing, state genuinely evicted) is exercised in
    tests/test_streaming.py::test_d12_chunked_replay_within_dedup_contract,
    which pins the operator's real contract: key-set equality with
    DISTINCT plus re-admissions bounded by first-occurrence chains."""
    deduped = d12_deduped(events_stream(spark, sf_dir))
    return run_available_now(deduped, "d12_dedup_wm", output_mode="append")


def d12_deduped(events: DataFrame) -> DataFrame:
    """The d12 evictable-dedup plan over an already-constructed event
    stream (split out in r7 for the chunked multi-batch replay test —
    see d11_joined)."""
    return (
        events
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


@query(
    "d13_python_stream_source",
    oracle="""
    SELECT i AS id, md5('42:' || CAST(i AS VARCHAR)) AS fp
    FROM range(1500) t(i)
    """,
)
def d13_python_stream_source(spark, sf_dir):
    """D13: custom Python STREAMING source (Spark 4
    ``SimpleDataSourceStreamReader``) — the streaming half of A21's
    extension point: offset-tracked incremental reads with a
    deterministic replay contract (``readBetweenOffsets``), which is
    what lets checkpoint recovery re-emit a committed range instead of
    losing or duplicating it. Bounded here (n rows, single batch — the
    Python micro-batch runtime has no AvailableNow support, see
    pysource.py); the multi-micro-batch path runs in
    tests/test_pysource.py. Oracle: the seeded-md5 payload rebuilt by
    DuckDB, as a21."""
    from ..pysource import register_stream

    register_stream(spark)
    sdf = (
        spark.readStream.format("rangedocs_stream")
        .option("n", 1500).option("batch", 1500)
        .load()
    )
    return run_available_now(sdf, "d13_pysrc_stream", output_mode="append")


@query(
    "d14_stream_layout_maintenance",
    # exactly-once streaming maintenance + bounded replay means the
    # layout holds each streamed order exactly once, so the aggregate
    # served THROUGH the layout equals the batch aggregate over the
    # original table
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders GROUP BY 1
    """,
)
def d14_stream_layout_maintenance(spark, sf_dir):
    """D14: streaming maintenance of the bucketed workload layout
    (r13 — D-group streaming meets A15's index lifecycle): the orders
    table replayed as a 3-micro-batch file stream, each batch published
    into a fresh source directory under deterministic names and
    incrementally appended into the bucketed layout by
    ``catalog.stream_append_layout`` (foreachBatch + checkpoint +
    replay-guarded marker = exactly-once, per-batch cost O(batch)).
    The reference's monthly ingest-then-index cadence
    (``python/ingest_data.py:160-166`` + ``sql/init.sql:44-47``) as a
    continuous stream. Returns an aggregate over the SERVED layout;
    the crash/replay/foreign-checkpoint halves are pinned in
    tests/test_stream_layout.py.

    r13 ADVICE: the served aggregate is materialized INSIDE the key
    (5 priority rows) and the mkdtemp feed/source/layout/checkpoint
    trees plus the registered ``spark_graft_layout_*`` table are
    dropped before returning, so repeated bench/drive invocations no
    longer accumulate temp trees or catalog entries — mirroring the
    tests' finally blocks."""
    import shutil

    from ..catalog import drop_workload_layout, stream_append_layout

    # the whole tree is removed in the finally below — ephemeral
    # scratch, so tmpfs placement (r14 optimization) changes latency
    # only; recovery semantics stay pinned on durable dirs in
    # tests/test_stream_layout.py
    tmp = ephemeral_scratch_dir("d14_")
    feed = os.path.join(tmp, "feed")
    src2 = os.path.join(tmp, "src")
    lay = os.path.join(tmp, "layout")
    ckpt = os.path.join(tmp, "ckpt")
    try:
        orders = table(spark, sf_dir, "orders")
        # 3 part files -> 3 micro-batches under maxFilesPerTrigger=1
        orders.repartition(3).write.parquet(feed)
        stream = (spark.readStream.schema(orders.schema)
                  .option("maxFilesPerTrigger", 1).parquet(feed))
        os.makedirs(src2)
        # publish="link" (r15): this stream is a bare file-source scan
        # of the immutable feed, so each batch's publication into the
        # source directory is a hardlink of its own input file — the
        # per-batch Spark re-serialization job the "write" path paid is
        # gone (guide §1.2: the cheapest correct operation is a
        # metadata move). Exactly-once protocol unchanged (same names,
        # marker, replay guard) — pinned in tests/test_stream_layout.py
        # including link-vs-write equivalence.
        stream_append_layout(stream, src2, lay, "orders", ckpt, buckets=4,
                             publish="link")
        served = table(spark, src2, "orders")
        agg = served.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            fx.fround(F.sum(fx.dec("o_totalprice", scale=2))
                      .cast("double"), 2).alias("total_price"),
        )
        # materialize the (priority-cardinality) result so the temp
        # trees can be reclaimed before the driver's collect
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        drop_workload_layout(spark, src2, tables=("orders",))
        shutil.rmtree(tmp, ignore_errors=True)
