"""Catalog layer — the Spark equivalent of the reference's DDL bootstrap
(``sql/init.sql:9-47``; SURVEY.md §3 entry point 2).

The reference materializes a fixed star schema and three B-tree indexes.
In Spark the same capability is: register the parquet tables in the session
(temp views here; ``saveAsTable`` for a persistent metastore), and replace
indexes with storage layout — date partitioning for range pruning, broadcast
joins for the small dimensions (SURVEY.md §1.4, §4.1).
"""

from __future__ import annotations

import contextlib
import functools
import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import store
from .session import _TARGET_PARTITION_BYTES
from .store import check_stream_identity  # noqa: F401  (public re-export)

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# (Broadcast decisions are made at each join site with F.broadcast —
# the zones-dim observation of SURVEY.md §1.1 — and asserted by
# tests/test_plans.py; no central dim list exists so the code can't
# drift from the actual physical plans.)


def nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Names of columns the parquet footer types as TIMESTAMP(NANOS).

    Driver-side footer peek (pyarrow metadata read, no data IO; cached).
    The type of a driver-provided file has CHANGED between rounds
    (events.ts nanos → micros, see TESTDATA.md), silently breaking code
    that assumed one unit — so the batch and stream readers dispatch on
    the actual footer type instead of assuming, and they do it for
    EVERY timestamp column of every table (orders/lineitem dates are
    timestamp[us] today and would break ~40 keys the same way if they
    flipped).

    The cache is keyed on :func:`_source_parts`: every part's (name,
    mtime_ns, size), so adding or rewriting ANY part re-dispatches (size
    catches a rewrite inside one coarse mtime tick), and an unstat-able
    path is not cached. Directories peek EVERY part footer and refuse a
    mixed-unit table loudly — a single-unit dispatch cannot represent
    one, and any subset peek can miss the odd part out."""
    fp = _path_fingerprint(path)
    # footer reads are metadata-only (~ms each) and cached per source
    # version, so a table with thousands of parts pays them once
    return _nanos_ts_columns_at(path, fp) if fp else ()


@functools.lru_cache(maxsize=256)
def _nanos_ts_columns_at(path: str, fingerprint: tuple) -> tuple[str, ...]:
    """Nanos columns of the parts ``fingerprint`` names (the hashable
    form of :func:`_source_parts`, or a subset of it) of source
    ``path``."""
    import pyarrow.parquet as pq

    peek_paths = _part_paths(path, fingerprint)
    per_part = []
    for p in peek_paths:
        try:
            schema = pq.read_schema(p)
        except Exception as exc:
            if len(peek_paths) > 1:
                # a directory with one unreadable footer (mid-write,
                # truncated) must refuse LOUDLY: swallowing it would
                # return () for the whole table and silently disable
                # both the nanos dispatch and the mixed-unit guard —
                # the exact silent-misread this function exists to
                # prevent. (A single bad file fails Spark's own read
                # immediately, so () is harmless there.)
                raise ValueError(
                    f"unreadable parquet footer in part file {p} "
                    f"(of {len(peek_paths)} parts): cannot determine "
                    f"the table's timestamp unit — is a writer still "
                    f"running? ({exc})"
                ) from exc
            return ()
        per_part.append(tuple(
            f.name for f in schema if getattr(f.type, "unit", None) == "ns"
        ))
    if len(set(per_part)) > 1:
        # report the MINORITY unit as the anomaly (the majority defines
        # "the table"; blaming whichever cols differ from parts[0] would
        # finger the nine good parts when the one stray sorts first)
        from collections import Counter

        majority = Counter(per_part).most_common(1)[0][0]
        odd = [
            (p, cols) for p, cols in zip(peek_paths, per_part)
            if cols != majority
        ]
        raise ValueError(
            f"mixed TIMESTAMP units across part files of one table: "
            f"{len(peek_paths) - len(odd)} of {len(peek_paths)} parts "
            f"have nanos columns {majority} but {odd[0][0]} has "
            f"{odd[0][1]} ({len(odd)} minority part(s)); a single-unit "
            "reader dispatch cannot represent this — rewrite the table "
            "with one unit"
        )
    return per_part[0]


def events_ts_is_nanos(path: str) -> bool:
    """True iff the events parquet stores ``ts`` as TIMESTAMP(NANOS)."""
    return "ts" in nanos_ts_columns(path)


def _source_parts(path: str) -> dict[str, list[int]]:
    """``{basename: [mtime_ns, size]}`` of a parquet source's parts (a
    Spark-written directory's ``*.parquet`` files, or the single file).
    The one source-version rule: the nanos dispatch, the schema cache,
    the view memo, the layout staleness gate and the layout manifest
    all derive from it, so a rewritten or added part invalidates every
    one of them. Metadata-only; raises OSError when unstat-able."""
    import glob as _glob

    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    else:
        parts = [path]
    return {
        os.path.basename(p): [st.st_mtime_ns, st.st_size]
        for p in parts for st in (os.stat(p),)
    }


def _frozen(parts: dict[str, list[int]]) -> tuple:
    return tuple((n, *meta) for n, meta in parts.items())


def _path_fingerprint(path: str) -> tuple | None:
    """Hashable :func:`_source_parts` for driver-side cache keys;
    ``None`` = unstat-able (don't cache)."""
    try:
        return _frozen(_source_parts(path))
    except OSError:
        return None


def _part_paths(path: str, fingerprint: tuple) -> tuple[str, ...]:
    if not os.path.isdir(path):
        return (path,)
    return tuple(os.path.join(path, n) for n, *_meta in fingerprint)


# Driver-side parquet schema cache (the driver should do almost no
# per-query work). ``spark.read.parquet`` pays ~140 ms of py4j + Hadoop
# footer inference PER CALL; with ~190 ``table()`` call sites × 2 bench
# reps, uncached inference is ~25% of the whole sf0.1 board's wall.
# Passing the cached schema back to the reader
# (``spark.read.schema(s).parquet(path)``) skips inference (~19 ms) and
# changes NOTHING downstream: the relation still gets fresh attribute
# ids (no self-join aliasing hazard), and column pruning + predicate
# pushdown are scan-time properties, unaffected (asserted in
# tests/test_plans.py PushedFilters checks). Keyed on the same
# fingerprint rule as the nanos dispatch, so a rewritten file re-infers.
#
# Scope assumption: the cache is process-global, keyed on
# (path, fingerprint) only — NOT on the SparkSession or on parquet-
# inference confs (e.g. spark.sql.parquet.inferTimestampNTZ.enabled).
# Every session in this engine comes from session.get_session with
# uniform parquet-inference settings, so one inferred schema is valid
# process-wide; a host application mixing sessions with DIFFERENT
# inference confs must clear _SCHEMA_CACHE between them (or key a fork
# of this cache on the session, the _VIEW_MEMO pattern).
_SCHEMA_CACHE: dict[tuple, object] = {}


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    fp = _path_fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    key = (path, fp)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        if len(_SCHEMA_CACHE) > 256:  # bound: a few bytes per entry
            _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _read_parquet_dispatch(spark: SparkSession, path: str,
                           parts: dict[str, list[int]]) -> DataFrame:
    """Read only ``parts`` (a subset of :func:`_source_parts`) of the
    directory source ``path`` with the nanos-footer dispatch
    :func:`table` applies to whole sources — the incremental layout path
    reads just the parts a source appended. Mixed units among the
    given parts refuse loudly."""
    fp = _frozen(parts)
    paths = _part_paths(path, fp)
    ns_cols = _nanos_ts_columns_at(path, fp)
    if ns_cols:
        return _read_nanos(spark, paths, ns_cols)
    return spark.read.parquet(*paths)


def _read_nanos(spark: SparkSession, paths, ns_cols) -> DataFrame:
    """Read parquet whose ``ns_cols`` are TIMESTAMP(NANOS), which Spark's
    micro-precision engine cannot represent: as longs floor-divided to
    micros (the truncation DuckDB applies), cast to NTZ so both unit
    branches yield the same type (the LTZ→NTZ cast is wall-clock
    identity under the UTC-pinned session). The legacy flag is
    session-scoped by design and NOT restored: the scan evaluates
    lazily, possibly long after this call."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(*paths)
    for c in ns_cols:
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            .cast("timestamp_ntz"),
        )
    return df


def table(spark: SparkSession, sf_dir: str, name: str,
          with_derived: bool = False) -> DataFrame:
    """Read one testdata table (one parquet file per TESTDATA.md).

    ``with_derived=True`` additionally exposes the table's registered
    derived layout columns (``LAYOUT_DERIVED``, e.g. embeddings'
    ``graft_lsh_bucket``): served STORED (pre-partitioned) when a
    layout is registered, computed on the fly otherwise — value-
    identical either way, so query results never depend on whether the
    index exists (the reference's expression-index economics:
    ``sql/init.sql:44-47``). Default serves the plain schema — derived
    columns are dropped from a served layout so ordinary consumers see
    the source schema unchanged.

    Timestamps are parquet timestamp[us] (→ native ``TIMESTAMP_NTZ``;
    session tz is pinned UTC by session.py so NTZ↔epoch conversions are
    deterministic). Any column a regenerated file stores as
    TIMESTAMP(NANOS) — which Spark's micro-precision engine cannot
    represent — is read as a long and floor-divided to micros, the same
    truncation DuckDB applies when casting ns → its micro-precision
    TIMESTAMP, so oracle comparisons agree either way.

    When a workload layout is registered for (this session, this
    ``sf_dir``) — see :func:`build_workload_layout` — and serving is on
    (``spark.spark_graft.layout_serve``, default true), the bucketed
    copy is returned instead: same rows and schema, plus the persisted
    hash-partitioning that lets every orderkey join/aggregate plan
    without an Exchange. The reference's index transparency
    (``sql/init.sql:44-47``: queries don't opt in to indexes) for
    Spark."""
    bucketed = spark.conf.get(_layout_conf_key(sf_dir, name), None)
    if bucketed is not None and (
        spark.conf.get(LAYOUT_SERVE_CONF, "true").lower() == "true"
    ):
        # staleness gate (refuse loudly, the footer-type-gate posture):
        # an index must never silently serve rows its source no longer
        # has. Metadata-only stat walk, ~µs per call at plan build.
        src = os.path.join(sf_dir, f"{name}.parquet")
        built_fp = spark.conf.get(
            _layout_conf_key(sf_dir, name) + ".src", None)
        if built_fp is not None:
            try:
                cur_fp = _source_fingerprint(src)
            except (FileNotFoundError, OSError) as exc:
                # a DELETED source is the extreme staleness case — the
                # gate must still speak in its own vocabulary, not leak
                # a bare os.stat error
                raise ValueError(
                    f"workload layout {bucketed!r} is STALE: the source "
                    f"{src} no longer exists ({exc}). Drop the layout "
                    f"(drop_workload_layout) or restore the source."
                ) from exc
            if cur_fp != built_fp:
                raise ValueError(
                    f"workload layout {bucketed!r} is STALE: the source "
                    f"{src} changed after the layout was built. Rebuild "
                    f"with build_workload_layout(..., rebuild=True), or "
                    f"drop it (drop_workload_layout) to fall back to the "
                    f"plain scan."
                )
        served = spark.table(bucketed)
        derived = LAYOUT_DERIVED.get(name, {})
        if derived and with_derived:
            missing = [c for c in derived if c not in served.columns]
            if missing:
                # backstop for a layout built under an older derived-
                # column set that slipped past the manifest gate (e.g.
                # conf-registered in this session before an engine
                # upgrade): refuse loudly rather than fail analysis
                raise ValueError(
                    f"workload layout {bucketed!r} lacks derived "
                    f"column(s) {missing} the current engine defines — "
                    f"it was built under an older LAYOUT_DERIVED set. "
                    f"Rebuild with build_workload_layout(..., "
                    f"rebuild=True).")
        if derived and not with_derived:
            served = served.drop(*derived)
        return served
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = nanos_ts_columns(path)
    # the legacy flag is only set when a file actually IS nanos; a
    # session also reading OTHER nanos parquet it wants typed as long
    # would need a separate session
    df = (_read_nanos(spark, (path,), ns_cols) if ns_cols
          else _read_parquet_cached(spark, path))
    if with_derived:
        for col_name, factory in LAYOUT_DERIVED.get(name, {}).items():
            df = df.withColumn(col_name, factory(df))
    return df


# Per-session view-registration memo: ``createOrReplaceTempView``
# costs ~110 ms of py4j/catalog work per view per call, and the
# SQL-surface keys would re-register identical views every bench rep.
# The memo records what each view name was last registered AS —
# (sf_dir, source fingerprint, layout-serving state) — and skips the
# re-registration only on an exact match, so a changed file, a
# different sf_dir, a registered/dropped layout, or a new session
# re-registers exactly as before. Keyed weakly on the session
# object: a stopped/recreated session starts with an empty memo.
import weakref as _weakref

_VIEW_MEMO: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """CREATE-OR-REPLACE temp views for SQL-surface queries (C30/C31).

    Mirrors ``CREATE TABLE IF NOT EXISTS`` idempotency
    (``sql/init.sql:12,21``): safe to call repeatedly.

    Invariant: temp views named after TESTDATA_TABLES are
    only ever (re)registered THROUGH this function — the per-session
    memo below skips a re-registration when (sf_dir, source
    fingerprint, layout state) are unchanged, so any code that drops or
    overwrites one of these view names outside this function would be
    silently masked by the skip. No such code exists; a future drop
    helper must also clear the session's ``_VIEW_MEMO`` entry.
    """
    try:
        memo = _VIEW_MEMO.setdefault(spark, {})
    except TypeError:  # un-weakref-able session stub (tests)
        memo = {}
    serve = spark.conf.get(LAYOUT_SERVE_CONF, "true")
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        state = (sf_dir, _path_fingerprint(path),
                 spark.conf.get(_layout_conf_key(sf_dir, name), None),
                 serve)
        if memo.get(name) == state:
            continue
        table(spark, sf_dir, name).createOrReplaceTempView(name)
        memo[name] = state


def bootstrap_database(spark: SparkSession, db: str = "nyc") -> None:
    """``CREATE SCHEMA IF NOT EXISTS nyc`` (``sql/init.sql:9``) equivalent."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


# ------------------------------------------------------- A15 workload layout
# The reference builds its indexes ONCE in DDL and every query uses them
# transparently (``sql/init.sql:44-47`` — no per-query opt-in). This is
# that economics for Spark: one bucketed build of the orderkey-keyed fact
# tables, after which :func:`table` serves the bucketed copies to EVERY
# query in the session — the orderkey workload class (tpch q3/q9/q18/q21-
# shaped joins and aggregates, including group-bys on orderkey SUPERSETS)
# stops shuffling the facts. Measured at K=100: 2.4–4.3× with 2→0 / 4→1
# Exchanges (SCALE.md §13c); proved through the ordinary registry keys —
# identical results and strictly fewer shuffles — in
# tests/test_workload_layout.py. The build cost is paid once per layout
# dir and amortizes across every subsequent orderkey query (115 s built
# both facts at K=100, repaid within a handful of q18/q21 runs).

LAYOUT_BUCKET_KEYS = {
    "orders": "o_orderkey", "lineitem": "l_orderkey",
    # the dedup/ANN family's layout class:
    # documents buckets on the STORED doc_id — hash partitioning is
    # preserved through Generate (explode), so every tokenize→explode→
    # groupBy(doc_id) aggregate in the F-group (f10 simhash, f25/f26
    # passage rollups, f29 unigram LM, f30 n-gram decontamination)
    # plans with ZERO Exchanges, no query changes (probed before
    # productizing: explode→groupBy(doc_id) 1→0 exchanges).
    "documents": "doc_id",
    # embeddings lays out on a DERIVED column: the fixed-hyperplane LSH
    # bucket (f3_lsh_ann's bucket rule), materialized at build — a
    # persisted ANN index. Static planes are exactly the indexable
    # class: appended vectors land in the same buckets, so incremental
    # maintenance stays valid; the data-ADAPTIVE quantizers (f13's
    # split refinement, f21's seed/k-means cells) are deliberately NOT
    # layout keys — their bucket rule changes with the data, so an
    # append would silently invalidate the stored assignment (they
    # need periodic refit, a rebuild, not maintenance).
    "embeddings": "graft_lsh_bucket",
}
# Tables laid out as VALUE-PARTITIONED (one directory per key value)
# instead of hash-bucketed. For an ANN index the win is SCAN PRUNING,
# not shuffle avoidance — the query side is small and broadcasts, so
# the candidate side never shuffles anyway; what a 100 TB index must
# avoid is READING the 99% of buckets no query probes. Partitioning by
# the bucket value makes Spark's dynamic partition pruning scope the
# candidate scan to exactly the probed buckets (verified in the plan:
# ``dynamicpruningexpression(graft_lsh_bucket IN ...)``); bucket count
# is the LSH plane count's 2^n, which is deliberately bounded (IVF-file
# shape: cells = directories).
LAYOUT_VALUE_PARTITIONED = {"embeddings"}
# Join families: tables that equi-join each other on their bucket keys
# must share ONE bucket count or the shuffle-free join property is
# silently lost (hash(x) mod 128 and mod 64 land the same key in
# different buckets). Tables in different families never join on their
# bucket keys, so their counts are independent (documents/embeddings
# each stand alone: the F-group never joins them to the TPC-H facts
# on bucket keys).
LAYOUT_FAMILIES = {"orders": "orderkey", "lineitem": "orderkey"}
LAYOUT_SERVE_CONF = "spark.spark_graft.layout_serve"
# f3_lsh_ann's oracle-contract LSH width: the stored bucket's width
# when a build names none.
_N_LSH_PLANES = 4


def _embeddings_lsh_bucket_at(n_planes: int):
    """Derived-column factory for the embeddings layout's stored LSH
    bucket at ``n_planes`` planes: f3's exact bucket expression (sign
    bits against the first ``n_planes`` planes of the seeded
    prefix-stable ``llm.LSH_PLANES`` stream) over the raw ``embedding``
    column. Plane i is identical at every width, so layouts of any
    width agree on their shared sign bits and the 4-plane oracle
    contract never moves. Deployments size the width with
    ``llm.lsh_planes_for(corpus_rows)`` and build the layout AT it, so
    ``llm.lsh_ann_topk`` at that width probes the stored assignment
    instead of a per-run tagging scan. The expression is memoized
    JVM-scoped (``llm.bucket_expr``): it references its input by name,
    so one py4j build serves every ``table()`` call in the process.
    Lazy import — the planes live with the query family, which imports
    this module."""
    def factory(df: DataFrame):
        from .queries.llm import bucket_expr

        return bucket_expr("lsh", n_planes, "embedding", as_double=True)

    return factory


def _derived_factories(name: str, lsh_planes: int | None) -> dict:
    """The derived-column factory map for one table, with the
    embeddings bucket bound to ``lsh_planes`` when given (None = the
    default 4-plane contract width)."""
    facs = dict(LAYOUT_DERIVED.get(name, {}))
    if name == "embeddings" and lsh_planes is not None:
        facs["graft_lsh_bucket"] = _embeddings_lsh_bucket_at(lsh_planes)
    return facs


def layout_lsh_planes(spark: SparkSession, sf_dir: str) -> int | None:
    """Plane width of the registered-and-serving embeddings layout's
    stored ``graft_lsh_bucket``, or None when no layout serves. The
    vector family gates on this: a stored bucket is only trusted when
    its build width matches the query's requested width — otherwise
    the bucket is recomputed inline and the layout is just a plain
    (correct, unpruned) scan."""
    if spark.conf.get(_layout_conf_key(sf_dir, "embeddings"),
                      None) is None:
        return None
    if spark.conf.get(LAYOUT_SERVE_CONF, "true").lower() != "true":
        return None
    return int(spark.conf.get(
        _layout_conf_key(sf_dir, "embeddings") + ".lsh_planes",
        str(_N_LSH_PLANES)))


def _embeddings_nrm(df: DataFrame):
    """Derived vector norm (the metadata every real ANN index stores
    next to its postings): the vector family's exact ``_norm`` over the
    double-cast embedding, so cosines ride a stored scalar instead of a
    per-query 64-element fold over every candidate row. Memoized
    JVM-scoped like the bucket expression."""
    from .queries.llm import nrm_expr

    return nrm_expr("embedding", as_double=True)


# table -> {derived_col_name: factory(df) -> Column}; derived columns
# are MATERIALIZED into the layout table (bucketBy needs a stored
# column) and recomputed on the fly when no layout is registered, so
# ``table(..., with_derived=True)`` is value-identical either way.
# (Unused derived columns are column-pruned out of any plan that
# doesn't reference them — exposing several costs nothing per query.)
LAYOUT_DERIVED: dict[str, dict] = {
    "embeddings": {
        "graft_lsh_bucket": _embeddings_lsh_bucket_at(_N_LSH_PLANES),
        "graft_nrm": _embeddings_nrm,
    },
}


def _layout_conf_key(sf_dir: str, name: str) -> str:
    """Session-conf key registering the bucketed twin of one table.

    Keyed on the resolved sf_dir so one session can hold layouts for
    several data dirs (tests at sf0.001, bench at sf0.1) without
    cross-serving. Conf-based (not module state) so the registration is
    per-SparkSession and dies with it — a fresh session never sees a
    stale layout."""
    import hashlib

    h = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return f"spark.spark_graft.layout.{h}.{name}"


def _layout_table(sf_dir: str, name: str) -> str:
    """Catalog name (and directory under the layout ``path``) of one
    table's layout."""
    h = _layout_conf_key(sf_dir, name).split(".")[-2]
    return f"spark_graft_layout_{h}_{name}"


def _fingerprint_of(parts: dict[str, list[int]]) -> str:
    import hashlib

    acc = hashlib.sha1()
    for name in sorted(parts):
        mt, sz = parts[name]
        acc.update(f"{name}:{mt}:{sz};".encode())
    return acc.hexdigest()[:16]


def _source_fingerprint(path: str) -> str:
    """Cheap content-version fingerprint of a parquet source: sha1 over
    the sorted per-part (mtime_ns, size) map."""
    return _fingerprint_of(_source_parts(path))


def _manifest_path(layout_path: str, tbl: str) -> str:
    # underscore-prefixed: Spark's file index ignores it, so it can
    # live INSIDE the table directory and travel with the data
    return os.path.join(layout_path, tbl, "_graft_manifest.json")


def _read_manifest(layout_path: str, tbl: str) -> dict | None:
    return store.read_json(_manifest_path(layout_path, tbl))


def _write_manifest(layout_path: str, tbl: str, manifest: dict) -> None:
    store.write_json(_manifest_path(layout_path, tbl), manifest)


def _layout_swap(layout_path: str, tbl: str) -> store.Swap:
    """The directory swap that publishes every layout table write."""
    tbl_dir = os.path.join(layout_path, tbl)
    return store.Swap(tbl_dir, tbl_dir + "_compact_tmp",
                      tbl_dir + "_compact_old", "_graft_manifest.json",
                      "layout_swap_between_renames")


def _acquire_build_lock(path: str) -> str:
    """Single-writer gate for a layout directory: two sessions
    building the same ``path`` would race ``write_bucketed`` into one
    external location. O_EXCL creation is
    the atomic claim; the holder's pid is recorded so a crashed
    builder's stale lock is detected (dead pid → the lock is stolen
    and the build proceeds — crash recovery, not contention) while a
    LIVE builder raises loudly. Same-host scope by design: this engine
    deploys one driver per layout build (the reference's own
    single-writer posture, ``terraform/main.tf:149-165``); builders on
    different hosts against shared storage need an external
    coordinator, which a pid file cannot be."""
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, "_graft_build.lock")
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()}\n".encode())
            os.close(fd)
            return lock
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = int(f.read().strip() or "0")
            except (OSError, ValueError):
                holder = 0
            alive = False
            if holder > 0:
                try:
                    os.kill(holder, 0)
                    alive = True
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    # EPERM ≠ dead: the pid EXISTS but belongs to
                    # another user (shared-host build). Treating it as
                    # dead would steal a live builder's lock — the
                    # exact race the lock exists to prevent. Only
                    # ESRCH proves the holder is gone.
                    alive = True
            if alive:
                raise RuntimeError(
                    f"another layout build (pid {holder}) holds "
                    f"{lock}; concurrent builds into one layout path "
                    f"race the table writes. Wait for it, or remove "
                    f"the lock if you are certain it is abandoned."
                )
            # stale lock from a crashed builder: steal and retry the
            # atomic claim (another waiter may steal first — loop)
            with contextlib.suppress(OSError):
                os.remove(lock)


@contextlib.contextmanager
def _build_lock(path: str):
    """Hold the layout directory's single-writer lock for the block."""
    lock = _acquire_build_lock(path)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.remove(lock)


def build_workload_layout(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    buckets: int | None = None,
    tables: tuple[str, ...] = ("orders", "lineitem"),
    rebuild: bool = False,
    lsh_planes: int | None = None,
) -> dict[str, str]:
    """Build + register the bucketed workload layout — Spark's
    ``CREATE INDEX`` (A15, ``sql/init.sql:44-47``).

    ``lsh_planes`` sets the plane width of the embeddings
    layout's stored LSH bucket (default: the 4-plane oracle-contract
    width; deployments pass ``llm.lsh_planes_for(corpus_rows)``). Like
    an explicit ``buckets``, an explicit width that mismatches an
    existing fresh layout triggers a full rebuild; ``None`` reuses
    whatever width the manifest records. The width is registered in
    session conf and consulted by the vector family
    (:func:`layout_lsh_planes`): a query probing at a different width
    than the stored assignment recomputes buckets inline instead of
    trusting mismatched storage.

    Each fact table is rewritten once as a hash-bucketed, per-bucket-
    sorted external table on its orderkey (``io.write_bucketed``) under
    ``path``, then registered in the session conf so :func:`table`
    transparently serves it. Idempotent like ``CREATE INDEX IF NOT
    EXISTS``: an existing layout table is re-registered without a
    rebuild unless ``rebuild=True`` (use after the source data changed).
    Returns ``{source_name: layout_table_name}``.

    Sizing: ``buckets`` fixes BOTH the scan parallelism (a bucketed
    scan runs one task per bucket — AQE cannot re-split it) and the
    join/agg parallelism for every consumer. Precedence: an explicit
    ``buckets``, then a join-family sibling's count (below), then
    :func:`_layout_buckets` of the summed bytes of the call's
    hash-bucketed sources and ``defaultParallelism``: one bucket per
    core while each bucket holds at most the 32 MB partition target
    (``session._TARGET_PARTITION_BYTES``), more in whole multiples of
    the core count as the data grows, capped at 4 × cores — the count
    SCALE.md §15c measured winning 1.9-2.2× on q3/q9/q18 at K=1000
    (~600 M lineitem rows, 32 cores), where 32 buckets starved the scan
    (q3/q9 1.9-2.3× slower than plain). A co-located join task reads
    bucket *i* of both facts, so the sum is the per-task measure. The
    count applies to full builds only: a kept or appended table keeps
    its manifest's count. Both facts must share the count or the
    shuffle-free join property is lost, so a family leaves each call at
    one count: a member fully built after another takes that member's
    count, and one kept at another count is rebuilt at it. Disable serving
    without dropping via ``spark.conf.set(LAYOUT_SERVE_CONF, "false")``
    — the A/B switch tests and operators use.

    Subset builds (``tables=("lineitem",)``) keep the one-count-per-
    family invariant: if a sibling in the same join family
    (``LAYOUT_FAMILIES``) is registered in this session, or, failing
    that, has a manifest under ``path`` (built by another session),
    ``buckets=None`` REUSES the sibling's count, and an explicit
    mismatching ``buckets`` raises — a family split across two counts
    would silently lose the shuffle-free join the layout exists for.

    Maintenance is INCREMENTAL for append-only sources: each build
    persists a ``_graft_manifest.json`` inside the layout table dir
    recording the source's per-part (mtime_ns, size) map, the bucket
    spec and the table's schema. When the source drifts by strictly
    ADDING part files — the reference's own monthly-append ingest
    pattern (``python/ingest_data.py:160-166``) — only the new parts
    are read and bucketized, so a month's maintenance costs O(month),
    not O(100 TB fact): the delta lands as one new sorted run per
    touched bucket beside hardlinks of every live file. Any drift the
    diff can't scope — a modified or deleted part, a changed bucket
    count, key or derived column, a lost or older manifest — rebuilds
    the table in full from every source part. Every build, full or
    incremental, stages its tree and publishes it with its manifest by
    one directory swap (:func:`_rewrite_layout`, the routine both
    compactions use), so a build cut short publishes nothing: the
    previous table and manifest keep serving, and an append's retry
    lands the same delta once. The manifest lets a FRESH session — a
    new JVM included, whose in-memory catalog lost the table —
    re-register a still-fresh layout without any rebuild."""
    # family-consistency gate BEFORE defaulting: a sibling's count —
    # registered in this session, else recorded in its manifest — wins
    # over the parallelism default
    buckets_explicit = buckets is not None
    for name in tables:
        fam = LAYOUT_FAMILIES.get(name)
        if fam is None:
            continue
        for sib, sib_fam in LAYOUT_FAMILIES.items():
            if sib_fam != fam or sib in tables:
                continue
            sib_buckets = spark.conf.get(
                _layout_conf_key(sf_dir, sib) + ".buckets", None)
            if sib_buckets is None:
                sib_buckets = (_read_manifest(
                    path, _layout_table(sf_dir, sib)) or {}).get("buckets")
            if sib_buckets is None:
                continue
            if buckets is None:
                buckets = int(sib_buckets)
            elif int(buckets) != int(sib_buckets):
                raise ValueError(
                    f"bucket-count mismatch within join family {fam!r}: "
                    f"{sib!r} is built at {sib_buckets} buckets but "
                    f"this build of {name!r} asked for {buckets}. Both "
                    f"facts must share one count for shuffle-free joins "
                    f"— rebuild the whole family together, or pass "
                    f"buckets={sib_buckets}."
                )
    if buckets is None:
        buckets = _layout_buckets(
            sum(size for name in tables
                if name not in LAYOUT_VALUE_PARTITIONED
                for _mtime, size in _source_parts(
                    os.path.join(sf_dir, f"{name}.parquet")).values()),
            spark.sparkContext.defaultParallelism)
    if lsh_planes is not None:
        # the width lsh_ann_topk accepts: an index built at any other
        # width no query could probe
        from .queries.llm import _check_lsh_width

        _check_lsh_width(lsh_planes)

    with _build_lock(path):
        return _build_layout_tables(spark, sf_dir, path, buckets,
                                    buckets_explicit, tables, rebuild,
                                    lsh_planes)


def _layout_buckets(nbytes: int, cores: int) -> int:
    """Default bucket count of a full layout build over ``nbytes`` of
    hash-bucketed source: whole multiples of ``cores``, one bucket per
    core until buckets pass the 32 MB partition target, capped at
    4 × cores (SCALE.md §15c)."""
    return cores * min(4, max(1, math.ceil(
        nbytes / (cores * _TARGET_PARTITION_BYTES))))


def _build_layout_tables(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    buckets: int,
    buckets_explicit: bool,
    tables: tuple[str, ...],
    rebuild: bool,
    lsh_planes: int | None = None,
) -> dict[str, str]:
    built: dict[str, str] = {}
    # the count each join family took in this call: a later member
    # fully built takes it, and a later member kept at another count is
    # rebuilt at it, so a drifted member cannot split its family
    family_buckets: dict[str, int] = {}
    for name in tables:
        key = LAYOUT_BUCKET_KEYS[name]  # KeyError = not a layout table
        fam = LAYOUT_FAMILIES.get(name)
        want = int(buckets) if buckets_explicit else family_buckets.get(fam)
        conf_key = _layout_conf_key(sf_dir, name)
        tbl = _layout_table(sf_dir, name)
        src_path = os.path.join(sf_dir, f"{name}.parquet")
        cur_parts = _source_parts(src_path)
        cur_fp = _fingerprint_of(cur_parts)
        _layout_swap(path, tbl).heal()
        # the manifest travels inside the table directory and is the one
        # record of a built table: the source version it holds, its
        # spec and the schema its catalog entry is created with
        m = _read_manifest(path, tbl) or {}
        # plane width of the embeddings stored LSH bucket (a manifest
        # without the field IS the 4-plane contract default)
        stored_planes = int(m.get("lsh_planes", _N_LSH_PLANES))
        # the table is kept only while its manifest records its schema
        # (what a new JVM recreates the catalog entry from), this
        # engine's bucket key and derived columns (an older set would
        # serve a schema the engine no longer produces), the bucket
        # count the caller names or its family took, and the LSH width
        # the caller names
        spec_ok = (
            "ddl" in m and m.get("key") == key
            and m.get("derived") == sorted(LAYOUT_DERIVED.get(name, {}))
            and (want is None or want == int(m["buckets"]))
            and not (name == "embeddings" and lsh_planes is not None
                     and lsh_planes != stored_planes))
        # the drift a part-map diff can scope: strictly ADDED parts
        old_parts = m.get("parts", {})
        new_names = [n for n in cur_parts if n not in old_parts]
        appended = (
            spec_ok and os.path.isdir(src_path) and bool(new_names)
            and all(cur_parts.get(n) == meta
                    for n, meta in old_parts.items()))
        full = rebuild or not (
            appended or (spec_ok and m["fingerprint"] == cur_fp))
        if full:
            # CREATE INDEX style: a missing, version-unknown or drifted
            # table is built from every source part, never re-blessed
            n_buckets = int(buckets) if want is None else want
            eff_planes = lsh_planes or stored_planes
            parts, keep, counters = cur_parts, [], {}
        else:
            n_buckets, eff_planes = int(m["buckets"]), stored_planes
            if not spark.catalog.tableExists(tbl):
                # a new JVM: the in-memory catalog lost the entry, and
                # the manifest proves the tree fresh — register only
                _create_entry(spark, path, tbl, m)
            parts = {n: cur_parts[n] for n in new_names}
            keep = _layout_files(os.path.join(path, tbl))
            counters = {c: int(m.get(c, 0))
                        for c in ("compactions", "minor_compactions")}
        if full or appended:
            rows = _read_parquet_dispatch(spark, src_path, parts)
            for cn, fac in _derived_factories(name, eff_planes).items():
                # static derived rules only (fixed-literal hashes):
                # appended rows get the bucket assignment, at the
                # stored width, that the existing rows got at build
                rows = rows.withColumn(cn, fac(rows))
            manifest = {
                "fingerprint": cur_fp, "parts": cur_parts,
                "buckets": n_buckets, "key": key, "source": src_path,
                "derived": sorted(LAYOUT_DERIVED.get(name, {})),
                "mode": ("partitioned" if name in LAYOUT_VALUE_PARTITIONED
                         else "bucketed"),
                **({"lsh_planes": int(eff_planes)}
                   if name == "embeddings" else {}),
                **counters,
            }
            _rewrite_layout(spark, path, name, tbl, rows, keep, manifest,
                            from_source=True)
            # auto-compaction: each append lands one new sorted run per
            # touched bucket; once the average passes
            # LAYOUT_COMPACT_RUNS_PER_BUCKET, the MINOR compaction
            # merges only the append runs (cost ∝ appended bytes) NOW,
            # under the build lock this path already holds — the
            # pigeonhole guarantees at least one bucket is above the
            # per-bucket threshold whenever the average trips
            if (not full and _runs_per_bucket(path, tbl, manifest)
                    > LAYOUT_COMPACT_RUNS_PER_BUCKET):
                _compact_layout_table(spark, path, name, tbl, full=False)
        # fingerprint the source AS BUILT: table() refuses to serve the
        # layout once the source drifts from this
        spark.conf.set(conf_key + ".src", cur_fp)
        spark.conf.set(conf_key + ".buckets", str(n_buckets))
        if fam is not None:
            family_buckets.setdefault(fam, n_buckets)
        if name == "embeddings":
            # the width of the STORED assignment — layout_lsh_planes
            # reads this so the vector family only trusts a stored
            # bucket built at the width it is probing
            spark.conf.set(conf_key + ".lsh_planes", str(int(eff_planes)))
        spark.conf.set(conf_key, tbl)
        built[name] = tbl
    return built


def _layout_files(d: str) -> list[str]:
    return [os.path.join(root, f) for root, _dirs, files in os.walk(d)
            for f in files if f.endswith(".parquet")]


def _layout_n_files(d: str) -> int:
    return len(_layout_files(d))


def _runs_per_bucket(path: str, tbl: str, manifest: dict) -> float:
    """Average sorted runs per bucket/partition of a layout table —
    the auto-compaction trigger metric. Bucketed tables divide total
    parquet files by the bucket count; value-partitioned tables by the
    number of partition directories (each append lands ≤1 new file per
    touched bucket/partition, so the average tracks append cadence
    without parsing bucket ids out of file names)."""
    tbl_dir = os.path.join(path, tbl)
    n_files = _layout_n_files(tbl_dir)
    if manifest.get("mode") == "partitioned":
        n_parts = sum(
            1 for e in os.scandir(tbl_dir)
            if e.is_dir() and "=" in e.name)
        return n_files / max(1, n_parts)
    return n_files / max(1, int(manifest.get("buckets", 1)))


# Auto-compaction threshold: compact a layout
# table once its appends average more than this many sorted runs per
# bucket. Economics from the K=100 lifecycle probe (SCALE.md §18a):
# one compaction costs ~½ an append (2.7 s vs 4.7 s) and resets the
# per-bucket read fan-in to 1, so triggering every ~4 appends keeps
# the amortized maintenance overhead ~15% while capping the
# small-files growth that §15c measured turning the layout into a
# regression. Tune per deployment cadence if needed.
LAYOUT_COMPACT_RUNS_PER_BUCKET = 4


def _layout_write(df: DataFrame, name: str, table_name: str,
                  buckets: int, path: str) -> None:
    """Write ``df`` as catalog table ``table_name`` at ``path`` with the
    layout writer of source table ``name``, co-located first so each
    bucket or partition value gets one new file: an unco-located frame
    writes every input task × every bucket it touches (at a wide-plane
    LSH layout, 2^11+ dirs × 64 tasks — the 100k-tiny-files failure
    mode). Spark's repartition hash is the bucketed writer's
    Murmur3-pmod, so with a task count T that divides the bucket count,
    every bucket lands whole in one task (task p holds the buckets
    ≡ p mod T): whole buckets per task. T is :func:`_write_tasks`, at
    most one task per core: each task costs ~50 ms of deserialize,
    while a month's append is a few KB per bucket."""
    from . import io as _io

    key = LAYOUT_BUCKET_KEYS[name]
    if name in LAYOUT_VALUE_PARTITIONED:
        _io.write_value_partitioned(df.repartition(F.col(key)),
                                    table_name, key, path=path)
    else:
        tasks = _write_tasks(
            buckets, df.sparkSession.sparkContext.defaultParallelism)
        _io.write_bucketed(df.repartition(tasks, F.col(key)), table_name,
                           key, buckets=buckets, path=path)


def _write_tasks(buckets: int, cores: int) -> int:
    """The task count of a bucketed layout write: the largest divisor of
    ``buckets`` that is at most ``cores``, so each task holds whole
    buckets and the cores stay busy (32 buckets on 6 cores → 4 tasks,
    where gcd(32, 6) would give 2)."""
    return max(d for d in range(1, min(buckets, cores) + 1)
               if buckets % d == 0)


def _create_entry(spark: SparkSession, path: str, tbl: str,
                  manifest: dict) -> None:
    """(Re)create catalog table ``tbl`` over the published tree
    ``path/tbl`` from what its ``manifest`` records: the schema, and the
    bucket spec or partition column. REFRESH cannot change a bucket
    spec, and a schema-less bucketed CREATE is refused, hence the
    recorded DDL."""
    key = manifest["key"]
    partitioned = manifest["mode"] == "partitioned"
    spec = (f"PARTITIONED BY ({key})" if partitioned else
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {int(manifest['buckets'])} BUCKETS")
    loc = os.path.abspath(os.path.join(path, tbl))
    loc = loc.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"CREATE TABLE {tbl} ({manifest['ddl']}) USING parquet "
              f"{spec} LOCATION '{loc}'")
    if partitioned:
        spark.sql(f"ALTER TABLE {tbl} RECOVER PARTITIONS")


def _rewrite_layout(spark: SparkSession, path: str, name: str, tbl: str,
                    rows: DataFrame, keep: list[str], manifest: dict,
                    from_source: bool = False) -> None:
    """The one way a layout table is written — full builds, appends,
    minor and major compaction. ``rows`` are written co-located with the
    table's layout writer into the swap's staged tree (one new file per
    bucket), the live ``keep`` files are hardlinked beside them under
    their own names, and the tree is published with ``manifest`` by
    :meth:`store.Swap.publish`. Nothing is published when any step
    fails, so the live table and its manifest stay exactly as they were
    — a full build cut short leaves the previous table serving.

    ``from_source`` rows were read from the source at the manifest's
    fingerprint: the manifest records their schema as DDL, and the
    source is re-stat'ed before publish, refusing unless it still has
    that fingerprint. Compaction rows are read back from the table and
    keep the manifest's DDL. Before the superseded tree is deleted, the
    catalog entry of a full build (source rows, nothing kept: its bucket
    count, LSH width or derived columns may be new) is recreated by
    :func:`_create_entry`; any other rewrite keeps the spec, so its
    entry is REFRESHed (a partitioned table's new values recovered) and
    plans already resolved against it list the new files. Caller holds
    the build lock."""
    import shutil

    from .crashpoints import crash_point

    swap = _layout_swap(path, tbl)
    staged_tbl = tbl + "_compact_tmp"
    shutil.rmtree(swap.staged, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {staged_tbl}")
    _layout_write(rows, name, staged_tbl, int(manifest["buckets"]),
                  swap.staged)
    if from_source:
        manifest = {**manifest,
                    "ddl": spark.table(staged_tbl).schema.toDDL()}
    # the staged table's catalog entry goes; an external drop keeps
    # the files
    spark.sql(f"DROP TABLE {staged_tbl}")
    crash_point("minor_compact_mid_scratch")
    for f in keep:
        dst = os.path.join(swap.staged, os.path.relpath(f, swap.target))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(f, dst)
        # with its checksum sidecar: the local filesystem verifies
        # every read against it
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.link(crc, os.path.join(os.path.dirname(dst),
                                      os.path.basename(crc)))
    if from_source:
        post_fp = _source_fingerprint(manifest["source"])
        if post_fp != manifest["fingerprint"]:
            raise ValueError(
                f"source {manifest['source']} changed WHILE the layout "
                f"for {name!r} was being written (fingerprint "
                f"{manifest['fingerprint']} → {post_fp}); the result was "
                f"NOT published. Re-run build_workload_layout once the "
                f"source is settled.")
    def _serve_new_tree() -> None:
        if from_source and not keep:
            _create_entry(spark, path, tbl, manifest)
            return
        if manifest["mode"] == "partitioned":
            spark.sql(f"ALTER TABLE {tbl} RECOVER PARTITIONS")
        spark.sql(f"REFRESH TABLE {tbl}")

    swap.publish(then=lambda: _write_manifest(path, tbl, manifest),
                 before_drop=_serve_new_tree)


def _compaction_manifest(path: str, tbl: str) -> dict:
    """Heal an interrupted swap, then return the table's manifest.
    Compaction refuses a table without one."""
    _layout_swap(path, tbl).heal()
    manifest = _read_manifest(path, tbl)
    if manifest is None:
        raise ValueError(
            f"no manifest for layout table {tbl!r} under {path!r} — "
            f"compact only manifest-tracked layouts "
            f"(rebuild with build_workload_layout first)")
    return manifest


# Minor compaction merges a bucket's append RUNS once it holds at least
# this many files (largest file = the base, everything else = runs).
# 3 means: base + >= 2 accumulated runs — a bucket with one run keeps
# read fan-in 2, not worth a rewrite.
LAYOUT_MINOR_COMPACT_MIN_FILES = 3


def _split_runs(tbl_dir: str, partitioned: bool
                ) -> tuple[list[str], list[str]]:
    """(kept, runs) of a layout table for minor compaction: a bucket
    with at least ``LAYOUT_MINOR_COMPACT_MIN_FILES`` files keeps its
    largest (the base) and merges the rest; smaller buckets are kept
    whole."""
    import re

    # group the data files by bucket: partition DIRECTORY for the
    # value-partitioned mode, bucket-id file-name suffix for the
    # bucketed mode (Spark writes part-...-<uuid>_NNNNN.c000...)
    groups: dict[str, list[str]] = {}
    for f in _layout_files(tbl_dir):
        if partitioned:
            groups.setdefault(os.path.dirname(f), []).append(f)
            continue
        m = re.search(r"_(\d+)\.c\d+", os.path.basename(f))
        if m is None:
            raise ValueError(
                f"cannot parse a bucket id out of {f!r} — minor "
                f"compaction needs the bucketed writer's file naming; "
                f"run a full compaction.")
        groups.setdefault(m.group(1), []).append(f)
    kept: list[str] = []
    runs: list[str] = []
    for files in groups.values():
        if len(files) >= LAYOUT_MINOR_COMPACT_MIN_FILES:
            by_size = sorted(files, key=os.path.getsize, reverse=True)
            kept.append(by_size[0])
            runs.extend(by_size[1:])
        else:
            kept.extend(files)
    return kept, runs


def _compact_layout_table(spark: SparkSession, path: str, name: str,
                          tbl: str, full: bool) -> tuple[int, int]:
    """Compact ONE layout table; caller holds the build lock. ``full``
    (major) rewrites every file back to one per bucket. Otherwise
    (minor, LSM-style) only each bucket's accumulated append runs are
    merged and every base file is hardlinked, so the cost scales with
    the APPENDED bytes, not the corpus: the major rewrite costs 63.3 s
    against a 68.8 s rebuild at the 9.8 M-vector tier. Read fan-in
    after a minor pass is ≤ 2 (base + one merged run); a no-op when no
    bucket crosses the threshold. Returns (files_before, files_after)."""
    manifest = _compaction_manifest(path, tbl)
    tbl_dir = os.path.join(path, tbl)
    before = _layout_n_files(tbl_dir)
    if full:
        # read the FILES, not the catalog table: the bucketed scan's
        # partitioning already satisfies the merge's repartition, so
        # the optimizer would elide the exchange and each input file
        # task would write its own bucket files — defeating the merge
        kept, inputs, counter = [], [tbl_dir], "compactions"
    else:
        kept, inputs = _split_runs(tbl_dir,
                                   name in LAYOUT_VALUE_PARTITIONED)
        counter = "minor_compactions"
        if not inputs:
            return before, before
    # basePath recovers a partitioned table's column from the dir names
    rows = spark.read.option("basePath", tbl_dir).parquet(*inputs)
    _rewrite_layout(spark, path, name, tbl, rows, kept, {
        **manifest, counter: int(manifest.get(counter, 0)) + 1})
    return before, _layout_n_files(tbl_dir)


def build_ann_index(spark: SparkSession, sf_dir: str,
                    path: str, rebuild: bool = False) -> dict:
    """The ANN deployment recipe as ONE call: size the LSH plane width
    from the corpus with the measured §19c rule (``llm.lsh_planes_for``
    — hold expected bucket width ≈ 2000), build the embeddings layout
    AT that width, and return what a deployment needs to know. Queries
    probe the index by passing the width explicitly —
    ``llm.lsh_ann_topk(spark, sf_dir, info["lsh_planes"])``. The
    registry keys never follow it: the engine's transparency invariant
    says results never depend on whether an index exists, and an
    approximate op's RESULT changing with layout registration would
    break it (and the 4-plane oracle contract with it).

    Returns ``{"table": <layout table>, "lsh_planes": <width>,
    "corpus_rows": <n>, "buckets": 2**width}``. Measured at 3.16 M /
    9.8 M vectors (SCALE.md §20): layout-served wide queries run
    7.3× / 6.5× faster than the 4-plane layout and 10× / 18× faster
    than the scan-bound wide mode, recall 1.0."""
    from .queries.llm import lsh_planes_for

    prev = spark.conf.get(LAYOUT_SERVE_CONF, "true")
    spark.conf.set(LAYOUT_SERVE_CONF, "false")
    try:
        n = table(spark, sf_dir, "embeddings").count()
    finally:
        spark.conf.set(LAYOUT_SERVE_CONF, prev)
    width = lsh_planes_for(n)
    built = build_workload_layout(spark, sf_dir, path,
                                  tables=("embeddings",),
                                  rebuild=rebuild, lsh_planes=width)
    return {"table": built["embeddings"], "lsh_planes": width,
            "corpus_rows": n, "buckets": 1 << width}


def compact_workload_layout(spark: SparkSession, sf_dir: str,
                            path: str,
                            tables: tuple[str, ...] | None = None,
                            full: bool = True,
                            ) -> dict[str, tuple[int, int]]:
    """Merge a layout table's accumulated append runs back to one file
    per bucket (the maintenance seam incremental appends open):
    every :func:`build_workload_layout` append lands one new sorted
    file per touched bucket, so a monthly cadence grows files-per-
    bucket linearly and eventually hits the small-files pathology the
    layout exists to avoid. Compaction is the B-tree's merge step.

    Mechanics — no source re-read, no shuffle beyond one co-located
    repartition: the table's files are read back, repartitioned on
    their own bucket key (Spark's repartition hash is the same
    Murmur3-pmod the bucketed writer uses, so each task holds whole
    buckets → exactly one output file per bucket), and published
    under the unchanged catalog table by :func:`_rewrite_layout`, the
    staged-tree directory swap every layout change goes through (bucket
    ids live in the file names, which the swap preserves). The
    manifest keeps the SAME source fingerprint — the source didn't
    move, so staleness state and future incremental appends are
    unaffected. Value-partitioned tables compact the same way with a
    per-partition-value repartition. Single-writer via the build
    lockfile. Returns {table: (files_before, files_after)}.

    An incremental append that pushes a table past
    ``LAYOUT_COMPACT_RUNS_PER_BUCKET`` average runs per bucket runs
    the minor step on that table under the same build lock.

    ``full=False`` runs the SELECTIVE minor step instead: it merges
    only each bucket's accumulated append runs and hardlinks the
    untouched base files, so the cost scales with the appended fraction
    rather than the corpus size. Call ``full=True`` periodically (the
    LSM major step) to return read fan-in to exactly one file per
    bucket."""
    names = tuple(tables) if tables is not None else tuple(LAYOUT_BUCKET_KEYS)
    unknown = sorted(n for n in names if n not in LAYOUT_BUCKET_KEYS)
    if unknown:
        raise ValueError(
            f"not layout tables: {unknown} — compactable tables are "
            f"{sorted(LAYOUT_BUCKET_KEYS)} (LAYOUT_BUCKET_KEYS)")
    out: dict[str, tuple[int, int]] = {}
    with _build_lock(path):
        for name in names:
            tbl = spark.conf.get(_layout_conf_key(sf_dir, name), None)
            if tbl is not None:
                out[name] = _compact_layout_table(spark, path, name, tbl,
                                                  full)
    return out


def _stream_marker_path(src_path: str) -> str:
    # underscore-prefixed: Spark's file listing and _source_parts'
    # *.parquet glob both ignore it, so the marker travels WITH the
    # source directory without perturbing fingerprints or scans
    return os.path.join(src_path, "_graft_stream.json")


def _batch_input_files(source_log: str, batch_id: int) -> list[str]:
    """Sorted input files of ``batch_id`` per a file source's checkpoint
    metadata log. Spark compacts that log every compactInterval
    (default 10) batches into a CUMULATIVE ``<id>.compact`` file (every
    entry since batch 0, each carrying its own batchId), and its log
    cleanup later deletes plain entries a compact file covers — so a
    missing ``<id>`` is read from the newest ``.compact`` at or past the
    batch, filtered to the batch's own entries."""
    import json
    from urllib.parse import unquote, urlparse

    log_file = os.path.join(source_log, str(batch_id))
    try:
        if not os.path.exists(log_file):
            later = [int(f[:-len(".compact")]) for f in os.listdir(source_log)
                     if f.endswith(".compact")
                     and f[:-len(".compact")].isdigit()]
            later = [c for c in later if c >= batch_id]
            if not later:
                raise FileNotFoundError(f"{log_file}[.compact]")
            log_file = os.path.join(source_log, f"{max(later)}.compact")
        files = []
        with open(log_file) as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("v"):
                    continue  # version header
                rec = json.loads(line)
                if int(rec.get("batchId", -1)) == batch_id:
                    files.append(unquote(urlparse(rec["path"]).path))
    except OSError as exc:
        raise ValueError(
            f"publish='link': no file-source metadata log entry for "
            f"batch {batch_id} under {source_log} — the stream's source "
            f"is not a file source (or not source 0), or Spark's log "
            f"cleanup removed the entry and every compact file covering "
            f"it. Use the default publish='write'. ({exc})") from exc
    return sorted(files)


def layout_ingest_writer(sf_dir: str, path: str, name: str,
                         stream_id: str | None = None,
                         buckets: int | None = None,
                         lsh_planes: int | None = None,
                         publish: str = "write",
                         source_log: str | None = None):
    """Per-batch maintainer for a STREAMING layout source. Each
    micro-batch publishes into the SOURCE
    directory as deterministically named part files, then the standard
    incremental maintenance path (:func:`build_workload_layout`)
    bucketizes ONLY that delta into the layout — the reference's
    monthly-append ingest (``python/ingest_data.py:160-166``) running
    continuously against its indexes (``sql/init.sql:44-47``), with
    per-batch cost O(batch), never O(corpus).

    Exactly-once under replay, without making the data write atomic
    with the layout append (they are different storage systems):

    1. the batch lands under deterministic names
       ``part-graft-<sid>-<batch:09d>-<i>.parquet`` via a write to an
       underscore-prefixed temp dir + per-file rename — a crashed
       attempt's partial publication is deleted and rewritten on
       replay (safe: see 2);
    2. the stream marker ``_graft_stream.json`` (stream identity +
       ``last_batch_id``) commits atomically AFTER the files and
       BEFORE the layout consumes them, so a replayed ``batch_id <=
       last_batch_id`` never touches published files the layout may
       already have appended (rewriting them would read as
       modified-source drift and force a full rebuild);
    3. the maintenance step runs on EVERY call — including replays —
       because its manifest diff is idempotent: a crash after the
       marker but before the append leaves source parts the layout
       lacks, which the replay (or the next batch, or any manual
       build) folds in.

    The replay decision is :func:`store.check_stream_identity`, shared
    with the sketch writers: batch ids are only monotonic WITHIN one
    checkpoint, so a DIFFERENT stream identity
    presenting a non-monotonic batch id refuses loudly instead of
    silently skipping genuinely new data as replays; a different
    stream with a monotonically HIGHER batch id may adopt the source
    (its file names are sid-scoped, so no collision is possible).

    Single-maintainer posture: while a stream owns a source directory,
    concurrent layout builds from OTHER sessions are excluded by the
    build lock, and manual builds between CLEAN batches are safe (the
    diff is append-only). Caveat: a manual build that lands
    inside the crash-before-marker window consumes a crashed batch's
    PARTIAL publication; the subsequent replay deletes and rewrites
    those files, which the differ correctly reads as non-append drift
    and degrades to a FULL rebuild — the right outcome, but O(corpus)
    cost, not the append-only path. ``buckets``/``lsh_planes`` pass
    through to the underlying build — the first batch against a fresh
    layout is the full build that fixes them.

    ``publish``: how a batch's rows land in the source directory.

    - ``"write"`` (default): ``batch_df.write.parquet`` — a Spark job
      that re-serializes every batch row. Works for ANY streamed
      frame (transformed, non-file sources) and is the durable
      general path.
    - ``"link"``: hardlink the batch's own INPUT FILES under the
      deterministic names (a copy only where the filesystem refuses
      links: EXDEV, EPERM, EOPNOTSUPP; any other error propagates and
      nothing is published) — a metadata move, no
      Spark job, no byte rewrite. ONLY valid when the streamed frame
      is a BARE file-source scan of immutable feed files (no
      filter/projection/transform — the batch's rows are exactly its
      input files' rows verbatim); :func:`stream_append_layout`
      refuses any other stream. d14's feed replay is exactly this
      shape, and at ingest scale the saving is a full
      re-serialization of every batch. The batch→files mapping comes
      from the file source's own checkpointed metadata log
      (``source_log`` = ``<checkpoint>/sources/<i>``; the foreachBatch
      frame wraps the
      executed RDD, so ``inputFiles()`` is empty there) — Spark's
      durable record of exactly which files constitute each batch,
      written at batch construction, so it exists for originals AND
      replays. Misuse is guarded loudly: a missing/empty log entry
      for a non-empty batch refuses, as does a file already inside
      the source directory (self-publication). The crash/replay
      protocol is IDENTICAL — same deterministic names, same
      delete-then-republish on replay, same marker commit (links are
      published via a temp name + atomic rename, like the write
      path's per-file renames)."""
    if publish not in ("write", "link"):
        raise ValueError(f"publish={publish!r}; expected 'write' or 'link'")
    if publish == "link" and source_log is None:
        raise ValueError(
            "publish='link' requires source_log (the file source's "
            "checkpoint metadata dir, <checkpoint>/sources/<i>) — "
            "stream_append_layout wires it automatically")

    src_path = os.path.join(sf_dir, f"{name}.parquet")

    def _ingest(batch_df, batch_id: int) -> None:
        import errno as _errno
        import glob as _glob
        import hashlib as _hashlib
        import shutil as _shutil

        spark = batch_df.sparkSession
        os.makedirs(src_path, exist_ok=True)
        marker = _stream_marker_path(src_path)
        state = store.read_json(marker) or {}
        replay = store.check_stream_identity(
            state.get("stream_id"), int(state.get("last_batch_id", -1)),
            stream_id, batch_id, f"layout source at {src_path}",
            "feed the new stream into its own source directory.")
        if not replay:
            sid = _hashlib.sha1(str(stream_id).encode()).hexdigest()[:8]
            stem = f"part-graft-{sid}-{int(batch_id):09d}-"
            # sid-scoped so two streams feeding DIFFERENT sources that
            # happen to share a directory prefix can never collide
            if publish == "link":
                sibling = os.path.join(os.path.dirname(source_log), "1")
                if os.path.isdir(sibling):
                    # a second FILE source would publish only source
                    # 0's files — silent row loss; refuse loudly.
                    # (Non-file second sources — rate/socket — write no
                    # sources/<i> dir and are undetectable here; they
                    # are outside the documented single-bare-file-
                    # source contract the CALLER opts into.)
                    raise ValueError(
                        "publish='link' supports exactly ONE file "
                        f"source, but this stream checkpoints a second "
                        f"source at {sibling} — use publish='write'.")
                files = _batch_input_files(source_log, int(batch_id))
                if not files:
                    raise ValueError(
                        f"publish='link': batch {batch_id}'s metadata "
                        f"log lists no files — use the default "
                        f"publish='write' for non-file sources or "
                        f"transformed streams.")
                # the published name is forced to .parquet, so the feed
                # bytes must BE parquet; a non-.parquet-named feed file
                # may be any format the stream reader was built with —
                # refuse loudly rather than publish bytes the parquet
                # maintenance path would misread (and never silently
                # drop a file the batch actually contained)
                odd = [p for p in files if not p.endswith(".parquet")]
                if odd:
                    raise ValueError(
                        f"publish='link': batch {batch_id} contains "
                        f"non-.parquet-named input files {odd[:3]} — "
                        f"the link contract is a bare PARQUET file "
                        f"source; use the default publish='write'.")
                src_abs = os.path.abspath(src_path) + os.sep
                for p in files:
                    if os.path.abspath(p).startswith(src_abs):
                        raise ValueError(
                            f"publish='link' batch input {p} already "
                            f"lives inside the source directory "
                            f"{src_path} — self-publication would "
                            f"duplicate rows.")
            else:
                tmp = os.path.join(src_path, f"_graft_ingest_tmp_{sid}")
                _shutil.rmtree(tmp, ignore_errors=True)
                batch_df.write.mode("overwrite").parquet(tmp)
                files = sorted(os.path.join(tmp, f) for f in os.listdir(tmp)
                               if f.endswith(".parquet"))
            # a crashed attempt's partial publication is deleted and
            # republished: the marker proves the layout never consumed
            # it (consumption only happens after the marker commit)
            for f in (_glob.glob(os.path.join(src_path, stem + "*.parquet"))
                      + _glob.glob(os.path.join(src_path,
                                                f".{stem}*.inprogress"))):
                os.remove(f)
            for i, p in enumerate(files):
                if publish == "link":
                    # dot-prefixed temp name: hidden from Spark's file
                    # listing and from every *.parquet glob, so a crash
                    # mid-link leaves no stray a reader could see
                    tmpdst = os.path.join(
                        src_path, f".{stem}{i:05d}.inprogress")
                    try:
                        os.link(p, tmpdst)
                    except OSError as exc:
                        # a filesystem that cannot link copies; any
                        # other failure (ENOSPC, EIO, ...) is real
                        if exc.errno not in (_errno.EXDEV, _errno.EPERM,
                                             _errno.EOPNOTSUPP):
                            raise
                        _shutil.copy2(p, tmpdst)
                    p = tmpdst
                os.replace(p, os.path.join(src_path,
                                           f"{stem}{i:05d}.parquet"))
            if publish == "write":
                _shutil.rmtree(tmp, ignore_errors=True)
            from .crashpoints import crash_point

            crash_point("layout_publish_before_marker")
            store.write_json(marker, {"stream_id": stream_id,
                                      "last_batch_id": int(batch_id)})
            crash_point("layout_marker_before_append")
        # maintenance on every call: idempotent manifest diff; heals a
        # crash that landed between the marker commit and the append
        build_workload_layout(spark, sf_dir, path, buckets=buckets,
                              tables=(name,), lsh_planes=lsh_planes)

    return _ingest


def stream_append_layout(stream_df, sf_dir: str, path: str, name: str,
                         checkpoint: str,
                         buckets: int | None = None,
                         lsh_planes: int | None = None,
                         publish: str = "write") -> None:
    """Drain a streaming DataFrame into a workload-layout SOURCE and
    keep the layout incrementally maintained: foreachBatch +
    checkpoint (source offset tracking) + :func:`layout_ingest_writer`
    (replay-guarded deterministic publication + manifest-diff append)
    = exactly-once layout maintenance. availableNow trigger — call
    again as new data lands, or swap the trigger for a continuous
    cadence. The checkpoint's absolute path is the stream identity
    (the sketch writers' posture): batch ids are only monotonic within
    one checkpoint, so the replay guard is keyed on both. ``publish``
    passes through to :func:`layout_ingest_writer` — ``"link"`` is the
    zero-rewrite publication for bare single-file-source replays (see
    there for the contract); the batch→files mapping is read from THIS
    checkpoint's ``sources/0`` metadata log, and ``"link"`` on any
    stream other than a bare parquet file-source scan refuses with
    ``ValueError`` before the stream starts: a filter, projection or
    other transform would be dropped by publishing the input files."""
    from .streaming import drain_available_now

    if publish == "link":
        # no Spark job: the analyzed plan's root is the bare source
        # scan (StreamingRelation) or the transform above it
        plan = stream_df._jdf.queryExecution().analyzed()
        kind = plan.nodeName()
        if kind == "StreamingRelation":
            kind = plan.dataSource().className()
        if kind != "parquet":
            raise ValueError(
                "publish='link' publishes each batch's input files "
                "verbatim, so the stream must be a bare parquet file "
                f"source, not {kind}; use publish='write'")
    writer = layout_ingest_writer(
        sf_dir, path, name, stream_id=os.path.abspath(checkpoint),
        buckets=buckets, lsh_planes=lsh_planes, publish=publish,
        source_log=(os.path.join(os.path.abspath(checkpoint),
                                 "sources", "0")
                    if publish == "link" else None))
    drain_available_now(stream_df, writer, checkpoint)
    # foreachBatch executes against a CLONED SparkSession whose SQLConf
    # dies with the stream — the catalog TABLE is shared (it lives in
    # the shared state) but the serve registration is per-session, so
    # re-register the now-fresh layout in the caller's session. The
    # manifest proves freshness: this is registration only, no rebuild.
    # (Skip when the stream never delivered a batch into a fresh
    # source — there is nothing to register yet.)
    if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
        build_workload_layout(stream_df.sparkSession, sf_dir, path,
                              buckets=buckets, tables=(name,),
                              lsh_planes=lsh_planes)


def drop_workload_layout(spark: SparkSession, sf_dir: str,
                         tables: tuple[str, ...] | None = None) -> None:
    """Unregister and drop the layout for ``sf_dir`` (``DROP INDEX``).

    Catalog metadata only for the external tables — delete the layout
    ``path`` separately if the storage should go too. ``tables`` scopes
    the drop (default: every layout table)."""
    for name in (tables if tables is not None else LAYOUT_BUCKET_KEYS):
        conf_key = _layout_conf_key(sf_dir, name)
        tbl = spark.conf.get(conf_key, None)
        if tbl is not None:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.conf.unset(conf_key)
            spark.conf.unset(conf_key + ".src")
            spark.conf.unset(conf_key + ".buckets")
            spark.conf.unset(conf_key + ".lsh_planes")
