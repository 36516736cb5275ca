"""Group F query keys — LLM-training-data pipeline operators over the
``documents`` and ``embeddings`` tables (SURVEY.md §2 group F; north-star
mandate: dedup, similarity search, multimodal columns, text analysis —
designed for 100 TB).

Design rules applied throughout:
- everything is DataFrame expressions (JVM/codegen) — no Python UDFs in
  any hot path; the only pandas surface is the explicitly-stubbed
  multimodal decode (f12), which is Arrow-batched;
- the quadratic ops (near-dup, ANN) have a linear-ish LSH path next to
  the exact baseline, because at 100 TB the cross join does not exist;
- all hash-derived signatures use xxhash64 with literal seeds —
  deterministic across runs and partitionings.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import os
import random
import shutil
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation, Window as W, functions as F

from .. import fx, store
from ..catalog import _N_LSH_PLANES, table
from ..registry import query
from ..streaming import drain_available_now

# --------------------------------------------------------------- helpers

STOPWORDS_EN = ("the", "a", "of", "and", "in", "to", "is")
STOPWORDS_ES = ("el", "la", "de", "y", "en", "que")
STOPWORDS_DE = ("der", "die", "das", "und", "ist")


def _tokens(col="text"):
    return F.split(F.col(col), " ")


def _shingles(tok_col, n=3):
    """Distinct word n-gram shingles as an array column (pure exprs).

    PERFORMANCE CONTRACT: ``tok_col`` must be a materialized column
    reference (``F.col("toks")``), never the ``split()`` expression
    itself — each ``element_at`` inside the lambda re-evaluates its
    operand, so an inline split re-tokenizes the document per gram per
    position (measured 8× slower at sf0.1). Callers go through
    ``_hashed_shingles``."""
    idx = F.sequence(F.lit(1), F.size(tok_col) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok_col, (i + k).cast("int")) for k in range(n)]
        ),
    )
    # guard BEFORE building the sequence: sequence(1, 0) is the
    # DESCENDING array [1, 0], not empty, and element_at(toks, 0) throws —
    # short docs must short-circuit to an empty shingle set
    return F.when(
        F.size(tok_col) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def _hashed_shingles(docs, n=3):
    """doc_id + distinct word-n-gram shingles hashed to int64.

    Two-step plan: tokens materialize as a column, then shingles build
    from element_at on the column ref (see _shingles contract), then each
    gram maps to xxhash64 — downstream set ops and shuffles move
    fixed-width longs instead of strings (same set semantics; 64-bit
    collisions negligible)."""
    toked = docs.select("doc_id", _tokens().alias("toks")).filter(
        F.size("toks") >= n
    )
    return toked.select(
        "doc_id",
        F.transform(_shingles(F.col("toks"), n), lambda g: F.xxhash64(g))
        .alias("grams"),
    )


def planted_offset(docs) -> int:
    """Id offset for planted synthetic near-duplicates: max(doc_id)+1,
    so planted ids can NEVER collide with a real document at any corpus
    size (a fixed +100000 offset corrupts clustering once the corpus
    passes 100k docs). Served from parquet column stats — no data scan.
    Tests derive expected planted ids through this same function."""
    row = docs.agg(F.max("doc_id").alias("m")).first()
    return int(row.m) + 1 if row.m is not None else 1


def _planted_corpus(docs):
    """documents ∪ planted near-duplicates (docs 0-19 with the last two
    tokens dropped, id shifted by ``planted_offset``) — the shared
    deterministic corpus for the near-dup operators (f2, f20), tokenized.

    Size guard BEFORE the slice: slice() with a negative length throws,
    so a 1-token doc among doc_id<20 must be excluded, not sliced."""
    offset = planted_offset(docs)
    toked = docs.select("doc_id", _tokens().alias("toks"))
    mutated = toked.filter(
        (F.col("doc_id") < 20) & (F.size("toks") >= 3)
    ).select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.slice("toks", 1, F.size("toks") - 2).alias("toks"),
    )
    return toked.unionByName(mutated).filter(F.size("toks") >= 3)


_EMB_DIM = 64  # testdata embedding dimensionality (TESTDATA.md)


def _dot(a, b):
    """Sequential double dot product — same accumulation order as the
    oracle's loop, so results are bit-identical.

    This is the GENERAL form (any length, higher-order functions).
    HOFs are CodegenFallback — interpreted per element — which is fine
    where the call count is linear in the corpus (per-row norms,
    bucket tagging), but NOT in the pair-cosine hot loop whose row
    count is superlinear (probed pairs): use :func:`_dot_unrolled`
    there (at K=316 the HOF pair projection costs ~ms/pair, with
    executor stacks pinned in ZipWith.eval/ArrayAggregate.eval)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_NO_JVM_COUNTER = itertools.count()


def _jvm_token() -> str:
    """Cache discriminator for memoized Column expressions: the
    applicationId identifies the JVM context whose py4j refs the
    cached Column wraps — a restart mints a new one, so stale entries
    miss instead of serving dead references. When the calling thread
    has no active session (expressions built from a secondary thread),
    fall back to the process-wide active SparkContext's applicationId;
    if no context is resolvable at all, mint a UNIQUE token so the memo
    is bypassed rather than pooling entries under a shared constant
    that survives stop()/restart."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is not None:
        return sess.sparkContext.applicationId
    sc = SparkContext._active_spark_context
    if sc is not None:
        return sc.applicationId
    return f"<no-jvm-{next(_NO_JVM_COUNTER)}>"


def _jvm_memo(maxsize: int):
    """``functools.lru_cache`` for Column builders, keyed on the call's
    arguments plus :func:`_jvm_token`: a cached Column wraps py4j refs
    into the JVM context that built it, so after a ``spark.stop()`` /
    restart in the same process the old entries miss instead of
    serving dead references."""
    def deco(fn):
        cached = functools.lru_cache(maxsize=maxsize)(
            lambda _token, *args, **kwargs: fn(*args, **kwargs))

        @functools.wraps(fn)
        def memo(*args, **kwargs):
            return cached(_jvm_token(), *args, **kwargs)
        return memo
    return deco


@_jvm_memo(maxsize=64)
def _dot_unrolled(a, b):
    """The pair-cosine hot-loop spelling of :func:`_dot`:
    ``0.0 + a1·b1 + … + a64·b64`` statically unrolled over the fixed
    embedding dim — plain whole-stage-codegen arithmetic, no
    interpreted HOF. Bit-identical to the HOF fold and to DuckDB's
    list_dot_product loop: same 0.0-seeded left-fold order, each
    element cast to double exactly once (a no-op on already-double
    arrays, so both raw float and pre-cast arrays work).

    NULL semantics match the fold: NULL vector / NULL element poison
    the sum to NULL (the trailing size guard is ADDITIVE —
    ``acc + when(ok, 0.0)`` — not a conditional wrapper, because a
    300-node chain inside a when() branch cannot be method-split and
    janino rejects the generated code past 64 KB); NaN propagates.
    The one divergence from the fold is two equal-length non-64
    arrays (fold summed them, this yields NULL) — no corpus produces
    that shape, and _VEC_OK already treats dimension drift as
    unusable-vector poison.

    Scope discipline: ONE unrolled dot per stage compiles and runs
    fast (measured); composing several into one projection (bucket
    tagging = 4 dots + norm + probes) blows the 64 KB method limit
    and falls back to interpretation WORSE than the HOF — per-row
    derivations therefore stay on :func:`_dot`, and their scale path
    is layout materialization (catalog.LAYOUT_DERIVED), not wider
    unrolling.

    Takes column NAMES and memoizes the built Column: constructing
    the 300-node tree costs ~190 py4j round trips (~1 s per query
    invocation — measured as a flat overhead on every key that calls
    this); an unresolved-by-name Column is plan-agnostic, so one
    build per JVM (:func:`_jvm_memo`) serves every query in the
    process."""
    a, b = F.col(a), F.col(b)
    acc = F.lit(0.0)
    for i in range(_EMB_DIM):
        acc = acc + (F.element_at(a, i + 1).cast("double")
                     * F.element_at(b, i + 1).cast("double"))
    ok = (F.size(a) == _EMB_DIM) & (F.size(b) == _EMB_DIM)
    return acc + F.when(ok, F.lit(0.0))


def _as_double(arr):
    return F.transform(arr, lambda x: x.cast("double"))


def _norm(a):
    return F.sqrt(_dot(a, a))


# Oracle-side spelling of _embeddings' usable-vector predicate (see its
# docstring): squared norm positive-finite excludes null, NaN-element,
# Inf-element, and all-zero vectors; the explicit null-element check
# exists because DuckDB's list_sum SKIPS null elements (a [1.0, NULL,
# ...] vector would get a finite norm and be kept) while Spark's
# fold-based norm nulls out and excludes it — parquet list<float>
# permits null elements and a failed encoder can emit them. BETWEEN
# spells positive-and-finite off ONE subtree: NaN
# fails `<= max` (DuckDB orders NaN above every number — a bare `> 0`
# would KEEP a NaN norm), +Inf fails `<= max`, 0 fails `>= min`.
_VEC_OK = (
    "(embedding IS NOT NULL"
    " AND length(list_filter(embedding, x -> x IS NULL)) = 0"
    " AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),"
    " x -> x * x)) BETWEEN 5e-324 AND 1.7976931348623157e308)"
)

# Seeded random-hyperplane streams, module-level so every Spark side
# and its DuckDB oracle inline the SAME literals. Each stream is
# prefix-stable: plane i is identical at every count, so an operator
# that widens with the corpus uses the first k planes while its static
# oracle inlines the whole list and slices [1:k]. 40 planes cover
# n ≈ 64·2^40 ≈ 7e13 vectors under f13's plane-count rule, beyond any
# 100 TB corpus; the Spark side only ever builds the first k.
_MAX_PLANES = 40


def _plane_stream(seed: int, n: int = _MAX_PLANES) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(_EMB_DIM)]
            for _ in range(n)]


# The LSH stream: f3's ANN signature (the _N_LSH_PLANES = 4 oracle
# contract, widening up to _LSH_MAX_PLANES: 65 536 buckets ≈ a 130 M
# vector corpus at the measured ~2 K target bucket width, SCALE.md
# §19c) and f13's near-dup buckets.
LSH_PLANES = _plane_stream(42)
_LSH_MAX_PLANES = 16
# f13's hot-bucket split bits: an independent seed, so they stay put
# when the base plane count changes with the corpus.
F13_SPLIT_PLANES = _plane_stream(4242, 8)
# f36's quantizer: independent of the LSH stream, so widening f13's
# pair-search buckets never re-clusters f36's prototype partition.
F36_PLANES = _plane_stream(3636)
_PLANE_SETS = {
    "lsh": LSH_PLANES,
    "f13_split": F13_SPLIT_PLANES,
    "f36": F36_PLANES,
}


def _planes(key: str, k: int) -> list[list[float]]:
    """First ``k`` planes of the named stream. Refuses past the stream's
    length instead of silently truncating: the DuckDB oracle inlines
    exactly that many literals, so a Spark side built from fewer planes
    than it asked for would diverge from it. Raising ``_MAX_PLANES``
    extends both sides from the same seeded prefix."""
    planes = _PLANE_SETS[key]
    if k > len(planes):
        raise ValueError(
            f"{key!r} needs {k} hyperplanes but the prefix-stable plane "
            f"set (and its inlined DuckDB oracle) holds {len(planes)}; "
            "raise _MAX_PLANES — both sides extend the same seeded "
            "prefix, so the oracle stays exact.")
    return planes[:k]


def _sign_bits_sql(planes) -> list[str]:
    """Oracle spelling of :func:`_hyperplane_bucket`: one bit term per
    plane, ``2^i`` when the dot with plane i is positive."""
    return [
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(v) for v in p)}])"
        f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]


def _f13_oracle() -> str:
    """DuckDB twin of f13_embedding_neardup: same plane literals, same
    size→plane-count rule, same hot-bucket split and star-pair residue
    handling, same rounded-cosine threshold. The only cross-engine seams
    are (a) Python banker's round vs DuckDB half-away in the plane-count
    rule — differs only when log2 lands exactly on .5, unreachable for
    real corpus counts — and (b) float ulp at the 0.3 threshold,
    absorbed by rounding to 6 dp before comparing (f3's proven
    pattern)."""
    base_bits = ", ".join(_sign_bits_sql(LSH_PLANES))
    sub_bits = " + ".join(_sign_bits_sql(F13_SPLIT_PLANES))
    cos = fx.sql_round("list_cosine_similarity(ea, eb)", 6)
    return f"""
    WITH params AS (
        SELECT GREATEST(2, CAST(round(log2(GREATEST(COUNT(*), 1) / 64.0 + 1))
                                AS INTEGER)) AS k
        FROM embeddings WHERE {_VEC_OK}
    ), base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE {_VEC_OK}
    ), tagged AS (
        SELECT vec_id, e,
               CAST(list_sum(([{base_bits}])[1:k]) AS BIGINT) AS bucket
        FROM base, params
    ), w1 AS (
        SELECT bucket, COUNT(*) AS w FROM tagged GROUP BY 1
    ), refined AS (
        SELECT t.vec_id, t.e,
               CASE WHEN w1.w > 512
                    THEN t.bucket * 257 + 1 + ({sub_bits})
                    ELSE t.bucket * 257 END AS bucket
        FROM tagged t JOIN w1 USING (bucket)
    ), w2 AS (
        SELECT bucket, COUNT(*) AS w FROM refined GROUP BY 1
    ), flagged AS (
        SELECT r.vec_id, r.e, r.bucket, w2.w
        FROM refined r JOIN w2 USING (bucket)
    ), cold_pairs AS (
        SELECT a.vec_id AS id_a, a.e AS ea, b.vec_id AS id_b, b.e AS eb
        FROM flagged a JOIN flagged b USING (bucket)
        WHERE a.w <= 512 AND a.vec_id < b.vec_id
    ), reps AS (
        SELECT bucket, MIN(vec_id) AS rid, arg_min(e, vec_id) AS re
        FROM flagged WHERE w > 512 GROUP BY bucket
    ), star_pairs AS (
        SELECT r.rid AS id_a, r.re AS ea, h.vec_id AS id_b, h.e AS eb
        FROM flagged h JOIN reps r USING (bucket)
        WHERE h.w > 512 AND h.vec_id <> r.rid
    ), pairs AS (
        SELECT * FROM cold_pairs UNION ALL SELECT * FROM star_pairs
    )
    SELECT id_a, id_b, {cos} AS cosine
    FROM pairs WHERE {cos} > 0.3
    """


def _lsh_ann_oracle(n_planes: int = _N_LSH_PLANES) -> str:
    """DuckDB twin of :func:`lsh_ann_topk` at ``n_planes`` (f3_lsh_ann
    at 4, f3_lsh_ann_wide at 8): same planes (inlined literals from the
    LSH stream), same bucket rule (sign bits), same Hamming-1
    multi-probe, same top-k."""
    bucket = " + ".join(_sign_bits_sql(_planes("lsh", n_planes)))
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << i})" for i in range(n_planes)]
    )
    return f"""
    WITH tagged AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               {bucket} AS bucket
        FROM embeddings WHERE {_VEC_OK}
    ), probes AS (
        SELECT vec_id AS query_id, e AS qe,
               unnest([{probe_list}]) AS bucket
        FROM tagged WHERE vec_id < 20
    ), pairs AS (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(p.qe, c.e) AS cos
        FROM probes p JOIN tagged c USING (bucket)
        WHERE p.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id,
           FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine, rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rk FROM pairs
    ) WHERE rk <= 5
    """


def _embeddings(spark, sf_dir, n_planes: int | None = None) -> DataFrame:
    """Shared embeddings source for the vector family (f3/f13/f21/f28).

    Unusable vectors are EXCLUDED at the source: a
    100 TB embedding table carries nulls (failed encoder calls), NaN
    elements (encoders write garbage, not always null), and all-zero
    vectors (norm 0 → every cosine is 0/0). Nulls crashed every
    downstream consumer differently (numpy refused the ragged k-means
    sample, DuckDB's list_inner_product raised, Spark dot products
    silently yielded null buckets); NaN and zero-norm vectors are the
    same poison one step later — NaN cosines rank nondeterministically
    and 0/0 divides. One predicate covers all three: the squared norm
    must be finite and positive (a NaN element makes it NaN, an Inf
    element makes it Inf, all-zero makes it 0). A vector that can hold
    no place in similarity space is excluded; counting/alerting on them
    is a data-quality concern (f33's class), not a similarity-operator
    one. Every vector-family oracle carries the matching ``_VEC_OK``
    predicate.

    The accessor reads the table's DERIVED columns: ``nrm`` comes
    from the layout's materialized ``graft_nrm`` when one is
    registered (the metadata a real ANN index stores per row — no
    per-query 64-element fold over candidates), computed on the fly
    otherwise — identical values either way, catalog.LAYOUT_DERIVED
    materializes the exact same expression. ``n_planes`` additionally
    exposes the ``n_planes``-wide LSH bucket as ``bucket``: served from
    the stored ``graft_lsh_bucket`` (pre-partitioned under a layout —
    the persisted ANN index) when the registered layout, or the
    4-plane default without one, has that width, and computed inline
    from the same prefix-stable stream otherwise (value-identical,
    unpruned). Catalyst prunes whichever derived column a query doesn't
    reference, so the no-layout path pays only for what it uses."""
    e = table(spark, sf_dir, "embeddings", with_derived=True).filter(
        F.col("embedding").isNotNull()
    )
    emb = _as_double(F.col("embedding"))
    cols = ["vec_id", "label", emb.alias("emb"),
            F.col("graft_nrm").alias("nrm")]
    if n_planes is not None:
        from ..catalog import layout_lsh_planes

        stored = layout_lsh_planes(spark, sf_dir)
        served_width = stored if stored is not None else _N_LSH_PLANES
        if n_planes == served_width:
            cols.append(F.col("graft_lsh_bucket").alias("bucket"))
        else:
            cols.append(bucket_expr("lsh", n_planes, "embedding",
                                    as_double=True).alias("bucket"))
    out = e.select(*cols)
    return out.filter(
        ~F.isnan("nrm") & (F.col("nrm") > 0)
        & (F.col("nrm") < F.lit(float("inf")))
    )


# Portable seed quantizer (the f21/f28 oracle graduation). A Lloyd
# k-means fit lives in numpy — no static SQL twin can reproduce its
# float means bit-exactly — so f21/f28 use a quantizer both engines
# derive from the data identically: the centroids are the
# embeddings of the k vectors with the smallest Knuth-style multiplicative
# hash of vec_id — pure BIGINT arithmetic (no overflow: (2^31-1)·A + C
# < 2^63), i.e. k-means with hash-random init and zero Lloyd iterations,
# a standard cheap IVF coarse quantizer. Assignment distances use
# SEQUENTIAL per-element accumulation (cumsum, not matmul) so d² is
# bit-identical to DuckDB's list_dot_product fold (the f3-proven
# equivalence), and every ordering ties on (d², cell) in both engines —
# the assignment is exact, not ulp-close.
_SEED_M = 2_147_483_648  # 2^31
_SEED_A = 1_103_515_245
_SEED_C = 12_345


def _seed_hash_col(c):
    return F.pmod(F.pmod(c, F.lit(_SEED_M)) * _SEED_A + _SEED_C,
                  F.lit(_SEED_M))


def _seed_hash_sql(expr: str) -> str:
    # positive-safe modulo in DuckDB (% keeps the dividend's sign)
    return (f"((((({expr}) % {_SEED_M}) + {_SEED_M}) % {_SEED_M})"
            f" * {_SEED_A} + {_SEED_C}) % {_SEED_M}")


def _seed_centroids(emb, k):
    """The k seed vectors in cell order (hash rank, vec_id tie-break) —
    one driver-bounded TakeOrdered collect, k×dim driver state."""
    import numpy as np

    rows = (
        emb.select("vec_id", "emb")
        .orderBy(_seed_hash_col(F.col("vec_id")).asc(),
                 F.col("vec_id").asc())
        .limit(k)
        .collect()
    )
    if not rows:
        return None
    return np.array([r.emb for r in rows])


def _seq_dot(x2d, centers_np):
    """x·cᵀ with strictly SEQUENTIAL accumulation over the dim axis —
    bit-identical to the oracle's list_dot_product fold (numpy's matmul
    uses pairwise/SIMD accumulation, which is ulp-close but not equal;
    an ulp flips an argmin only on near-ties, and near-ties are exactly
    what an adversarial corpus plants). dim vectorized-batch adds of a
    b×k accumulator — each scalar lane is the exact IEEE sequence
    ``((0 + x₁c₁) + x₂c₂) + …`` the fold computes; memory stays b×k."""
    import numpy as np

    acc = np.zeros((x2d.shape[0], centers_np.shape[0]))
    for i in range(centers_np.shape[1]):
        acc = acc + x2d[:, i, None] * centers_np[None, :, i]
    return acc


def _nearest_seed_udf(centers_np):
    """Arrow-batched exact-portable nearest-cell assignment: argmin of
    (c·c − 2·x·c) with sequential dots; numpy argmin takes the FIRST
    index on ties = the oracle's ORDER BY d2, cell."""
    import numpy as np

    c_sq = np.cumsum(centers_np * centers_np, axis=1)[:, -1]

    @F.pandas_udf("integer")
    def nearest_seed(embs):  # Series[array<double>] -> Series[int]
        import pandas as pd

        x = np.stack(embs.values)
        d2 = c_sq[None, :] - 2.0 * _seq_dot(x, centers_np)
        return pd.Series(d2.argmin(axis=1))

    return nearest_seed


def _probe_seeds_udf(centers_np, nprobe):
    """The nprobe nearest cells per query, stable-sorted so distance
    ties resolve by cell index — the oracle's ORDER BY d2, cell."""
    import numpy as np

    c_sq = np.cumsum(centers_np * centers_np, axis=1)[:, -1]

    @F.pandas_udf("array<integer>")
    def probe_seeds(embs):  # Series[array<double>] -> Series[list[int]]
        import pandas as pd

        x = np.stack(embs.values)
        d2 = c_sq[None, :] - 2.0 * _seq_dot(x, centers_np)
        order = np.argsort(d2, axis=1, kind="stable")
        return pd.Series(list(order[:, :nprobe]))

    return probe_seeds


def _hyperplane_bucket(planes, emb_col):
    """Sign-bit LSH bucket id for ``emb_col`` against ``planes`` —
    the single definition of the bucket rule shared by every
    random-hyperplane path (f3_lsh_ann, f13), so the boundary and bit
    order cannot silently diverge between them."""
    out = F.lit(0)
    for i, plane in enumerate(planes):
        bit = (
            _dot(emb_col, F.array(*[F.lit(v) for v in plane])) > 0
        ).cast("int")
        out = out + bit * (2 ** i)
    return out


# Memoized spellings of the vector family's df-independent derived
# expressions: building a k-plane bucket tree costs k × (64 F.lit +
# array + fold) py4j round trips, a flat ~0.3-0.4 s tax on every
# table(..., with_derived=True) call and every f13 call. The Columns
# reference their inputs BY NAME, so one build per (plane set, prefix,
# column, JVM) serves every query in the process; _jvm_token keys out
# dead-JVM refs.
@_jvm_memo(maxsize=64)
def bucket_expr(planes_key: str, n: int, emb_name: str,
                as_double: bool = False):
    """Memoized :func:`_hyperplane_bucket` over :func:`_planes`
    ``(planes_key, n)``, applied to column ``emb_name``."""
    col = F.col(emb_name)
    if as_double:
        col = _as_double(col)
    return _hyperplane_bucket(_planes(planes_key, n), col)


@_jvm_memo(maxsize=16)
def nrm_expr(emb_name: str, as_double: bool = False):
    """Memoized vector norm over the named column (the stored-metadata
    expression catalog.LAYOUT_DERIVED materializes as ``graft_nrm``)."""
    col = F.col(emb_name)
    if as_double:
        col = _as_double(col)
    return _norm(col)


# ------------------------------------------------------------ F1: dedup
@query(
    "f1_exact_dedup",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def f1_exact_dedup(spark, sf_dir):
    """F1: exact content dedup — SHA-256 content hash → groupBy → keep the
    min id. At 100 TB this is one shuffle on a 32-byte key with partial
    aggregation; hashing happens map-side in codegen. (dropDuplicates is
    the one-liner variant; the hash form keeps lineage of what was kept.)
    """
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# f2's tuning constants — module-level so the implementation and its
# DuckDB oracle read the SAME literals (the LSH_PLANES pattern).
F2_N_HASHES, F2_N_BANDS, F2_MAX_BUCKET = 32, 4, 64

# Universal-hash permutation constants for the 32 minhash seeds:
# perm_j(x) = (a_j * x + b_j) mod p with p = 2^31 - 1 and x = s mod p
# (s is the 56-bit packed gram hash). a_j*x < 2^62, so the arithmetic
# never overflows a signed long under EITHER ANSI posture, and both
# engines compute it exactly. Fixed literals (seeded once, pasted) so
# the values cannot drift between processes or Python versions; a
# per-seed Kirsch-Mitzenmacher h1 + j*h2 was tried first and REJECTED:
# for large j the argmin gram is dominated by min(h2), correlating the
# minhash rows across seeds and dropping banding recall to 0.86 —
# below the 0.9 gate (classic LSH folklore, measured here).
F2_HASH_P = 2147483647
F2_PERMS = (
    (1571058545, 730493951), (1660058740, 1293707555),
    (1122761735, 1579482913), (72772567, 776319282),
    (1809802580, 1088400265), (1716185262, 1854787490),
    (1376580201, 1232262116), (126093127, 1718349004),
    (1255154079, 929465993), (1495162255, 1110399376),
    (253380337, 223979956), (331484110, 2008330132),
    (554108161, 2135836560), (84440658, 430566606),
    (287728255, 1463639562), (1926419603, 34250603),
    (492340083, 377114938), (1370280527, 1486839300),
    (1398888244, 2122241593), (1078376802, 462006862),
    (988049140, 2126155473), (827766902, 1307509404),
    (1105680809, 1314894100), (2032715449, 109028814),
    (2091592247, 1492510468), (1748677567, 1091064767),
    (791347239, 583621836), (1267255616, 288603717),
    (146926940, 761214734), (923038556, 1674215711),
    (1858616511, 193761614), (804076797, 119361460),
)


def _f2_oracle_ctes() -> str:
    """The full f2 pipeline as DuckDB CTEs (through ``verified``), shared
    by the f2 and f14 oracles. Reproducible cross-engine because every
    hash is md5-derived (see f2's docstring): base shingle hash = two
    28-bit md5-hex halves packed into a 56-bit long; per-seed minhash =
    universal hashing (a_j·(s mod p) + b_j) mod p, p = 2^31−1 (< 2^62,
    exact integer arithmetic in both engines, no overflow under either
    ANSI posture); band hash = md5 of the 8 pipe-joined minhash values
    + the band id."""
    rpb = F2_N_HASHES // F2_N_BANDS
    m_cols = ", ".join(
        "list_min(list_transform(sh, s -> "
        f"({a} * (s % {F2_HASH_P}) + {b}) % {F2_HASH_P}"
        f")) AS m{j}"
        for j, (a, b) in enumerate(F2_PERMS)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, ('0x' || substring(md5({cat}), 1, 15))::BIGINT AS band_hash FROM minh"
        .format(
            b=b,
            cat=" || '|' || ".join(
                f"m{j}::VARCHAR" for j in range(b * rpb, (b + 1) * rpb)
            ) + f" || '|{b}'",
        )
        for b in range(F2_N_BANDS)
    )
    return f"""
    toked AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), corpus AS (
        SELECT doc_id, toks FROM toked WHERE len(toks) >= 3
        UNION ALL
        SELECT doc_id + (SELECT COALESCE(MAX(doc_id) + 1, 1) FROM documents),
               toks[1:len(toks) - 2]
        FROM toked WHERE doc_id < 20 AND len(toks) >= 5
    ), shingled AS (
        SELECT doc_id,
               list_transform(
                   list_transform(
                       list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                      FOR i IN generate_series(1, len(toks) - 2)]),
                       g -> md5(g)),
                   m -> ('0x' || substring(m, 1, 7))::BIGINT * 268435456
                        + ('0x' || substring(m, 8, 7))::BIGINT) AS sh
        FROM corpus
    ), minh AS (
        SELECT doc_id, sh, {m_cols} FROM shingled
    ), bands AS (
        {band_selects}
    ), bucket_stats AS (
        SELECT band_id, band_hash, COUNT(*) AS w, MIN(doc_id) AS rep
        FROM bands GROUP BY 1, 2
    ), all_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        JOIN bucket_stats s ON s.band_id = a.band_id
                           AND s.band_hash = a.band_hash
        WHERE s.w BETWEEN 2 AND {F2_MAX_BUCKET}
    ), star_pairs AS (
        SELECT s.rep AS doc_a, b.doc_id AS doc_b
        FROM bands b
        JOIN bucket_stats s ON s.band_id = b.band_id
                           AND s.band_hash = b.band_hash
        WHERE s.w > {F2_MAX_BUCKET} AND b.doc_id <> s.rep
    ), cand AS (
        SELECT DISTINCT doc_a, doc_b
        FROM (SELECT * FROM all_pairs UNION ALL SELECT * FROM star_pairs)
    ), verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        FROM cand c
        JOIN shingled a ON a.doc_id = c.doc_a
        JOIN shingled b ON b.doc_id = c.doc_b
    )"""


@query(
    "f2_minhash_dedup",
    oracle="WITH " + _f2_oracle_ctes() + """
    SELECT doc_a, doc_b,
           FLOOR(j * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM verified WHERE j >= 0.6
    """,
)
def f2_minhash_dedup(spark, sf_dir):
    """F2: MinHash+LSH near-duplicate detection, built from scratch in
    DataFrame ops (shingle → 32 minhashes → 4 bands of 8 → hot-bucket cap
    → band-bucket join → exact-Jaccard verify ≥ 0.6).

    Oracle-checked: the hash family is cross-engine exact (Spark's
    xxhash64, which DuckDB cannot reproduce, is not used): ONE md5 per
    distinct
    shingle, its first 14 hex chars packed into a 56-bit long ``s``,
    and the 32 per-seed permutations computed by the classic universal
    family ``(a_j·(s mod p) + b_j) mod p`` with p = 2^31−1 (F2_PERMS
    literals) — four long ops per gram per seed, cheaper than the
    xxhash64 it replaces, and bit-identical in both engines, so the
    ENTIRE pipeline including banding recall has an exact SQL twin
    (_f2_oracle_ctes) and the key is value-hash-verified. a_j·x < 2^62,
    so the arithmetic is ANSI-posture-agnostic (a wraparound long
    multiply would throw under ansi=true, the edge sweep's second
    posture; nothing here can overflow). Band hash = md5 of the
    pipe-joined minhash octet + band id (4 md5s per doc — off the hot
    path). Banding recall vs the exact all-pairs baseline is still < 1
    by design (an LSH property); the behavioral gates in
    tests/test_llm_ops.py (soundness + recall ≥ 0.9 + planted-pair
    recovery) stay as the semantic check.

    The corpus is documents ∪ planted near-duplicates (docs 0-19 with
    the last two tokens dropped, ids shifted past max(doc_id) — see
    ``planted_offset``) so the operator's output is deterministic and
    non-empty on synthetic data.

    Scale posture: candidate generation is an equi self-join on
    (band_id, band_hash) — shuffle-partitioned by bucket, never all-pairs.
    Hot buckets are the known skew risk (boilerplate shingles; here, the
    synthetic corpus's tiny vocabulary makes one common shingle own the
    global minimum hash for many seeds, colliding thousands of docs into
    one bucket — quadratic blowup). Mitigations: 8 minhash rows per band
    (collision needs 8 shared minima, not 4) and a bucket-width cap at
    MAX_BUCKET — buckets at or under the cap expand all-pairs (bounded
    at B·MAX_BUCKET² candidates regardless of skew); buckets OVER the
    cap emit STAR pairs to the bucket's min-doc_id representative
    (linear in width) instead of being dropped. A drop-cap fails at
    scale: on the 100× stress corpus it recalls 0.15 (3/20) of the
    planted pairs, because every ~100-member replica family floods its
    band buckets past the cap and the cap silently discards them —
    i.e. the MOST-duplicated content is exactly what a drop-cap
    misses. A mega-cluster's all-pairs output
    is inherently quadratic (no sound algorithm emits it at linear
    cost); the star pattern is the standard linear-cost answer that
    keeps every true member reachable from the representative, which is
    what downstream dedup (f14 connected components, f1-style
    keep-min) actually consumes. Same exact-Jaccard verify applies to
    star candidates, so soundness is unchanged. The verify step rejoins
    shingle sets by doc id (broadcast while the shingle pin fits, a
    shuffle join beyond); a 10M-copy boilerplate family makes its
    representative a hot verify-join key — AQE's skew split handles a
    replicated single-array payload."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = _planted_corpus(docs)
    # Two materialization decisions, both measured (see BASELINE.md):
    # - the repartition barrier spreads the (possibly few-file) scan
    #   across the cluster before the expensive minhash stage, and stops
    #   projection collapse from substituting the shingle transform into
    #   all 32 minhash lambdas (14× recompute without it);
    # - the shingled frame is localCheckpoint-pinned: three plan branches
    #   consume it (band generation + both sides of the verify join) and
    #   Spark would otherwise re-evaluate it per branch — exchange reuse
    #   does not fire across differently-aliased subtrees. The blocks are
    #   owned by the returned plan and released with it; a lost executor
    #   fails the job rather than recomputing. The payload is only
    #   doc_id + hashed-gram arrays (~8·|grams| B/doc), far smaller than
    #   the text it derives from.
    # NB: no filter on size(sh) here — the toks-size filter above already
    # guarantees ≥1 gram, and a post-projection filter on `sh` would be
    # pushed below the projection, re-evaluating the entire shingle
    # expression a second time (measured 2.7× on this stage).
    shingled = (
        corpus.select(
            "doc_id",
            # two-level transform: the inner one materializes md5(g) so
            # the two substring reads share ONE md5 evaluation per gram
            # (a single-level lambda referencing md5(g) twice computes
            # it twice — measured 1.7× on this stage)
            F.transform(
                F.transform(_shingles(F.col("toks")), lambda g: F.md5(g)),
                lambda m: F.conv(F.substring(m, 1, 7), 16, 10).cast("long")
                * F.lit(268435456).cast("long")
                + F.conv(F.substring(m, 8, 7), 16, 10).cast("long"),
            ).alias("sh"),
        )
        .repartition(F.col("doc_id"))
    )
    shingled = shingled.localCheckpoint()

    n_hashes, n_bands, max_bucket = F2_N_HASHES, F2_N_BANDS, F2_MAX_BUCKET
    rows_per_band = n_hashes // n_bands
    # one minhash expression per seed, each referenced exactly once in
    # its band hash — no expression is duplicated, so nothing recomputes.
    # Built as a single SQL string: the equivalent Column-API construction
    # (32 Python lambdas) costs seconds of py4j round-trips per call;
    # F.expr ships the whole tree to the JVM parser in one hop.
    # Hash spellings mirror _f2_oracle_ctes exactly (md5-derived base,
    # universal-hash permutations — see F2_PERMS), band hash over the
    # pipe-joined minhash octet.
    minh = [
        f"array_min(transform(sh, s -> ({a} * (s % {F2_HASH_P}) + {b}) "
        f"% {F2_HASH_P}))"
        for a, b in F2_PERMS
    ]
    band_structs = ", ".join(
        "named_struct('band_id', {b}, 'band_hash', "
        "cast(conv(substr(md5(concat_ws('|', {args}, '{b}')), 1, 15), "
        "16, 10) as bigint))"
        .format(
            b=b,
            args=", ".join(
                f"cast({m} as string)"
                for m in minh[b * rows_per_band:(b + 1) * rows_per_band]
            ),
        )
        for b in range(n_bands)
    )
    # pinned like the shingles: THREE consumers below (the stats agg and
    # both bucket joins) would otherwise each re-derive all 32 minhashes
    # from the shingle arrays — the dominant map cost of the whole
    # operator. The payload is 4 rows of 3 longs per doc.
    bands = shingled.select(
        "doc_id",
        F.explode(F.expr(f"array({band_structs})")).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash").localCheckpoint()

    # Candidate generation as a count-gated aggregation instead of a band
    # self-join + window cap. Phases on the same bucket key:
    # (1) per-bucket stats (count + min doc_id) — map-side-combinable,
    #     so a degenerate hot bucket costs one counter, never a buffer;
    # (2) collect_list ONLY over buckets that passed the 2..cap width
    #     gate, so no aggregation buffer can exceed cap ids. Gating
    #     BEFORE the list build matters: a width filter after
    #     collect_list would bound the pair *output* but still
    #     materialize the hot bucket's full doc array in one reduce task
    #     (OOM at 10^7-id buckets). Both phases and the gate join hash
    #     on (band_id, band_hash), so the exchange is shared/aligned;
    # (3) buckets OVER the cap: star pairs (rep=min doc_id → member) via
    #     a broadcast-size join of the few hot-bucket keys back onto
    #     bands — map-only, linear in bucket width, no per-bucket buffer
    #     anywhere (see docstring: the drop-cap recall failure).
    # All-pairs work and shuffle stay bounded by B·cap²; star work is
    # linear however skewed the input.
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "named_struct('doc_a', least(x, y), 'doc_b', greatest(x, y)))))"
    )
    bucket_key = ["band_id", "band_hash"]
    bucket_stats = bands.groupBy(*bucket_key).agg(
        F.count(F.lit(1)).alias("w"), F.min("doc_id").alias("rep")
    )
    ok_buckets = (
        bucket_stats
        .filter((F.col("w") >= 2) & (F.col("w") <= max_bucket))
        .select(*bucket_key)
    )
    all_pairs = (
        bands.join(ok_buckets, bucket_key)
        .groupBy(*bucket_key)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    hot_reps = (
        bucket_stats.filter(F.col("w") > max_bucket)
        .select(*bucket_key, "rep")
    )
    star_pairs = (
        bands.join(hot_reps, bucket_key)
        .filter(F.col("doc_id") != F.col("rep"))
        # rep is the bucket MIN, so (rep, member) is already ordered
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    cand = all_pairs.unionByName(star_pairs).distinct()
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"),
                           F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"),
                           F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a", "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.6)
    )
    return verified.select("doc_a", "doc_b", fx.fround(F.col("jaccard"), 4).alias("jaccard"))


@query("f20_ml_minhash_lsh")  # rows-only: library LSH, no SQL twin
def f20_ml_minhash_lsh(spark, sf_dir):
    """F20: the pyspark.ml form of near-dup detection (SURVEY.md §2 F2's
    named primitives): shingles → binary HashingTF vectors → MinHashLSH →
    ``approxSimilarityJoin`` at Jaccard distance ≤ 0.4, over the same
    planted-duplicate corpus as f2.

    Two findings from measurement (sf0.1, 5000 docs):
    - the feature frame MUST be pinned — ``approxSimilarityJoin``
      references it on both join sides and in the model transform, and
      without pinning every task re-derives it from the parquet scan
      (35 s unpinned → ~3 s pinned);
    - with that fixed, the library is competitive locally, but its hash
      tables are single-minhash bands with no bucket-width cap, so its
      candidate volume on boilerplate-heavy corpora is unbounded — the
      from-scratch f2 (8-row bands + explicit cap) stays the scale path
      with those knobs exposed. Same planted pairs must surface
      (asserted in tests)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = _planted_corpus(docs)
    shingled = corpus.select(
        "doc_id", _shingles(F.col("toks")).alias("grams")
    )
    tf = HashingTF(inputCol="grams", outputCol="features",
                   numFeatures=1 << 14, binary=True)
    # pin: approxSimilarityJoin references this frame on both join sides
    # and inside the model transform — without pinning, every task
    # re-derives it from the parquet scan. localCheckpoint blocks die
    # with the result frame instead of holding a session-wide
    # CacheManager entry.
    feat = (tf.transform(shingled).select("doc_id", "features")
            .localCheckpoint())
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=4, seed=42)
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 0.4,
                                        distCol="jaccard_dist")
    return (
        joined.filter(
            F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
        )
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            fx.fround(1 - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
    )


# ------------------------------------------- F3: similarity search (ANN)
def _cosine_top5(emb, join, key: str | None = None, probes=None):
    """Exact cosine top-5 neighbours of every query vector
    (``vec_id < 20``) — the tail f3_cosine_topk, lsh_ann_topk and
    f21_ivf_ann share. ``emb`` carries ``vec_id``/``emb``/``nrm``; the
    query side explodes ``probes`` into ``key`` and the candidate side
    keeps ``key``. ``join(q, c)`` is the operator's own candidate rule
    and drops self-pairs. Norms are stored per row; per-pair work is
    one unrolled 64-dim dot in codegen (bit-identical to the oracle's
    loop); rank ties break on ``neighbor_id``."""
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm"),
        *([F.explode(probes).alias(key)] if key else []),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm"),
        *([key] if key else []),
    )
    cos = (_dot_unrolled("q_emb", "c_emb")
           / (F.col("q_nrm") * F.col("c_nrm")))
    w = W.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        join(q, c)
        .select("query_id", "neighbor_id", cos.alias("_cos"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id",
                fx.fround(F.col("_cos"), 6).alias("cosine"), "rk")
    )


def _probe_join(key: str):
    """Equi join on a probed bucket/cell id, self-pairs dropped."""
    return lambda q, c: q.join(c, [key]).filter(
        F.col("query_id") != F.col("neighbor_id"))


@query(
    "f3_cosine_topk",
    oracle=f"""
    SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               FLOOR(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[]))
                     * 1000000.0 + 0.5) / 1000000.0 AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[]))
                            DESC, c.vec_id
               ) AS rk
        FROM (SELECT * FROM embeddings WHERE {_VEC_OK}) q
        JOIN (SELECT * FROM embeddings WHERE {_VEC_OK}) c
          ON q.vec_id <> c.vec_id
        WHERE q.vec_id < 20
    ) WHERE rk <= 5
    """,
)
def f3_cosine_topk(spark, sf_dir):
    """F3: exact brute-force cosine top-k — the correctness baseline for
    similarity search. Queries (small side) broadcast against the full
    candidate set. Top-k is a per-query window, planned as partial
    top-k under AQE. The scale path (bucketed candidates instead of
    all-pairs) is f3_lsh_ann."""
    return _cosine_top5(
        _embeddings(spark, sf_dir),
        lambda q, c: F.broadcast(q).join(
            c, F.col("query_id") != F.col("neighbor_id")),
    )


def lsh_planes_for(n_rows: int, target_bucket: int = 2000) -> int:
    """Measured plane-count rule for the LSH ANN scale mode (SCALE.md
    §19c): hold the EXPECTED bucket width ≈ ``target_bucket`` as the
    corpus grows — ``n = log2(corpus / target)`` planes, floored at the
    4-plane oracle contract, capped at ``_LSH_MAX_PLANES``. With
    Hamming-1 multi-probe the probed candidate count per query is then
    ≈ (n+1)·target, i.e. LOGARITHMIC growth in corpus size where the
    pinned 4-plane contract is linear (pairs/query = corpus/16)."""
    if n_rows <= 0:
        return _N_LSH_PLANES
    return max(_N_LSH_PLANES,
               min(_LSH_MAX_PLANES,
                   round(math.log2(max(n_rows / target_bucket, 1.0)))))


def _check_lsh_width(n_planes: int) -> None:
    """Refuse an LSH ANN width outside [4, 16]: below the 4-plane oracle
    contract, or past ``_LSH_MAX_PLANES`` (2^16 buckets), the width
    every stored ANN index and :func:`lsh_planes_for` stay within."""
    if not _N_LSH_PLANES <= int(n_planes) <= _LSH_MAX_PLANES:
        raise ValueError(
            f"lsh_planes={n_planes} outside "
            f"[{_N_LSH_PLANES}, {_LSH_MAX_PLANES}] — the ANN width "
            f"floors at the {_N_LSH_PLANES}-plane oracle contract and "
            f"caps at {_LSH_MAX_PLANES} planes")


@query("f3_lsh_ann", oracle=_lsh_ann_oracle())
def f3_lsh_ann(spark, sf_dir):
    """F3 scale path: random-hyperplane LSH ANN with multi-probe, at the
    fixed 4-plane oracle contract (:func:`lsh_ann_topk` at
    ``_N_LSH_PLANES``). Each vector gets a 4-bit signature (sign of dot
    with 4 fixed seeded hyperplanes) → 16 buckets; each query probes its
    own bucket plus the 4 Hamming-1 neighbors, joins candidates equi on
    bucket id, then exact top-k within the probed set. Recall vs the
    exact baseline is asserted in tests/test_llm_ops.py; because the
    hyperplanes are fixed literals, the whole approximate pipeline is
    ALSO value-checked against a DuckDB twin that inlines the same
    planes. Wider signatures for larger corpora are
    :func:`lsh_ann_topk` calls at a width from :func:`lsh_planes_for`."""
    return lsh_ann_topk(spark, sf_dir, _N_LSH_PLANES)


def lsh_ann_topk(spark, sf_dir, n_planes: int):
    """LSH ANN top-5 at an ``n_planes``-wide signature: the first
    ``n_planes`` planes of the seeded prefix-stable ``LSH_PLANES``
    stream, 2^n_planes buckets, Hamming-1 multi-probe (n_planes + 1
    probes per query). ``n_planes`` must lie in [4, 16]
    (:func:`_check_lsh_width`). Deployments size it with
    :func:`lsh_planes_for` and build the embeddings layout AT that
    width (``build_workload_layout(lsh_planes=n)`` or
    :func:`catalog.build_ann_index`), so the candidate side reads the
    stored pre-partitioned assignment with dynamic partition pruning;
    a width with no matching layout computes buckets inline
    (value-identical, tagging-scan-bound)."""
    _check_lsh_width(n_planes)
    tagged = _embeddings(spark, sf_dir, n_planes=n_planes)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    return _cosine_top5(tagged, _probe_join("bucket"), "bucket", probes)


# the wide demo width: 8 planes = 256 buckets — wide enough that the
# probed fraction (9/256 ≈ 3.5%) is a different regime from the
# contract default's 5/16 ≈ 31%, small enough that the sf0.01 oracle
# corpus (~5k vectors) still populates buckets
_WIDE_DEMO_PLANES = 8


@query("f3_lsh_ann_wide", oracle=_lsh_ann_oracle(_WIDE_DEMO_PLANES))
def f3_lsh_ann_wide(spark, sf_dir):
    """F3 scale mode under ORACLE: :func:`lsh_ann_topk` at 8 planes
    (256 buckets, 9 probes), value-checked against a DuckDB twin that
    inlines the same literals, so the approximate SCALE path gets the
    same oracle grade as the 4-plane contract instead of a rows-only
    recall gate. Serves the stored assignment with DPP pruning when
    the embeddings layout was built at this width; computes inline
    otherwise — value-identical either way."""
    return lsh_ann_topk(spark, sf_dir, _WIDE_DEMO_PLANES)


def _f21_oracle(k: int = 16, nprobe: int = 4) -> str:
    """DuckDB twin of f21_ivf_ann: derives the SAME seed centroids from
    the data (portable hash rank — no literals needed, so one static
    string serves every SF), assigns by the same sequential-accumulation
    d² with the same (d², cell) tie order, probes the same nprobe cells,
    and ranks the same cosine (the f3-proven
    _dot ≡ list_dot_product equivalence)."""
    h = _seed_hash_sql("vec_id")
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE {_VEC_OK}
    ), seeds AS (
        SELECT se, rn - 1 AS cell FROM (
            SELECT e AS se,
                   ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
            FROM base) WHERE rn <= {k}
    ), d AS (
        SELECT b.vec_id, b.e, s.cell,
               list_dot_product(s.se, s.se)
                   - 2 * list_dot_product(b.e, s.se) AS d2
        FROM base b CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, e, cell FROM (
            SELECT vec_id, e, cell, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2, cell) AS arn
            FROM d) WHERE arn = 1
    ), probes AS (
        SELECT vec_id AS query_id, e AS qe, cell FROM (
            SELECT vec_id, e, cell, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2, cell) AS prn
            FROM d WHERE vec_id < 20) WHERE prn <= {nprobe}
    ), pairs AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.qe, a.e) AS cos
        FROM probes p JOIN assigned a USING (cell)
        WHERE p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id,
           FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine, rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id
        ) AS rk FROM pairs
    ) WHERE rk <= 5
    """


@query("f21_ivf_ann", oracle=_f21_oracle())
def f21_ivf_ann(spark, sf_dir):
    """F21: IVF (inverted-file) ANN — the second of the two scale
    structures the training-pipeline mandate names (LSH is f3_lsh_ann).
    A coarse quantizer partitions the corpus into cells; every vector
    is assigned to its nearest centroid in one Arrow-batched map pass;
    each query probes its nprobe=4 nearest cells and runs exact cosine
    top-k inside them only.

    Quantizer (see the _SEED_M block comment): the PORTABLE seed
    quantizer (centroids = the k hash-ranked corpus vectors, zero Lloyd
    iterations), which both engines derive identically — the key is
    fully oracle-hash-checked.

    Scale posture: driver state is k×dim regardless
    of corpus size; assignment is map-only, one Arrow batch pass; the
    probe join is equi on cell id, shuffle-partitionable; recall/cost
    is tuned by k and nprobe."""
    k, nprobe = 16, 4
    emb = _embeddings(spark, sf_dir)
    centers_np = _seed_centroids(emb, k=k)
    if centers_np is None:  # empty corpus: no index, no neighbors
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rk int")
    nprobe = min(nprobe, len(centers_np))  # k may have been clamped
    nearest_cell = _nearest_seed_udf(centers_np)
    probe_cells = _probe_seeds_udf(centers_np, nprobe)

    # cells: one map pass; localCheckpoint-pinned so the probe join's two
    # reads (query side + corpus side) don't recompute the
    # scan+assignment; the blocks are released with the result
    tagged = emb.withColumn("cell", nearest_cell("emb")).localCheckpoint()
    return _cosine_top5(tagged, _probe_join("cell"), "cell",
                        probe_cells("emb"))


def _pinned_with_width(spark, sf_dir, width: int):
    """The usable embeddings pinned once, and the plane count that
    holds the expected bucket width at ``width``:
    ``max(2, round(log2(n/width + 1)))`` — f13 (width 64) and f36
    (width 256). ``n`` is counted by an Observation riding the pin's
    own materialization job, so sizing costs no extra corpus pass; it
    is the exact population that gets bucketed and that the oracle's
    params CTE counts. Callers derive the bucket tag lazily from the
    pinned blocks: its consumers re-derive only the k·64-dim sign dots
    instead of forcing a second corpus-sized materialization."""
    obs = Observation()
    emb = (
        _embeddings(spark, sf_dir)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n = int(obs.get["n"])
    return emb, max(2, round(math.log2(max(n, 1) / width + 1)))


@query("f13_embedding_neardup", oracle=_f13_oracle())
def f13_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: pairs above a cosine threshold found
    through the LSH buckets (same machinery as f3_lsh_ann, pair output) —
    the embedding-space member of the dedup family. The hyperplane count
    scales as log2(n / target_bucket_width), holding expected bucket
    width (and so per-bucket quadratic work) constant as the corpus
    grows; the count that sizes it rides the source pin
    (:func:`_pinned_with_width`). The base planes are the LSH stream
    f3 uses.

    The per-pair cosine runs as an Arrow-batched pandas UDF (one einsum
    over the whole batch) — the bucketed self-join emits ~n²/buckets
    pairs, and a vectorized kernel beats the interpreted higher-order
    fold by ~4× there; the JVM `_dot` stays in the exact-baseline ops
    where bit-identical accumulation against the oracle matters."""
    emb, n_planes = _pinned_with_width(spark, sf_dir, 64)
    tagged = emb.withColumn("bucket", bucket_expr("lsh", n_planes, "emb"))
    # Hot-bucket SPLIT (not drop): plane count targets an EXPECTED width
    # of 64 under uniformity, but clustered corpora — the very thing a
    # near-dup detector hunts — concentrate in few buckets, and an
    # uncapped bucket self-join goes quadratic on the hot bucket (m²/2
    # pairs through one task). Dropping hot buckets would discard exactly
    # the dense clusters the operator exists to find, so oversized
    # buckets instead get 8 MORE sign bits (256-way sub-split; cold
    # buckets shift into a disjoint id space — ×257 keeps hot sub-ids
    # from colliding with the next cold bucket; the base bucket is cast
    # long first so the multiply can't wrap int32 at high plane counts
    # and silently re-merge unrelated sub-buckets). The width gate is a
    # map-side-combinable count, and the refined frame is re-pinned:
    # three consumers (re-gate + both self-join sides) read one
    # materialization instead of re-deriving the split bits.
    max_bucket = 512
    widths = tagged.groupBy("bucket").agg(F.count(F.lit(1)).alias("_w"))
    bucket_l = F.col("bucket").cast("long")
    refined = (
        tagged.join(widths, "bucket")
        .withColumn(
            "bucket",
            F.when(
                F.col("_w") > max_bucket,
                bucket_l * 257 + 1
                + bucket_expr("f13_split", len(F13_SPLIT_PLANES),
                              "emb"),
            ).otherwise(bucket_l * 257),
        )
        .drop("_w")
    )
    refined = refined.localCheckpoint()
    w2 = refined.groupBy("bucket").agg(F.count(F.lit(1)).alias("_w"))
    flagged = refined.join(w2, "bucket")
    cold = flagged.filter(F.col("_w") <= max_bucket)
    a = cold.select(F.col("vec_id").alias("id_a"),
                    F.col("emb").alias("emb_a"), "bucket")
    b = cold.select(F.col("vec_id").alias("id_b"),
                    F.col("emb").alias("emb_b"), "bucket")
    # Sub-buckets STILL hot after 8 extra bits are (near-)identical
    # vectors no hyperplane separates — all-pairs there is quadratic with
    # zero information gain. Emit STAR pairs around the min-id member
    # instead: linear output whose pairs would still connect the whole
    # residue cluster under a connected-components pass like f14's (f14
    # consumes f2's minhash pairs today; wiring it to f13 is a one-line
    # input swap). Caveat: star pairs pass the same cosine>threshold
    # filter, so a member below-threshold to the REPRESENTATIVE drops
    # even if above-threshold to another member — acceptable for the
    # near-identical residue this branch handles. (rep < member ⇒
    # id_a < id_b holds by construction.)
    hot = flagged.filter(F.col("_w") > max_bucket)
    w_b = W.partitionBy("bucket")
    star = (
        hot.withColumn(
            "_rep", F.min(F.struct(F.col("vec_id"), F.col("emb"))).over(w_b)
        )
        .filter(F.col("vec_id") != F.col("_rep.vec_id"))
        .select(
            F.col("_rep.vec_id").alias("id_a"),
            F.col("_rep.emb").alias("emb_a"),
            F.col("vec_id").alias("id_b"),
            F.col("emb").alias("emb_b"),
        )
    )

    @F.pandas_udf("double")
    def cosine_batch(xa, xb):  # Series -> Series (SCALAR pandas UDF)
        import numpy as np
        import pandas as pd

        ma = np.stack(xa.values)
        mb = np.stack(xb.values)
        num = np.einsum("ij,ij->i", ma, mb)
        den = (np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1))
        return pd.Series(num / den)

    pairs = (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "emb_a", "id_b", "emb_b")
        .unionByName(star)
    )
    return (
        pairs.select("id_a", "id_b",
                     fx.fround(cosine_batch("emb_a", "emb_b"), 6).alias("cosine"))
        # synthetic embeddings are isotropic random (max pairwise cosine
        # ≈0.48); 0.3 marks the top ~1% as "near-dup" for a non-degenerate
        # demonstration — real corpora use 0.85-0.95
        .filter(F.col("cosine") > 0.3)
    )


@query(
    "f14_dedup_clusters",
    # Oracle-checked: f2's pair set has an
    # exact SQL twin (md5-derived hashes, see f2), so connected
    # components over it does too — a recursive CTE computes the true
    # transitive closure and takes MIN(label) per node. The Spark side
    # (1 fused init + 9 pointer-jumping rounds, path halving) equals
    # true CC whenever every component's effective diameter is within
    # the ~2^9 bound the halving gives, and REFUSES loudly otherwise —
    # so a converged Spark result always matches this oracle; star
    # pairs keep hot clusters at radius <= 2, and the driver's
    # value-hash at three SFs is exactly the check that the premise
    # holds on real data.
    oracle="WITH RECURSIVE " + _f2_oracle_ctes() + """
    , pairs AS (
        SELECT doc_a, doc_b FROM verified WHERE j >= 0.6
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), nodes AS (
        SELECT doc_id FROM documents
        UNION
        SELECT src FROM edges
    ), reach(id, lab) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.dst, r.lab FROM edges e JOIN reach r ON r.id = e.src
    )
    SELECT id AS doc_id, MIN(lab) AS cluster_id, MIN(lab) = id AS keep
    FROM reach GROUP BY id
    """,
)
def f14_dedup_clusters(spark, sf_dir):
    """F14: duplicate-cluster resolution — connected components over the
    near-duplicate pair graph (f2's output), turning pairwise matches
    into dedup decisions: every doc in the corpus gets a cluster_id (the
    minimum doc_id in its component; singletons are their own cluster)
    and a keep flag on the cluster representative — so "keep rows where
    keep" is the complete deduplicated corpus, not just the pair members.

    Algorithm: min-label propagation WITH pointer jumping. Each vertex
    starts labeled with its own id; each round, every vertex takes
    min(own label, neighbors' labels, label-of-own-label) — the last
    term is the path-halving jump, fused into the same round plan — so
    label chains collapse exponentially and rounds-to-converge is
    O(log diameter), not O(diameter). Converged when a round changes
    nothing; if the round cap (1 fused + 9) is ever insufficient the
    query REFUSES loudly instead of returning near-converged labels (a
    chain component whose diameter exceeds the cap would otherwise
    leave docs one hop above the component min; the hostile edge corpus
    and the f14 oracle differential cover that case).

    Scale notes: the per-round work is two equi joins (edges⋈labels and
    labels⋈labels) plus a min-aggregate — all shuffle-partitioned on
    vertex id. Each round's result is localCheckpoint-pinned (its
    blocks are released with the plan that owns them): without lineage
    truncation an iterative loop's plan doubles per round and the job
    dies at plan compile time long before data size matters; the pin
    also makes the labels⋈labels self-join read materialized blocks
    instead of recomputing the round. The
    convergence check is a scalar count per round (a driver-side
    decision, not a data collect)."""
    pairs = f2_minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"),
                         F.col("doc_a").alias("dst"))
        )
    )
    # consumed every propagation round + the final corpus union; the pin
    # also cuts the f2 lineage out of the loop plans
    edges = edges.localCheckpoint()
    # the first round is fused into initialization: with labels equal to
    # ids, the first propagation is exactly min(id, min neighbor id) —
    # one aggregation instead of a full join+aggregate+checkpoint round
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_mn"))
        .select(
            "id", F.least(F.col("id"), F.col("_mn")).alias("label")
        )
    )
    labels = labels.localCheckpoint(eager=False)
    changed = -1
    for _ in range(9):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer jump (path halving) fused into the same round plan:
        # the PRE-round labels serve as their own label→label lookup
        # (they are already checkpointed, so the self-reference reads
        # materialized blocks), and the update takes
        #   min(own, min-neighbor, label-of-label)
        # in one pass — label chains still collapse exponentially, but
        # the round costs ONE checkpoint + ONE convergence count, not
        # two of each.
        lookup = labels.select(
            F.col("id").alias("jid"), F.col("label").alias("jlabel")
        )
        new_label = F.least(
            F.col("label"),
            F.coalesce(F.col("nbr_label"), F.col("label")),
            F.coalesce(F.col("jlabel"), F.col("label")),
        )
        # carry the changed flag through the checkpoint so convergence is
        # a filter-count on materialized data, not a second join per
        # round; the pin is lazy because that count is the round's
        # materializing action, so the pin rides that ONE job
        stepped = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .join(lookup, labels.label == lookup.jid, "left")
            .select(
                labels.id,
                new_label.alias("label"),
                (new_label < labels.label).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter("_changed").count()
        labels = stepped.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        # the cap is ~2^9 effective diameter with path halving; hitting
        # it means labels may be near-converged-but-wrong — refuse, the
        # repo's fail-fast posture (silent near-answers corrupt dedup)
        raise ValueError(
            "f14: label propagation did not converge within the round "
            "cap — component diameter exceeds the documented bound"
        )
    # cover the WHOLE corpus, not just docs that appear in a pair:
    # singletons are their own (kept) cluster — a consumer keeping
    # keep=true rows must not silently lose every unique document.
    # (Corpus = the documents table ∪ f2's planted synthetic docs, which
    # surface through the edge set.)
    all_docs = (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("id"))
        .unionByName(edges.select(F.col("src").alias("id")))
        .distinct()
    )
    return (
        all_docs.join(labels, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
            (F.coalesce(F.col("label"), F.col("id")) == F.col("id"))
            .alias("keep"),
        )
    )


@query(
    "f15_train_val_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT doc_id, lang,
               ('0x' || substring(md5(text), 1, 8))::BIGINT % 100 AS bucket
        FROM documents
    )
    """,
)
def f15_train_val_split(spark, sf_dir):
    """F15: deterministic train/val/test split (90/5/5) — bucket by a
    content hash (md5 of the text, not the id), so the assignment is
    stable under re-sharding, re-ingestion, and id reassignment, and
    duplicate texts always land in the same split (no train/test leakage
    through near-copies that exact-hash equal). Pure projection: no
    shuffle, fuses with the scan; the md5/hex-prefix construction is the
    cross-engine-reproducible spelling of the bucket hash."""
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "f16_pack_sequences",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
    FROM (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               SUM(len(string_split(text, ' '))) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents
    )
    """,
)
def f16_pack_sequences(spark, sf_dir):
    """F16: sequence packing — assign documents to fixed token-budget
    packs (512 here) for training-batch construction. Deterministic
    cumulative-sum formulation: pack_id = floor(tokens-before / budget)
    within each language stream ordered by doc_id — reproducible across
    runs/partitionings.

    Scale shape: the running sum is TWO-PHASE — a partitionBy(lang)
    window would push each language's whole stream through one sorted
    task, so documents cumulate within (lang, doc_id-range bucket)
    sub-streams (parallel windows) and add the earlier buckets' token
    totals (a per-(lang,bucket) aggregate thousands of times smaller
    than the corpus; its own cumulative window partitions by lang over
    that reduced frame). doc_id-range bucketing — unlike hash — keeps
    the bucket sequence aligned with the stream order, so cum (and
    every pack_id) is IDENTICAL to the single-window form."""
    bucket_w = 1024  # docs per sub-stream bucket
    # fx.nsize: a null document must carry NULL n_tokens, not legacy -1 —
    # a -1 lands in the running prefix sum and shifts EVERY later
    # document's pack_id in that language stream (NULL
    # is skipped by SUM on both engines, so the stream packs as if the
    # null doc contributed nothing, and its own pack_id is NULL)
    toks = fx.nsize(_tokens())
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", toks.alias("n_tokens"),
        (F.col("doc_id") / bucket_w).cast("long").alias("_bk"),
    )
    w_in = (
        W.partitionBy("lang", "_bk")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bucket_offsets = (
        d.groupBy("lang", "_bk").agg(F.sum("n_tokens").alias("_bt"))
        .select(
            "lang", "_bk",
            (F.sum("_bt").over(W.partitionBy("lang").orderBy("_bk"))
             - F.col("_bt")).alias("_off"),
        )
    )
    # no broadcast hint: the offsets frame is ~corpus/1024 × langs rows —
    # thousands of times smaller than the corpus but still CORPUS-SCALING,
    # so the de-hint discipline (SCALE.md §3c) applies; AQE sizes the join
    # at runtime (broadcast while it fits, shuffle join past that).
    # NULL-SAFE on lang: a plain equi join would silently
    # DROP every null-lang document — the two-phase decomposition
    # must not change the single-window form's semantics, and a window's
    # PARTITION BY keeps the null group. The null-lang stream packs like
    # any other language stream.
    offs = (
        bucket_offsets.withColumnRenamed("lang", "_olang")
        .withColumnRenamed("_bk", "_obk")
    )
    return (
        d.join(offs, d["lang"].eqNullSafe(F.col("_olang"))
               & (d["_bk"] == F.col("_obk")))
        .select(
            "doc_id", "lang", "n_tokens",
            F.floor(
                (F.sum("n_tokens").over(w_in) + F.col("_off")
                 - F.col("n_tokens")) / 512.0
            ).alias("pack_id"),
        )
    )


# ------------------------------------------------------ F4: text → TF-IDF
@query(
    "f4_tfidf",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term,
           COUNT(*) AS doc_freq,
           FLOOR(ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / COUNT(*))
                 * 1000000.0 + 0.5) / 1000000.0 AS idf
    FROM tok GROUP BY term
    """,
)
def f4_tfidf(spark, sf_dir):
    """F4: document frequency + IDF per term (the model-free core of
    TF-IDF; the per-(doc,term) TF join is a composition of this with e5's
    tokenizer). explode → distinct → count: two-stage aggregate, vocab-
    sized output; at 100 TB the distinct is the only shuffle and is
    partial-aggregated map-side."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar dim, not a per-row collect
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens())).alias("term")
    )
    return tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        fx.fround(F.log(F.lit(float(n_docs)) / F.count(F.lit(1))), 6).alias("idf"),
    )


@query("f19_ml_tfidf_pipeline")  # rows-only: ml vectors, no SQL twin
def f19_ml_tfidf_pipeline(spark, sf_dir):
    """F19: the pyspark.ml form of TF-IDF (SURVEY.md §2 F4's named
    primitives): Tokenizer → HashingTF → IDF as a fitted Pipeline. The
    estimator/transformer surface matters for interop with ML tooling;
    the expression-only form (f4) remains the engine-native path. Output
    reduces the vector to deterministic scalars (active term count,
    L2 norm) — hashing and IDF are seed-free and data-deterministic.
    Scale: fit() is one aggregation over the corpus (document
    frequencies); transform() is a map-only pass.

    Null text is filtered at the source: pyspark.ml's
    Tokenizer is not null-tolerant — its Scala lambda NPEs on the first
    null document and kills the fit job. A library constraint, made an
    explicit input contract here rather than a 100 TB-run surprise."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer

    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    # 1024 features: the vector_to_array bridge densifies, so width sets
    # the Arrow transfer volume (4096-wide measured ~2x slower end-to-end
    # for no demo value — the 31-word test vocab fills nothing either way)
    pipe = Pipeline(stages=[
        Tokenizer(inputCol="text", outputCol="toks"),
        HashingTF(inputCol="toks", outputCol="tf", numFeatures=1 << 10),
        IDF(inputCol="tf", outputCol="tfidf"),
    ])
    from pyspark.ml.functions import vector_to_array

    # IDF.fit treeAggregates document frequencies and raises on an empty
    # dataset (library constraint, like Tokenizer's null intolerance
    # above) — an empty corpus has a defined answer: no documents, no
    # rows. take(1) is the cheapest emptiness probe (stops at the first
    # row of the first non-empty partition).
    if not docs.take(1):
        return spark.createDataFrame(
            [], "doc_id long, n_active_terms int, tfidf_l2 double")
    fitted = pipe.fit(docs)
    # VectorUDT is not Arrow-native; vector_to_array exposes it as a
    # plain double array so the reductions run vectorized per batch
    out = fitted.transform(docs).withColumn(
        "arr", vector_to_array("tfidf")
    )

    @F.pandas_udf("double")
    def vec_norm(v):
        import numpy as np
        import pandas as pd

        return pd.Series(np.sqrt((np.stack(v.values) ** 2).sum(axis=1)))

    @F.pandas_udf("int")
    def vec_active(v):
        import numpy as np
        import pandas as pd

        return pd.Series((np.stack(v.values) != 0).sum(axis=1).astype("int32"))

    return out.select(
        "doc_id",
        vec_active("arr").alias("n_active_terms"),
        fx.fround(vec_norm("arr"), 6).alias("tfidf_l2"),
    )


# ------------------------------------------------- F5/F12: multimodal
@query(
    "f5_binary_cols",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           'text/plain' AS mime,
           sha256(text) AS payload_hash
    FROM documents
    """,
)
def f5_binary_cols(spark, sf_dir):
    """F5: multimodal column pattern — opaque binary payload + typed
    metadata travelling together. The payload here is encoded text (the
    container has no image/audio libs, TESTDATA.md); the schema shape
    (binary + struct metadata) is the real contract."""
    d = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    meta = F.struct(
        F.length(payload).alias("n_bytes"),
        F.lit("text/plain").alias("mime"),
    )
    return d.select(
        "doc_id",
        payload.alias("payload"),
        meta.alias("meta"),
        F.sha2("text", 256).alias("payload_hash"),
    ).select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        "payload_hash",
    )


@query(
    "f12_multimodal_decode",
    # the deterministic stub decoder is arithmetic on the payload bytes,
    # so even the mapInPandas plumbing is value-checked cross-engine
    oracle="""
    SELECT doc_id,
           (('0x' || rpad(substring(hex(encode(text)), 1, 16), 16, '0'))
               ::UBIGINT % 2147483648)::BIGINT AS feat_checksum,
           CAST(octet_length(encode(text)) // 64 AS INTEGER)
               AS feat_size_bucket
    FROM documents
    """,
)
def f12_multimodal_decode(spark, sf_dir):
    """F12: multimodal decode/feature-extract plumbing — binary payloads
    stream through an Arrow-batched ``mapInPandas`` extractor. The decode
    itself is a STUB (no image/audio libs in this container —
    deterministic fake: first-8-byte checksum + length buckets standing in
    for real decoded features); the Spark-side contract (binary in, fixed
    feature schema out, batch iteration, partition parallelism) is real.
    """
    import pandas as pd

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )

    def extract(batches):
        for pdf in batches:
            payloads = pdf["payload"]
            # --- STUB DECODER: replace with real image/audio decode ---
            # null payloads (a null source column encodes to null, and
            # real pipelines carry missing media) yield null features —
            # nullable extension dtypes keep the schema's long/int
            checksum = payloads.map(
                lambda b: None if b is None else
                int.from_bytes(bytes(b)[:8].ljust(8, b"\0"), "big")
                % (2**31)
            )
            size_bucket = payloads.map(
                lambda b: None if b is None else len(b) // 64
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "feat_checksum": checksum.astype("Int64"),
                    "feat_size_bucket": size_bucket.astype("Int32"),
                }
            )

    return d.mapInPandas(
        extract,
        schema="doc_id long, feat_checksum long, feat_size_bucket int",
    )


@query(
    "f17_quality_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(n_tokens BETWEEN 5 AND 1000 AS INTEGER) AS ok_length,
           CAST(distinct_ratio > 0.2 AS INTEGER) AS ok_diversity,
           CAST(avg_token_len BETWEEN 2 AND 12 AS INTEGER) AS ok_token_len,
           CAST(n_tokens BETWEEN 5 AND 1000
                AND distinct_ratio > 0.2
                AND avg_token_len BETWEEN 2 AND 12 AS INTEGER) AS keep
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio,
               (length(text) - len(string_split(text, ' ')) + 1.0)
                   / len(string_split(text, ' ')) AS avg_token_len
        FROM documents
    )
    """,
)
def f17_quality_filter(spark, sf_dir):
    """F17: corpus quality filter — threshold rules over the f6 text
    statistics (length band, lexical diversity, mean token length), each
    surfaced as its own flag so rejected documents carry the reason —
    the auditable form a real pipeline needs (filter-rate monitoring per
    rule, not a silent AND). Pure projection: fuses with the scan."""
    toks = _tokens()
    # fx.nsize: the flags reach the output — a null document must emit
    # NULL flags (unknown), not the legacy -1's confident 0/1 mix
    # (-1/-1 = 1.0 "passes" the diversity rule)
    n_tok = fx.nsize(toks).cast("double")
    distinct_ratio = fx.nsize(F.array_distinct(toks)) / n_tok
    avg_len = (F.length("text") - fx.nsize(toks) + 1.0) / n_tok
    ok_length = (fx.nsize(toks) >= 5) & (fx.nsize(toks) <= 1000)
    ok_diversity = distinct_ratio > 0.2
    ok_token_len = (avg_len >= 2) & (avg_len <= 12)
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        ok_length.cast("int").alias("ok_length"),
        ok_diversity.cast("int").alias("ok_diversity"),
        ok_token_len.cast("int").alias("ok_token_len"),
        (ok_length & ok_diversity & ok_token_len).cast("int").alias("keep"),
    )


@query(
    "f18_pii_scrub",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(aug,
               '[a-z0-9._]{1,64}@[a-z0-9.]{1,255}[a-z]')) AS n_emails,
           len(regexp_extract_all(aug, 'https?://[^ ]+')) AS n_urls,
           md5(regexp_replace(regexp_replace(aug,
                   '[a-z0-9._]{1,64}@[a-z0-9.]{1,255}[a-z]', '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g')) AS scrubbed_md5
    FROM (
        SELECT doc_id,
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com see http://site.example/'
                    || CAST(doc_id AS VARCHAR) AS aug
        FROM documents
    )
    """,
)
def f18_pii_scrub(spark, sf_dir):
    """F18: PII scrubbing — mask emails and URLs with typed placeholders
    and report per-document match counts (the redaction-rate signal a
    compliance pipeline monitors). The corpus is augmented with planted
    synthetic PII derived from the doc id so the mechanism is actually
    exercised (the word-soup testdata contains none). Pure regex
    projections, codegen'd, no shuffle; the patterns are RE2-compatible
    so Spark (Java regex) and DuckDB (RE2) agree.

    The quantifiers are RFC-bounded ({1,64} local part, {1,255} domain)
    rather than unbounded ``+`` — not just correctness pedantry: under
    Java's backtracking engine an unbounded ``[a-z0-9._]+@`` is
    QUADRATIC on a long alpha run (each start position consumes the
    whole run before failing the ``@``) — a single 1 MB single-token
    document hung the scrub for minutes (caught by
    tests/test_llm_edges.py). Bounded quantifiers cap per-position work
    at 64 chars → linear scan; DuckDB's RE2 is linear either way."""
    aug = F.concat(
        F.col("text"),
        F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com see http://site.example/"),
        F.col("doc_id").cast("string"),
    )
    email_re = "[a-z0-9._]{1,64}@[a-z0-9.]{1,255}[a-z]"
    url_re = "https?://[^ ]+"
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, email_re, "<EMAIL>"), url_re, "<URL>"
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_count(aug, F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(url_re)).cast("long").alias("n_urls"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ------------------------------------------------- F6-F9: text analysis
@query(
    "f6_text_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           FLOOR(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 10000.0 + 0.5) / 10000.0
               AS distinct_ratio,
           FLOOR(CAST(len(list_filter(string_split(text, ' '),
                                      x -> x IN {STOPWORDS_EN!r})) AS DOUBLE)
                 / len(string_split(text, ' ')) * 10000.0 + 0.5) / 10000.0
               AS stopword_ratio,
           FLOOR((length(text) - len(string_split(text, ' ')) + 1.0)
                 / len(string_split(text, ' ')) * 10000.0 + 0.5) / 10000.0
               AS avg_token_len
    FROM documents
    """,
)
def f6_text_stats(spark, sf_dir):
    """F6: text quality statistics — length, token count, lexical
    diversity, stopword ratio, mean token length. Pure column expressions:
    the whole profile is one codegen'd projection, no shuffle at all."""
    toks = _tokens()
    # fx.nsize throughout: every count/ratio here reaches the output, and
    # legacy size(NULL) = -1 turns a null document into -1 tokens and
    # -1/-1 = 1.0 ratios under the production ansi=false session (see
    # fx.nsize)
    n_tok = fx.nsize(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = fx.nsize(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        fx.nsize(toks).alias("n_tokens"),
        fx.fround(fx.nsize(F.array_distinct(toks)) / n_tok, 4)
        .alias("distinct_ratio"),
        fx.fround(n_stop / n_tok, 4).alias("stopword_ratio"),
        fx.fround((F.length("text") - fx.nsize(toks) + 1.0) / n_tok, 4)
        .alias("avg_token_len"),
    )


@query(
    "f7_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang, s_en, s_es, s_de,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS predicted_lang
    FROM (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '),
                               x -> x IN {STOPWORDS_EN!r})) AS s_en,
               len(list_filter(string_split(text, ' '),
                               x -> x IN {STOPWORDS_ES!r})) AS s_es,
               len(list_filter(string_split(text, ' '),
                               x -> x IN {STOPWORDS_DE!r})) AS s_de
        FROM documents
    )
    """,
)
def f7_lang_id(spark, sf_dir):
    """F7: heuristic language ID — stopword-hit scoring per language,
    argmax with a fixed tie order. (The synthetic corpus is English-ish
    word soup with random ``lang`` labels, so the *mechanism* is what is
    checked — agreement with the label is not expected.)"""
    toks = _tokens()

    def score(words):
        arr = F.array(*[F.lit(s) for s in words])
        # fx.nsize: null text must score NULL, not -1 — under the legacy
        # -1, (-1 >= -1) satisfies the first argmax branch and mislabels
        # every null document 'en'; NULL scores fall through to the
        # CASE's ELSE exactly like the SQL oracle
        return fx.nsize(F.filter(toks, lambda t: F.array_contains(arr, t)))

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        score(STOPWORDS_EN).alias("s_en"),
        score(STOPWORDS_ES).alias("s_es"),
        score(STOPWORDS_DE).alias("s_de"),
    )
    return d.withColumn(
        "predicted_lang",
        F.when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")),
            "en",
        )
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de"),
    )


@query(
    "f8_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS bag_fingerprint
    FROM documents
    """,
)
def f8_fingerprint(spark, sf_dir):
    """F8: order-insensitive document fingerprint — SHA-256 over the
    sorted distinct token bag. Robust to token reordering (the classic
    cheap near-dup pre-filter before MinHash)."""
    toks = _tokens()
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(
            F.array_join(F.sort_array(F.array_distinct(toks)), " "), 256
        ).alias("bag_fingerprint"),
    )


@query(
    "f9_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(text, '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS num_tokens
    FROM documents
    """,
)
def f9_token_count(spark, sf_dir):
    """F9: token counting — whitespace tokens plus a BPE-ish regex token
    class count (alpha runs, digit runs). regexp_count is codegen'd; no
    Python in the loop."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        # fx.nsize: output-bound count; legacy size(split(NULL)) = -1
        # under the production ansi=false session (see fx.nsize)
        fx.nsize(F.split("text", r"\s+")).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long")
        .alias("alpha_tokens"),
        F.regexp_count("text", F.lit("[0-9]+")).cast("long")
        .alias("num_tokens"),
    )


def _f10_oracle() -> str:
    """DuckDB twin of f10_simhash: same md5-derived 64-bit token hash,
    same ±1 votes, same sign reassembly. The signature's bit 63 cannot be
    built with BIGINT shifts (DuckDB raises on ``1::BIGINT << 63``), so
    the bits sum in HUGEINT and one wraparound subtract maps [2^63, 2^64)
    to the negative longs — exactly Java's signed-64 bit pattern."""
    votes = ", ".join(
        "SUM(CASE WHEN ({src} >> {s}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        .format(src="lo" if b < 32 else "hi", s=b % 32, b=b)
        for b in range(64)
    )
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (1::HUGEINT << {b}) ELSE 0::HUGEINT END)"
        for b in range(64)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), h AS (
        SELECT doc_id,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substring(md5(tok), 9, 8))::BIGINT AS lo
        FROM toks
    ), votes AS (
        SELECT doc_id, {votes} FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           (CASE WHEN sig >= 9223372036854775808::HUGEINT
                 THEN sig - 18446744073709551616::HUGEINT
                 ELSE sig END)::BIGINT AS simhash64
    FROM (SELECT doc_id, {bits} AS sig FROM votes)
    """


@query("f10_simhash", oracle=_f10_oracle())
def f10_simhash(spark, sf_dir):
    """F10: 64-bit SimHash — per-token 64-bit hash, each bit votes ±1,
    the signature is the sign vector. Shape: explode distinct tokens →
    groupBy(doc_id) with 64 conditional-sum aggregates (one per bit) →
    reassemble the signature from the vote signs. All codegen'd scalar
    arithmetic; the only shuffle is the per-doc partial-aggregated
    groupBy, and partial aggregation collapses each doc map-side (a doc's
    tokens are co-located within its scan partition), so the exchange
    carries ~one row per doc. This deliberately replaces a pure
    higher-order-array formulation (aggregate/zip_with over 64-wide
    arrays), which is evaluated interpreted, not codegen'd — 5× slower
    measured at sf0.1.

    Hash family: the token hash is the first 16 hex chars of
    md5(token), reassembled as a signed long from two 32-bit halves —
    chosen over xxhash64 because BOTH engines compute it bit-identically
    (DuckDB has no xxhash64), which upgrades this key from rows-only to
    value-hash-verified. The construction is ANSI-posture-agnostic: conv
    of 8 hex chars is < 2^32, and shiftleft/bitwiseOR never overflow-
    throw. Measured cost of md5 over xxhash64 at sf0.1: ~0.5 s on this
    key (1.44 → 1.91 s) — the price of cross-engine verifiability,
    documented in BASELINE.md."""
    toks = _tokens()
    # staged projections: md5 and then the reassembled hash materialize
    # as named columns, so the 64 vote expressions all read ONE attribute
    # instead of re-evaluating the hash tree 64× (CollapseProject leaves
    # multiply-referenced non-cheap aliases in their own projection, so
    # the stage survives optimization)
    h = F.shiftleft(
        F.conv(F.substring(F.col("m"), 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(
        F.conv(F.substring(F.col("m"), 9, 8), 16, 10).cast("long")
    )
    # the 64 vote aggregates and the 64-term sign
    # reassembly are built as parsed SQL strings (one py4j call each)
    # instead of 64 chained Column-op loops (~6 py4j round trips per
    # term, ~1.4 s of driver time PER BUILD measured at sf0.1). The
    # parsed trees resolve to the identical expressions — same plan,
    # same codegen, same result; only the construction cost changes.
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS v{b}"
        )
        for b in range(64)
    ]
    per_bit = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.array_distinct(toks)).alias("tok"))
        .select("doc_id", F.md5("tok").alias("m"))
        .select("doc_id", h.alias("h"))
        .groupBy("doc_id")
        .agg(*votes)
    )
    sim = F.expr(
        " | ".join(
            f"(CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(64)
        )
    )
    return per_bit.select("doc_id", sim.alias("simhash64"))


@query(
    "f11_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([string_split(text, ' ')[i] || ' ' ||
                              string_split(text, ' ')[i+1] || ' ' ||
                              string_split(text, ' ')[i+2]
                              FOR i IN generate_series(1, len(string_split(text, ' ')) - 2)])
                   AS grams
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           FLOOR(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams)))
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def f11_ngram_jaccard(spark, sf_dir):
    """F11: n-gram Jaccard similarity — exact shingle-set overlap for
    adjacent doc-id pairs (the verify kernel used inside f2's LSH
    pipeline, exposed standalone and oracle-checked). Grams are hashed to
    int64 (xxhash64) before the set ops: intersect/union and the join
    shuffle then move fixed-width longs instead of variable-length
    strings — same Jaccard counts (set semantics preserved; 64-bit
    collisions are negligible), measurably cheaper at scale."""
    sh = _hashed_shingles(table(spark, sf_dir, "documents"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    jac = (
        F.size(F.array_intersect("ga", "gb")).cast("double")
        / F.size(F.array_union("ga", "gb"))
    )
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select("doc_a", "doc_b", fx.fround(jac, 6).alias("jaccard"))
    )


@query(
    "f22_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents WHERE text IS NOT NULL
    )
    WHERE rn <= CEIL(n * 0.1)
    """,
)
def f22_stratified_sample(spark, sf_dir):
    """F22: deterministic stratified sampling — exactly ceil(10%) of each
    language stratum, selected by content-hash order (md5(text), doc_id
    tiebreak). Unlike ``df.sample``/``sampleBy`` (per-row Bernoulli:
    nondeterministic across partitionings, only *expected* fractions),
    hash-rank selection is reproducible on any engine/sharding and hits
    the stratum size exactly — what a training-mix spec needs.

    Scale shape: the per-stratum rank is TWO-PHASE (f31's pattern per
    lang) — a partitionBy(lang) window would serialize each language's
    entire stratum through one sorted task (~corpus/n_langs rows), so
    the rank runs within (lang, hash-prefix bucket) sub-strata and adds
    the bucket's cumulative offset; offsets and stratum totals are a
    langs×256-row metadata frame, broadcast back. Global-per-stratum
    order ≡ (bucket, hash-within-bucket), so the selected set is
    IDENTICAL to the single-window form.

    Null-text docs are EXCLUDED explicitly, on both sides: md5(null) is
    a null sort key, and null ordering is the one place the engines
    disagree (Spark ASC sorts nulls first, DuckDB last) — and a null
    bucket silently falls out of the offset equi-join while still
    inflating the stratum total, eating a sample slot (caught by
    tests/test_llm_edges.py on a corpus with a null text)."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", F.md5("text").alias("hk"))
    )
    bucketed = docs.withColumn("bk", F.substring("hk", 1, 2))
    counts = bucketed.groupBy("lang", "bk").agg(
        F.count(F.lit(1)).alias("_n")
    )
    offsets = counts.select(
        "lang", "bk",
        (F.sum("_n").over(W.partitionBy("lang").orderBy("bk"))
         - F.col("_n")).alias("_off"),
    )
    totals = counts.groupBy("lang").agg(F.sum("_n").alias("_total"))
    w = W.partitionBy("lang", "bk").orderBy("hk", "doc_id")
    # NULL-SAFE on lang (same class as f16): plain
    # equi joins would drop the null-lang stratum that the oracle's
    # PARTITION BY lang keeps — undocumented-language docs are a
    # stratum like any other, not discardable.
    offs = (
        offsets.withColumnRenamed("lang", "_olang")
        .withColumnRenamed("bk", "_obk")
    )
    tot = totals.withColumnRenamed("lang", "_tlang")
    return (
        bucketed.join(
            F.broadcast(offs),
            bucketed["lang"].eqNullSafe(F.col("_olang"))
            & (bucketed["bk"] == F.col("_obk")),
        )
        .join(F.broadcast(tot),
              bucketed["lang"].eqNullSafe(F.col("_tlang")))
        .withColumn(
            "_rank", F.row_number().over(w).cast("long") + F.col("_off")
        )
        .filter(F.col("_rank") <= F.ceil(F.col("_total") * 0.1))
        .select("doc_id", "lang")
    )


@query(
    "f23_repetition_ratio",
    oracle="""
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR((1.0 - n_distinct / n_tokens) * 10000.0 + 0.5) / 10000.0
               AS dup_ratio,
           FLOOR((top_count / n_tokens) * 10000.0 + 0.5) / 10000.0
               AS top_token_share
    FROM (
        SELECT doc_id,
               CAST(SUM(cnt) AS DOUBLE) AS n_tokens,
               CAST(COUNT(*) AS DOUBLE) AS n_distinct,
               CAST(MAX(cnt) AS DOUBLE) AS top_count
        FROM (
            SELECT doc_id, tok, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY 1, 2
        )
        GROUP BY 1
    )
    """,
)
def f23_repetition_ratio(spark, sf_dir):
    """F23: within-document repetition signals — duplicate-token fraction
    (1 - distinct/total) and most-common-token share. The standard cheap
    boilerplate/spam detector a corpus quality pipeline runs before
    training (characteristically high on templated/spam pages). Explode → two-level
    hash aggregate, both keyed by doc_id so the exploded shuffle
    co-partitions with the per-doc rollup; no Python in the row path.
    At 100 TB the explode width is bounded by document length, and the
    (doc_id, tok) partial agg combines map-side before the shuffle."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.sum("cnt").cast("double").alias("nt"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.max("cnt").cast("double").alias("tc"),
    )
    return per_doc.select(
        "doc_id",
        F.col("nt").cast("long").alias("n_tokens"),
        fx.fround(1.0 - F.col("nd") / F.col("nt"), 4).alias("dup_ratio"),
        fx.fround(F.col("tc") / F.col("nt"), 4).alias("top_token_share"),
    )


@query(
    "f24_decontaminate",
    oracle="""
    WITH bench AS (
        SELECT DISTINCT md5(lower(trim(text))) AS fp
        FROM documents WHERE doc_id % 97 = 0
    )
    SELECT d.doc_id, d.lang
    FROM documents d
    LEFT JOIN bench b ON md5(lower(trim(d.text))) = b.fp
    WHERE b.fp IS NULL
    """,
)
def f24_decontaminate(spark, sf_dir):
    """F24: benchmark decontamination — drop training documents whose
    normalized content hash appears in an eval/benchmark set (here a
    planted subset, doc_id % 97, standing in for the external benchmark
    corpus). The shape is the one that matters at 100 TB: the
    contamination list is a *small* distinct-fingerprint set, so the
    anti join broadcasts it and the corpus never shuffles; normalization
    (trim/lower) runs inside codegen before the hash. Near-dup
    contamination composes f2's MinHash candidates with the same
    anti-join tail. (The broadcast-smallness argument is about REAL
    benchmark suites — fixed external sets, MBs; the planted doc_id%97
    stand-in grows with the corpus and exists only so the key is
    self-contained on testdata.)"""
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    docs = table(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(fp.alias("fp"))
        .distinct()
    )
    return (
        docs.join(F.broadcast(bench), fp == bench.fp, "left_anti")
        .select("doc_id", "lang")
    )


# ------------------------------------------- F25-F27: passage-level ops
def _word_blocks(tok_col, width):
    """Non-overlapping ``width``-word blocks of a token array, joined
    back to strings (the last block may be shorter). The corpus has no
    line structure (single-space word streams), so fixed word blocks are
    the passage unit for line/passage-level ops — the same role
    newline-split lines play in C4-style pipelines. Pure expressions:
    fuses with the scan, no shuffle."""
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(tok_col) - 1, F.lit(0)), F.lit(width)
    )
    return F.transform(
        starts, lambda s: F.array_join(F.slice(tok_col, s + 1, width), " ")
    )


_BOILERPLATE_W = 8


@query(
    "f25_boilerplate_removal",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ), b AS (
        SELECT doc_id, start // {_BOILERPLATE_W} AS pos,
               array_to_string(
                   toks[start + 1 : start + {_BOILERPLATE_W}], ' ') AS block
        FROM (SELECT doc_id, toks,
                     unnest(range(0, len(toks), {_BOILERPLATE_W})) AS start
              FROM t)
    ), bp AS (
        SELECT block FROM b GROUP BY block
        HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           COUNT(*) FILTER (WHERE block IN (SELECT block FROM bp))
               AS n_removed,
           COALESCE(string_agg(block, ' ' ORDER BY pos)
                    FILTER (WHERE block NOT IN (SELECT block FROM bp)), '')
               AS clean_text
    FROM b GROUP BY doc_id
    """,
)
def f25_boilerplate_removal(spark, sf_dir):
    """F25: boilerplate removal — drop passages that recur across
    documents (the C4/RefinedWeb line-frequency rule: a passage appearing
    in >= 2 distinct docs is template/boilerplate, not content), then
    reassemble each document from its surviving passages in order.

    Scale posture: passage frequency is one map-side-combined groupBy on
    the block text (count distinct docs per block); the boilerplate set
    it yields is *small* relative to the corpus (by definition — these
    are the few templates shared by many pages), so flagging broadcasts
    it and the corpus never shuffles for the join; reassembly is one
    groupBy(doc_id) whose collect_list carries (pos, block) so the
    order-restoring sort is per-row array_sort, not a global sort.

    A null-text document has no passages and is absent from the output
    on BOTH sides (Spark's sequence/slice chain on a null token array
    would manufacture one null block per null doc, while the oracle's
    range(NULL) produces none — the explicit filter makes
    the contract visible instead of an expression-evaluation accident).
    """
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", _tokens().alias("toks"))
    )
    blocks = docs.select(
        "doc_id",
        F.posexplode(_word_blocks(F.col("toks"), _BOILERPLATE_W))
        .alias("pos", "block"),
    )
    boiler = (
        blocks.groupBy("block")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("block", F.lit(True).alias("bp"))
    )
    # no broadcast hint: template boilerplate is small, but on a dup-
    # heavy crawl every block of every duplicated doc qualifies and the
    # set approaches corpus scale — a forced broadcast is the unbounded-
    # broadcast trap. AQE's runtime stats pick broadcast-when-small
    # (asserted on the executed plan in tests) and shuffle otherwise.
    flagged = blocks.join(boiler, "block", "left")
    kept = F.when(
        ~F.coalesce(F.col("bp"), F.lit(False)), F.struct("pos", "block")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("bp"), 1).otherwise(0)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda x: x["block"]
            ),
            " ",
        ).alias("clean_text"),
    )


_PASSAGE_W = 16


@query(
    "f26_passage_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), b AS (
        SELECT doc_id, start // {_PASSAGE_W} AS pos,
               array_to_string(
                   toks[start + 1 : start + {_PASSAGE_W}], ' ') AS block
        FROM (SELECT doc_id, toks,
                     unnest(range(0, len(toks), {_PASSAGE_W})) AS start
              FROM t)
    ), k AS (
        SELECT doc_id, pos, block,
               row_number() OVER (
                   PARTITION BY block ORDER BY doc_id, pos) AS rn
        FROM b
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           COUNT(*) FILTER (WHERE rn > 1) AS n_dropped,
           COALESCE(string_agg(block, ' ' ORDER BY pos)
                    FILTER (WHERE rn = 1), '') AS clean_text
    FROM k GROUP BY doc_id
    """,
)
def f26_passage_dedup(spark, sf_dir):
    """F26: repeated-passage dedup — every duplicated passage keeps only
    its globally first occurrence (ordered by doc_id, then position) and
    is dropped everywhere else; documents are reassembled from surviving
    passages. This is passage-granular exact dedup (vs f1's whole-doc
    hash): the unit that catches quoted/syndicated spans whole-doc
    hashing misses.

    Scale posture: first-occurrence is ``min(struct(doc_id, pos))`` per
    block — a map-side-combinable aggregate (no per-key sort, no window
    materialization; a row_number window over block would sort every
    group). The winners table is block-keyed and corpus-sized, so it
    joins back by shuffle on the block hash — equi, AQE-skew-splittable;
    reassembly is the same per-doc collect_list + array_sort as f25."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("toks")
    )
    blocks = docs.select(
        "doc_id",
        F.posexplode(_word_blocks(F.col("toks"), _PASSAGE_W))
        .alias("pos", "block"),
    )
    first = blocks.groupBy("block").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    flagged = blocks.join(first, "block").withColumn(
        "keep",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("pos") == F.col("first.pos")),
    )
    kept = F.when(F.col("keep"), F.struct("pos", "block"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda x: x["block"]
            ),
            " ",
        ).alias("clean_text"),
    )


_CHUNK, _STRIDE = 32, 24


@query(
    "f27_chunk_rag",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), s AS (
        SELECT doc_id, toks, n,
               unnest(range(0,
                   CAST(ceil(greatest(n - {_CHUNK}, 0) / {_STRIDE}.0)
                        AS BIGINT) * {_STRIDE} + 1,
                   {_STRIDE})) AS start
        FROM t
    )
    SELECT doc_id, start // {_STRIDE} AS chunk_id,
           array_to_string(toks[start + 1 : start + {_CHUNK}], ' ')
               AS chunk_text,
           least({_CHUNK}, n - start) AS n_tokens
    FROM s
    """,
)
def f27_chunk_rag(spark, sf_dir):
    """F27: overlapping token-window chunking (size 32, stride 24 — the
    retrieval/context-window prep step: every document becomes a set of
    fixed-budget chunks with 8 tokens of overlap so no span falls on a
    boundary). Token unit = whitespace word, consistent with f9.

    Scale posture: pure per-row expression work — sequence() builds the
    start offsets, posexplode fans out (rows × ~n/stride, the inherent
    output size), slice/array_join cut each window; no shuffle at all,
    the whole op fuses with the parquet scan and pushes column pruning
    (only doc_id, text read)."""
    toked = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("toks")
    )
    # fx.nsize: n feeds the output-bound least(CHUNK, n - start) — legacy
    # size(NULL) = -1 makes a null document's single chunk claim
    # n_tokens = -1 where both ANSI Spark and the oracle agree on
    # least(CHUNK) = CHUNK (greatest/least skip NULLs identically in
    # both engines)
    n = fx.nsize(F.col("toks"))
    last = (
        F.ceil(F.greatest(n - _CHUNK, F.lit(0)) / F.lit(float(_STRIDE)))
        * _STRIDE
    ).cast("int")
    chunked = toked.select(
        "doc_id", "toks",
        F.posexplode(F.sequence(F.lit(0), last, F.lit(_STRIDE)))
        .alias("chunk_id", "start"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(F.slice("toks", F.col("start") + 1, F.lit(_CHUNK)), " ")
        .alias("chunk_text"),
        F.least(F.lit(_CHUNK), fx.nsize(F.col("toks")) - F.col("start"))
        .cast("long").alias("n_tokens"),
    )


def _f28_oracle(k: int = 8) -> str:
    """DuckDB twin of f28_doc_clustering: same portable seed centroids,
    same sequential-d² assignment and tie order as _f21_oracle; the
    per-cluster profile is plain SQL aggregation. avg_norm carries the
    one accepted seam of the averaging class — engine summation order
    inside AVG — absorbed by the shared 6-dp floor rounding."""
    h = _seed_hash_sql("vec_id")
    return f"""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE {_VEC_OK}
    ), seeds AS (
        SELECT se, rn - 1 AS cell FROM (
            SELECT e AS se,
                   ROW_NUMBER() OVER (ORDER BY {h}, vec_id) AS rn
            FROM base) WHERE rn <= {k}
    ), assigned AS (
        SELECT vec_id, label, e, cell FROM (
            SELECT b.vec_id, b.label, b.e, s.cell, ROW_NUMBER() OVER (
                PARTITION BY b.vec_id ORDER BY
                    list_dot_product(s.se, s.se)
                        - 2 * list_dot_product(b.e, s.se),
                    s.cell) AS arn
            FROM base b CROSS JOIN seeds s) WHERE arn = 1
    )
    SELECT CAST(cell AS BIGINT) AS cluster_id,
           COUNT(*) AS n_vecs,
           COUNT(DISTINCT label) AS n_labels,
           FLOOR(AVG(sqrt(list_dot_product(e, e))) * 1000000.0 + 0.5)
               / 1000000.0 AS avg_norm
    FROM assigned GROUP BY 1
    """


@query("f28_doc_clustering", oracle=_f28_oracle())
def f28_doc_clustering(spark, sf_dir):
    """F28: corpus topic clustering — vector quantization over the
    embedding column (the domain-mixture / data-curation view: cluster
    sizes and purity drive up/down-sampling decisions in training-data
    pipelines). Reuses f21's machinery: the portable seed quantizer
    (fully oracle-hash-checked — see f21's docstring and the _SEED_M
    block comment).

    Scale posture: quantizer cost is constant in corpus size (k×dim
    driver state); assignment is one map-only Arrow pass; the
    per-cluster profile is a single map-side-combined groupBy on k
    keys. Output: one row per non-empty cluster with its size and
    label mix."""
    k = 8
    emb = _embeddings(spark, sf_dir)
    centers_np = _seed_centroids(emb, k=k)
    if centers_np is None:  # empty corpus: no clusters to profile
        return spark.createDataFrame(
            [], "cluster_id long, n_vecs long, n_labels long, "
                "avg_norm double")
    assign = _nearest_seed_udf(centers_np)
    return (
        emb.withColumn("cluster_id", assign("emb"))
        .groupBy(F.col("cluster_id").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count_distinct("label").alias("n_labels"),
            fx.fround(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


@query(
    "f29_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), cnt AS (
        SELECT term, COUNT(*) AS c FROM tok GROUP BY 1
    ), tot AS (SELECT SUM(c) AS t FROM cnt)
    SELECT doc_id,
           FLOOR(AVG(-ln(c / (SELECT t FROM tot))) * 10000.0 + 0.5)
               / 10000.0 AS xent
    FROM tok JOIN cnt USING (term)
    GROUP BY doc_id
    """,
)
def f29_unigram_logprob(spark, sf_dir):
    """F29: unigram cross-entropy score — each document's mean negative
    log-probability under the corpus's own unigram distribution, the
    cheapest member of the perplexity-filter family (documents that
    score far from the corpus mean are outliers: boilerplate, noise,
    wrong-language). A real pipeline swaps the unigram model for a
    KenLM/BPE model scored in the same per-token join shape.

    Scale posture: the model IS a small aggregate (vocab counts — Zipf
    makes the distinct-term table tiny relative to the corpus), so the
    token→probability lookup broadcasts and the corpus never shuffles
    for it; the hot-term skew that would poison a shuffle join is
    irrelevant under a broadcast map-side hash lookup. The vocab total
    is a metadata-cheap scalar (same pattern as f13's sizing count)."""
    tok = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens()).alias("term"))
    )
    # pin the vocab before the total collect: the vocab aggregate has two
    # consumers (the scalar total and the broadcast lookup), and an
    # unpinned frame would re-run the full corpus explode+shuffle for
    # each (SCALE.md §5 multi-consumer rule). Vocab-sized → cheap pin.
    cnt = (tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint())
    # SUM over an empty vocab is NULL; 1 keeps the log finite and the
    # query's answer on an empty corpus is (correctly) zero rows — the
    # empty-partition case a date-filtered 100 TB run hits routinely
    total = cnt.agg(F.sum("c")).collect()[0][0] or 1
    # no broadcast hint: Zipf bounds mass concentration, not distinct-
    # term cardinality — a raw crawl's vocab (URLs, ids, junk) grows
    # with the corpus. AQE broadcasts the checkpointed vocab while it
    # fits and falls back to a shuffle join when it doesn't (hot terms
    # stay safe: the downstream per-doc agg combines map-side).
    return (
        tok.join(cnt, "term")
        .groupBy("doc_id")
        .agg(
            fx.fround(F.avg(-F.log(F.col("c") / F.lit(float(total)))), 4)
            .alias("xent")
        )
    )


_DECON_W = 5  # gram width for overlap decontamination


@query(
    "f30_ngram_decontaminate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[i : i + {_DECON_W - 1}], ' ')) AS gh
        FROM (SELECT doc_id, toks,
                     unnest(range(1, len(toks) - {_DECON_W - 2})) AS i
              FROM t)
    ), e AS (
        SELECT DISTINCT gh FROM g WHERE doc_id % 89 = 0
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE e.gh IS NOT NULL) AS n_hit,
           (COUNT(*) FILTER (WHERE e.gh IS NOT NULL)) * 10 >= COUNT(*)
               AS contaminated
    FROM g LEFT JOIN e ON g.gh = e.gh
    GROUP BY 1
    """,
)
def f30_ngram_decontaminate(spark, sf_dir):
    """F30: n-gram-overlap decontamination — the stronger form of f24's
    exact-hash check: a training document is contaminated when ≥10% of
    its distinct 5-gram shingles appear in the eval set (planted here as
    doc_id % 89), catching partial/quoted contamination whole-doc
    hashing misses (the GPT-3/PaLM-style overlap rule).

    Scale posture: grams materialize as md5 keys (16 bytes, not gram
    strings) map-side; the eval gram set is small (eval suites are MBs
    against a 100 TB corpus) so membership is a broadcast left join —
    the corpus gram stream never shuffles for it; the per-doc overlap
    count is one map-side-combinable aggregate. Gram explosion is the
    inherent output size (rows × ~n_tokens) and fuses with the scan."""
    # per-doc gram dedup is MAP-SIDE inside gram_hashes: all of a doc's
    # grams live in one row's array, so array_distinct before the
    # explode replaces what would otherwise be a corpus-sized
    # .distinct() shuffle of 16-byte keys with zero-coordination
    # per-row work. ONE gram constructor for f30/f35/build_bloom_filter:
    # the exact set and the Bloom sketch must stay
    # bit-identical, so they share the expression.
    grams = gram_hashes(table(spark, sf_dir, "documents"))
    eval_grams = (
        grams.filter(F.col("doc_id") % 89 == 0).select("gh").distinct()
        .withColumn("hit", F.lit(True))
    )
    # no broadcast hint: a REAL eval suite is fixed-size (MBs) and AQE
    # broadcasts it from runtime stats; the planted doc_id%89 stand-in
    # grows with the corpus, and forcing broadcast on a corpus-derived
    # set is exactly the unbounded-broadcast trap. AQE picks
    # broadcast-when-small, shuffle-when-not — both correct.
    return (
        grams.join(eval_grams, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_hit"),
        )
        .select(
            "doc_id", "n_grams", "n_hit",
            (F.col("n_hit") * 10 >= F.col("n_grams")).alias("contaminated"),
        )
    )


@query(
    "f31_training_order",
    oracle="""
    SELECT doc_id, source,
           row_number() OVER (
               ORDER BY md5('seed42:' || CAST(doc_id AS VARCHAR))
           ) AS ord
    FROM documents
    """,
)
def f31_training_order(spark, sf_dir):
    """F31: deterministic global training-data shuffle — every document
    gets a stable pseudo-random position (rank by keyed md5 of its id),
    the order a training run consumes shards in. Seeded hash order, not
    ``rand()``: reproducible across engines, retries, and reshardings.

    Scale posture: a naive ``row_number() OVER (ORDER BY hash)`` plans a
    SINGLE-partition window — the whole corpus through one task. The
    distributed form splits on the hash's leading 12 bits (4096
    buckets; md5 is uniform so buckets are balanced by construction):
    global order ≡ (bucket, hash-within-bucket), so the global rank is
    the bucket's cumulative offset (a 4096-row metadata aggregate,
    broadcast back) plus the within-bucket row_number (a partitioned
    window — parallel). Same two-phase zipWithIndex pattern
    ``io.surrogate_ids`` uses for key assignment."""
    docs = table(spark, sf_dir, "documents")
    hkey = F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")))
    keyed = docs.select(
        "doc_id", "source", hkey.alias("hk"),
        F.substring(hkey, 1, 3).alias("bk"),  # 4096-way MSB split: per-
        # bucket sort stays ~corpus/4096 (a 2-char/256-way split caps
        # parallelism at 256 tasks — ~400GB sorts at 100TB); the offsets
        # frame is still metadata-sized (4096 rows)
    )
    # 4096-row frame: the single-partition window here is metadata-sized
    offsets = (
        keyed.groupBy("bk").agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bk",
            (F.sum("n").over(W.orderBy("bk")) - F.col("n")).alias("off"),
        )
    )
    w_in_bucket = W.partitionBy("bk").orderBy("hk")
    return (
        keyed.join(F.broadcast(offsets), "bk")
        .select(
            "doc_id", "source",
            (F.row_number().over(w_in_bucket) + F.col("off"))
            .cast("long").alias("ord"),
        )
    )


@query(
    "f32_keep_best_dedup",
    # packed arg-min: (max n_chars, then min doc_id) per content group,
    # decoded from one BIGINT — identical int64 arithmetic both engines
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars, md5(lower(trim(text))) AS fp,
               (100000 - LEAST(n_chars, 100000)) * 10000000000 + doc_id
                   AS pack
        FROM documents
    )
    SELECT fp, COUNT(*) AS n_dups,
           MIN(pack) % 10000000000 AS keep_doc_id
    FROM keyed GROUP BY fp
    """,
)
def f32_keep_best_dedup(spark, sf_dir):
    """F32: canonical-selection dedup — per exact-content group (f1's
    normalized hash), keep the BEST representative (longest doc, ties to
    the smallest doc_id) instead of an arbitrary first. The selection
    rule real pipelines need when duplicates differ in truncation or
    metadata quality.

    Scale posture: the two-level preference (max length, then min id)
    packs into one BIGINT ((1e5 - n_chars)·1e10 + doc_id), so the winner
    is a plain ``min`` — map-side-combinable partial aggregate, no
    per-group sort, no window, one shuffle on the content hash (same
    discipline as f26's min(struct); the packed form also survives
    engines without struct-ordered aggregates)."""
    docs = table(spark, sf_dir, "documents")
    # clamp keeps the pack in int64 for arbitrarily long docs (≥100k
    # chars tie at the cap and fall to the doc_id tie-break); doc_id is
    # assumed < 1e10 — a corpus beyond that widens the pack to two
    # min(struct) fields instead
    pack = (
        (F.lit(100000) - F.least(F.col("n_chars"), F.lit(100000)))
        * F.lit(10000000000)
        + F.col("doc_id")
    )
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
            pack.alias("pack"),
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            (F.min("pack") % 10000000000).alias("keep_doc_id"),
        )
    )


@query(
    "f33_data_quality",
    oracle="""
    SELECT 'null_text' AS expectation,
           CAST(COUNT(*) FILTER (WHERE text IS NULL) AS BIGINT)
               AS violations
    FROM documents
    UNION ALL
    SELECT 'bad_lang',
           COUNT(*) FILTER (WHERE lang NOT IN ('en','de','fr','es','pt'))
    FROM documents
    UNION ALL
    SELECT 'nchars_mismatch',
           COUNT(*) FILTER (WHERE n_chars != len(text))
    FROM documents
    UNION ALL
    SELECT 'dup_doc_id',
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
    FROM documents
    """,
)
def f33_data_quality(spark, sf_dir):
    """F33: data-quality expectations — the Great-Expectations-style
    contract check a training pipeline gates ingests on (null columns,
    enum violations, derived-field consistency, key uniqueness), all
    evaluated in ONE aggregate pass (conditional counts fold into a
    single map-side-combined aggregation; the distinct-count term rides
    the same shuffle). Unpivoted to (expectation, violations) rows so a
    gate reads it as assert-all-zeros."""
    d = table(spark, sf_dir, "documents")
    agg = d.agg(
        F.count(F.when(F.col("text").isNull(), 1)).alias("null_text"),
        F.count(
            F.when(~F.col("lang").isin("en", "de", "fr", "es", "pt"), 1)
        ).alias("bad_lang"),
        F.count(
            F.when(F.col("n_chars") != F.length("text"), 1)
        ).alias("nchars_mismatch"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id")).alias("dup_doc_id"),
    )
    return agg.unpivot(
        [], ["null_text", "bad_lang", "nchars_mismatch", "dup_doc_id"],
        "expectation", "violations",
    )


# ------------------------------------------- F34: count-min heavy hitters
# Sketch geometry: d=4 seeded rows x w=4096 buckets (3 md5 hex chars).
# Error bound e/w ~ 0.066% of the token stream per estimate at
# delta = e^-4 ~ 1.8%; the grid is <= 16384 integer counters no matter
# how many trillions of tokens flow through it.
_CM_D = 4
_CM_W = 4096


def _doc_tokens(docs):
    """Non-empty whitespace tokens of the non-null ``text`` rows."""
    return (docs.filter(F.col("text").isNotNull())
            .select(F.explode(_tokens()).alias("token"))
            .filter(F.length("token") > 0))


def _cm_token_stream(spark, sf_dir):
    """The documents token stream the CM sketch summarizes."""
    return _doc_tokens(table(spark, sf_dir, "documents"))


def _cm_bucketed(toks):
    """(token, ...) -> (token, ..., i, bucket): ONE md5 per token row,
    row i's bucket = hex chars [3i+1, 3i+3] -> 12 bits (¼ the hash
    work of a per-row md5("i:token"); md5 bits are independent, so
    disjoint nibble ranges of one digest act as the d seeded
    hashes)."""
    hashed = toks.withColumn("_h", F.md5(F.col("token")))
    seeded = hashed.select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in range(_CM_D)])).alias("i"),
    )
    return seeded.withColumn(
        "bucket",
        F.conv(F.expr("substring(_h, i * 3 + 1, 3)"), 16, 10).cast("int"),
    ).drop("_h")


def _cm_grid_of(toks):
    """The count-min GRID: per-(row, bucket) occurrence counts —
    <= _CM_D × _CM_W integer counters at any stream size, the whole
    sketch as one map-side-combinable aggregate."""
    return (_cm_bucketed(toks)
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def cm_estimate_against(cand_bucketed, grid, complete: bool = False):
    """(token, i, bucket) candidates × grid -> (token, cm_count): the
    INTEGER MIN over the d rows' cells. ``complete=True`` treats a
    NEVER-HIT cell as the true count 0 (left join + coalesce) — needed
    when the queried tokens may not come from the summarized stream;
    f34's candidates ARE the stream vocabulary, so every cell is >= 1
    and the inner join is exact there."""
    joined = cand_bucketed.join(F.broadcast(grid), ["i", "bucket"],
                                "left" if complete else "inner")
    c = F.coalesce(F.col("c"), F.lit(0)) if complete else F.col("c")
    return (joined.groupBy("token")
            .agg(F.min(c).alias("cm_count")))


# ------------------------------------------------ stored-sketch lifecycle
# A stored sketch is a directory holding ``manifest.json`` (geometry +
# summary: what probes and merges read) and a cells directory that
# carries its own ``_manifest.json`` (geometry + replay guard). The cells
# directory is published by a store.Swap, so cells and guard always move
# together. Both sketches are linear, so build, merge and per-batch
# update are one operation: fold cell frames, then publish.
def _sketch_swap(target: str) -> store.Swap:
    return store.Swap(target, target + ".tmp", target + ".old",
                      "_manifest.json", "sketch_swap_between_renames")


def _write_cells(df, target: str, inner_manifest: dict) -> None:
    """Publish ``df`` as single-file parquet at ``target`` with
    ``inner_manifest`` staged inside it (parquet readers skip underscore
    files), so a reader sees the old cells or the new ones, never a
    partial tree. Heals an interrupted swap first: this is the writer."""
    swap = _sketch_swap(target)
    swap.heal()
    shutil.rmtree(swap.staged, ignore_errors=True)
    df.coalesce(1).write.mode("overwrite").parquet(swap.staged)
    store.write_json(os.path.join(swap.staged, swap.manifest),
                     inner_manifest)
    swap.publish()


class _Sketch(NamedTuple):
    """What differs between the stored sketches."""

    kind: str                    # noun for refusals
    builder: str                 # the public builder a refusal names
    cells: str                   # cells directory under the sketch path
    geometry: dict               # fields that must equal the engine's
    of_docs: Callable            # documents frame -> cells
    fold: Callable               # union of cell frames -> cells
    summary: str                 # manifest field summarizing the cells
    summarize: Callable          # stored cells -> int

    def check_geometry(self, manifest: dict, where: str) -> None:
        drift = [f"{k}={manifest.get(k)} != engine {k}={v}"
                 for k, v in self.geometry.items() if manifest.get(k) != v]
        if drift:
            raise ValueError(
                f"{self.kind} at {where} has geometry {', '.join(drift)};"
                f" sketches build, merge and probe at one geometry — "
                f"rebuild it ({self.builder}) or use the matching engine "
                f"version.")

    def load(self, spark, path: str):
        """(manifest, cells) of the sketch stored at ``path``; refuses a
        geometry other than the engine's."""
        with open(os.path.join(path, "manifest.json")) as fh:
            manifest = json.load(fh)
        self.check_geometry(manifest, path)
        target = os.path.join(path, self.cells)
        return manifest, _sketch_swap(target).read(spark)

    def publish(self, spark, path: str, cells, source=None,
                last_batch_id: int = -1, stream_id=None) -> dict:
        """Store ``cells`` as the sketch at ``path`` and return its
        manifest. The replay guard (``last_batch_id``, ``stream_id``)
        publishes with the cells; ``last_batch_id=-1`` marks batch-built
        cells that a stream folds in rather than replaces. The summary
        is computed from the stored cells, so it cannot drift from
        them."""
        target = os.path.join(path, self.cells)
        os.makedirs(path, exist_ok=True)
        _write_cells(cells, target, {**self.geometry,
                                     "last_batch_id": last_batch_id,
                                     "stream_id": stream_id})
        manifest = {**self.geometry, self.summary:
                    int(self.summarize(spark.read.parquet(target)))}
        if source is not None:
            manifest["source"] = source
        if last_batch_id >= 0:
            manifest["last_batch_id"] = last_batch_id
        store.write_json(os.path.join(path, "manifest.json"), manifest)
        return manifest

    def merge(self, spark, paths, out_path: str) -> dict:
        opened = [self.load(spark, p) for p in paths]
        sources = [m["source"] for m, _ in opened if "source" in m]
        merged = functools.reduce(lambda a, b: a.unionByName(b),
                                  [cells for _, cells in opened])
        return self.publish(spark, out_path, self.fold(merged),
                            source=sources or None)

    def update_writer(self, path: str, stream_id):
        target = os.path.join(path, self.cells)
        swap = _sketch_swap(target)

        def _update(batch_df, batch_id: int) -> None:
            spark = batch_df.sparkSession
            swap.heal()
            inner = store.read_json(os.path.join(target, swap.manifest))
            if inner is None and os.path.exists(target):
                raise ValueError(
                    f"{self.kind} at {target} exists without a readable "
                    f"inner _manifest.json (built by an older engine, or "
                    f"foreign data): streaming onto it would silently "
                    f"replace the stored state with the first batch. "
                    f"Rebuild it ({self.builder}) or move it aside.")
            cells = self.of_docs(batch_df)
            if inner is not None:
                self.check_geometry(inner, target)
                if store.check_stream_identity(
                        inner.get("stream_id"),
                        int(inner.get("last_batch_id", -1)),
                        stream_id, batch_id, f"sketch at {target}",
                        "build the new stream into its own path and "
                        "merge the sketches (they are linear)."):
                    return  # replayed epoch: already folded in
                cells = self.fold(
                    spark.read.parquet(target).unionByName(cells))
            self.publish(spark, path, cells, source="stream",
                         last_batch_id=int(batch_id), stream_id=stream_id)

        return _update

    def stream(self, docs_stream, path: str, checkpoint: str) -> None:
        os.makedirs(path, exist_ok=True)
        drain_available_now(
            docs_stream,
            self.update_writer(path, os.path.abspath(checkpoint)),
            checkpoint)


_CM = _Sketch(
    kind="CM grid", builder="build_cm_grid", cells="grid.parquet",
    geometry={"d": _CM_D, "w": _CM_W},
    of_docs=lambda docs: _cm_grid_of(_doc_tokens(docs)),
    fold=lambda cells: (cells.groupBy("i", "bucket")
                        .agg(F.sum("c").alias("c"))),
    summary="total",
    # every occurrence lands in exactly one row-0 cell
    summarize=lambda cells: (cells.filter(F.col("i") == 0)
                             .agg(F.sum("c")).collect()[0][0]) or 0,
)


def build_cm_grid(spark, sf_dir: str, path: str) -> dict:
    """Summarize the documents token stream into a count-min grid stored
    at ``path`` — f34's geometry (d=4 × w=4096, one-md5 split) — so a
    later session estimates any token without touching the corpus. One
    pass builds the grid; the stream total falls out of its row-0 cells.
    Returns the manifest {d, w, total, source}. A later
    :func:`stream_cm_grid` onto ``path`` folds these counts in."""
    return _CM.publish(spark, path,
                       _CM.of_docs(table(spark, sf_dir, "documents")),
                       source=sf_dir)


def cm_estimate(spark, path: str, tokens):
    """Estimate the stream frequency of ``tokens`` (a list of strings, or
    any DataFrame with a ``token`` column) against the grid stored at
    ``path``: (token, cm_count), never under the true count; a token
    absent from the stream estimates its true 0 unless it collides on
    all d rows. Refuses a grid stored under another geometry."""
    _, grid = _CM.load(spark, path)
    if not hasattr(tokens, "columns"):
        tokens = spark.createDataFrame(
            [(t,) for t in tokens], "token string")
    return cm_estimate_against(
        _cm_bucketed(tokens.select("token").distinct()), grid,
        complete=True)


def cm_update_writer(path: str, stream_id=None):
    """Per-batch maintainer of a streaming count-min grid: each
    micro-batch of documents (``text``) folds into the stored grid by
    cell-wise sum, so the grid is always that of every document streamed
    so far. Exactly-once under ``foreachBatch`` replay: a replayed
    batch id from the same ``stream_id`` is a no-op, a different stream
    presenting a non-monotonic batch id refuses, a batch-built grid is
    folded in, and a swap interrupted by a crash heals on entry.
    ``path/manifest.json`` is rewritten after each batch for
    :func:`cm_estimate`."""
    return _CM.update_writer(path, stream_id)


def stream_cm_grid(docs_stream, path: str, checkpoint: str) -> None:
    """Drain a streaming documents frame into the grid at ``path``
    through :func:`cm_update_writer`. The checkpoint's absolute path is
    the stream identity the replay guard is keyed on."""
    _CM.stream(docs_stream, path, checkpoint)


def merge_cm_grids(spark, paths, out_path: str) -> dict:
    """Merge shard-built grids into one at ``out_path``. The grid is
    linear: the grid of a union of streams is the cell-wise sum of the
    shards' grids, exactly. Refuses geometry drift across shards."""
    return _CM.merge(spark, paths, out_path)


_F34_SQL = f"""
    WITH toks AS (
        SELECT t.token FROM (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents WHERE text IS NOT NULL
        ) t WHERE length(t.token) > 0
    ), bucketed AS (
        SELECT token, i,
               (POSITION(substr(h, i * 3 + 1, 1) IN '0123456789abcdef') - 1)
                   * 256
             + (POSITION(substr(h, i * 3 + 2, 1) IN '0123456789abcdef') - 1)
                   * 16
             + (POSITION(substr(h, i * 3 + 3, 1) IN '0123456789abcdef') - 1)
                   AS bucket
        FROM (
            SELECT token, i, h
            FROM (SELECT token, md5(token) AS h FROM toks),
                 (SELECT unnest([0, 1, 2, 3]) AS i)
        )
    ), grid AS (
        SELECT i, bucket, COUNT(*) AS c FROM bucketed GROUP BY 1, 2
    ), est AS (
        SELECT b.token, MIN(g.c) AS cm_count
        FROM (SELECT DISTINCT token, i, bucket FROM bucketed) b
        JOIN grid g ON b.i = g.i AND b.bucket = g.bucket
        GROUP BY 1
    )
    SELECT token, cm_count FROM est
    WHERE cm_count * 200 > (SELECT COUNT(*) FROM toks)
"""


@query("f34_heavy_hitters", oracle=_F34_SQL)
def f34_heavy_hitters(spark, sf_dir):
    """F34: heavy-hitter tokens via a PORTABLE
    count-min sketch — the c38_portable_hll playbook applied to the
    frequency-sketch class. Every step is computed bit-identically by
    both engines: ONE md5(token) per occurrence, split into d=4
    disjoint 3-hex-char fields — field i is row i's bucket (4096
    buckets, the POSITION string-ops trick from the portable HLL;
    md5's bits are independent, so disjoint nibble ranges of one
    digest serve as the d seeded hashes at ¼ the hash work of
    md5("i:token") × 4). The grid is per-(row,
    bucket) COUNT(*), the estimate is the INTEGER MIN over the 4 rows,
    and a token is reported when cm_count exceeds 0.5% of the stream
    (the comparison stays in integers: cm_count * 200 > total — no
    float anywhere, so the twin is exact, not tolerance-gated).

    Scale posture — why a sketch and not a groupBy(token): the GRID is
    the aggregate. Per-(row,bucket) counts partial-aggregate map-side
    into <= 16 384 counters per partition regardless of corpus size,
    so the shuffle moves constant-size state where an exact
    top-frequency query shuffles the full vocabulary; the estimate
    join broadcasts the tiny grid. Candidate enumeration here scans
    the corpus vocabulary (right for a self-contained key — and the
    distinct is vocabulary-sized, not stream-sized); a 100 TB
    deployment estimates only QUERIED tokens against the same stored
    grid, which is the point of the structure — and is now product
    surface: :func:`build_cm_grid` persists the grid once,
    :func:`cm_estimate` probes it later (pinned estimate-for-estimate
    against this key in test_llm_ops.py). CM never
    under-estimates, so no truly-heavy token can be missed; the
    one-sided error is pinned in tests/test_llm_ops.py.

    Reference anchor: the frequency/monitoring class of the
    reference's analytical corpus (SURVEY §2 group F); sketch is
    public Cormode-Muthukrishnan count-min."""
    toks = _cm_token_stream(spark, sf_dir)
    grid = _cm_grid_of(toks)
    # candidates: the VOCABULARY (distinct before the d-way explode —
    # 4× less state into the distinct than distinct(token,i,bucket);
    # bucket is a pure function of (token, i) so nothing is lost)
    cand = _cm_bucketed(toks.distinct())
    est = cm_estimate_against(cand, grid)
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        est.join(F.broadcast(total))
        .filter(F.col("cm_count") * 200 > F.col("_total"))
        .select("token", "cm_count")
    )


# ------------------------------------- F35: Bloom-filter decontamination
# Completes the portable-sketch taxonomy: HLL = cardinality
# (c38_portable_hll), histogram = quantile (c11_portable_quantile),
# count-min = frequency (f34), BLOOM = membership. k=3 seeded
# positions per gram over m=2^16 bits: the whole filter is <= 3x|eval
# grams| DISTINCT 16-bit integers — ~8 KB as a bitmap — against a
# corpus-sized gram stream.
_BLOOM_K = 3
_BLOOM_M = 1 << 16  # bit-space: 4 hex chars per position


def _bloom_positions(grams):
    """(…, gh) -> (…, gh, j, pos): the k seeded bit positions of each
    gram hash. gh IS ALREADY an md5 hex digest, so the positions are
    its disjoint 4-hex-char nibble ranges — ZERO additional hashing
    instead of md5("j:gh") × k (md5 bits are independent across
    disjoint ranges)."""
    return grams.select(
        "*",
        F.explode(F.array(*[F.lit(j) for j in range(_BLOOM_K)])).alias("j"),
    ).withColumn(
        "pos",
        F.conv(F.expr("substring(gh, j * 4 + 1, 4)"), 16, 10).cast("int"))


def gram_hashes(docs, width: int = _DECON_W):
    """(doc_id, text) -> (doc_id, gh): per-doc DISTINCT rolling
    ``width``-gram md5s — f30/f35's gram construction as reusable
    surface (dedup happens map-side inside the array before the
    explode)."""
    toked = docs.select("doc_id", _tokens().alias("toks"))
    return toked.filter(F.size("toks") >= width).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (width - 1)),
                    lambda i: F.md5(F.array_join(
                        F.slice("toks", i, width), " ")),
                )
            )
        ).alias("gh"),
    )


def _bloom_cells(grams):
    """The DISTINCT bit-position set of a ``gh`` gram-hash frame."""
    return _bloom_positions(grams.select("gh")).select("pos").distinct()


_BLOOM = _Sketch(
    kind="Bloom filter", builder="build_bloom_filter", cells="bits.parquet",
    geometry={"k": _BLOOM_K, "m": _BLOOM_M},
    of_docs=lambda docs: _bloom_cells(gram_hashes(docs)),
    fold=lambda cells: cells.distinct(),
    summary="n_positions",
    summarize=lambda cells: cells.count(),
)


def build_bloom_filter(spark, grams, path: str) -> dict:
    """Compress an eval-gram set into the DISTINCT-position set stored at
    ``path``. ``grams`` is any DataFrame with a ``gh`` md5-hex column
    (:func:`gram_hashes` builds one from (doc_id, text) docs). The stored
    filter is <= 2^16 positions at any eval-set size. Returns the
    manifest {k, m, n_positions}. A later :func:`stream_bloom_filter`
    onto ``path`` ORs into these positions."""
    return _BLOOM.publish(spark, path, _bloom_cells(grams))


def bloom_probe(spark, path: str, grams):
    """Tag every distinct row of ``grams`` (any DataFrame with a ``gh``
    md5-hex column; duplicate rows collapse to one tagged row, and hits
    are counted over DISTINCT positions so duplicates can never flip the
    verdict) with ``bloom_hit`` — true iff ALL k positions are set in
    the filter stored at ``path``. One-sided: a gram that WAS in the
    eval set always hits; a miss is definitive. Refuses a filter stored
    under another geometry."""
    reserved = {"j", "pos", "_set", "_k_hit", "bloom_hit"}
    clash = reserved & set(grams.columns)
    if clash:
        raise ValueError(
            f"bloom_probe input carries reserved column(s) "
            f"{sorted(clash)} — the probe adds these internally; "
            f"rename them first.")
    _, bits = _BLOOM.load(spark, path)
    bits = bits.withColumn("_set", F.lit(True))
    khit = (
        _bloom_positions(grams)
        .join(F.broadcast(bits), "pos", "left")
        .groupBy(*grams.columns)
        # DISTINCT j, not row count: duplicate input rows (per-
        # occurrence grams) multiply the group's rows, and a plain sum
        # would report k×dups ≠ k — a false MISS on a gram genuinely
        # in the filter, breaking the one-sided guarantee
        .agg(F.count_distinct(F.when(F.col("_set"), F.col("j")))
             .alias("_k_hit"))
    )
    return khit.select(
        *grams.columns,
        (F.col("_k_hit") == _BLOOM_K).alias("bloom_hit"))


def merge_bloom_filters(spark, paths, out_path: str) -> dict:
    """Merge shard-built filters into one at ``out_path``. A Bloom
    filter is OR-linear: the filter of a union of gram sets is the
    DISTINCT UNION of the shards' position sets, exactly. Refuses
    geometry drift across shards."""
    return _BLOOM.merge(spark, paths, out_path)


def bloom_update_writer(path: str, stream_id=None):
    """Per-batch maintainer of a streaming Bloom filter: each micro-batch
    of documents (``doc_id``, ``text``) grams via :func:`gram_hashes`
    and ORs into the stored position set. The exactly-once contract is
    :func:`cm_update_writer`'s. An OR-merge is idempotent, but the guard
    still saves a replayed batch's gram/shuffle cost and refuses the
    fresh-checkpoint drop."""
    return _BLOOM.update_writer(path, stream_id)


def stream_bloom_filter(docs_stream, path: str, checkpoint: str) -> None:
    """Drain a streaming documents frame (``doc_id``, ``text``) into the
    filter at ``path`` through :func:`bloom_update_writer`; the
    checkpoint's absolute path is the stream identity."""
    _BLOOM.stream(docs_stream, path, checkpoint)


_F35_SQL = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(toks[i : i + {_DECON_W - 1}], ' ')) AS gh
        FROM (SELECT doc_id, toks,
                     unnest(range(1, len(toks) - {_DECON_W - 2})) AS i
              FROM t)
    ), gp AS (
        SELECT doc_id, gh,
               (POSITION(substr(gh, j * 4 + 1, 1) IN '0123456789abcdef') - 1)
                   * 4096
             + (POSITION(substr(gh, j * 4 + 2, 1) IN '0123456789abcdef') - 1)
                   * 256
             + (POSITION(substr(gh, j * 4 + 3, 1) IN '0123456789abcdef') - 1)
                   * 16
             + (POSITION(substr(gh, j * 4 + 4, 1) IN '0123456789abcdef') - 1)
                   AS pos
        FROM g, (SELECT unnest([0, 1, 2]) AS j)
    ), bits AS (
        SELECT DISTINCT pos FROM gp WHERE doc_id % 89 = 0
    ), khit AS (
        SELECT doc_id, gh,
               COUNT(*) FILTER (WHERE b.pos IS NOT NULL) AS k_hit
        FROM gp LEFT JOIN bits b ON gp.pos = b.pos
        GROUP BY 1, 2
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE k_hit = {_BLOOM_K}) AS n_bloom_hit,
           (COUNT(*) FILTER (WHERE k_hit = {_BLOOM_K})) * 10 >= COUNT(*)
               AS contaminated
    FROM khit GROUP BY 1
"""


@query("f35_bloom_decontaminate", oracle=_F35_SQL)
def f35_bloom_decontaminate(spark, sf_dir):
    """F35: f30's n-gram decontamination with the
    eval-gram set compressed into a PORTABLE BLOOM FILTER — the
    membership sketch, oracle-exact because every step is integer/string
    ops both engines compute identically: each distinct 5-gram md5 maps
    to k=3 seeded positions (its own disjoint 4-hex-char nibble ranges
    -> 2^16 bits; the gram hash is already an md5 digest, so the
    positions cost no additional hashing), the filter is the
    DISTINCT position set of
    the planted eval grams (doc_id % 89, f30's stand-in), a gram
    bloom-hits iff ALL k positions are set, and a doc is contaminated
    at >= 10% bloom-hit grams (f30's overlap rule, integer
    comparison).

    Why a Bloom filter when f30 broadcasts exact gram hashes: the
    exact set costs 16 bytes per eval gram; the filter is m = 2^16
    BITS TOTAL (~8 KB serialized) at any eval-set size up to its
    capacity — the structure a 1000-executor decontamination ships to
    every task when even the hash set is too big to broadcast. The
    price is one-sided false positives (over-flagging, never
    under-flagging — bloom membership cannot miss), pinned against
    f30's exact answer in tests/test_llm_ops.py.

    Scale posture mirrors f30: per-doc gram dedup map-side
    (array_distinct before the explode), positions join the tiny bits
    set (AQE broadcast-when-small — the planted set grows with the
    corpus, a REAL eval suite is fixed KBs), per-doc rollup is one
    map-side-combinable aggregate."""
    grams = gram_hashes(table(spark, sf_dir, "documents"))
    # a gram's k=3 positions are nibble ranges of the SAME md5 digest,
    # i.e. derivable as three COLUMNS of one row — an explode-to-3-rows
    # + groupBy(doc_id, gh) re-aggregation would shuffle every corpus
    # gram (10.1 MB at sf0.1, corpus-sized at tier) merely to count set
    # positions that are co-located all along. Column form: k_hit is
    # a per-row expression over three membership joins against the
    # bits set, which is ≤ 2^16 rows BY CONSTRUCTION (m = 2^16 bits)
    # and therefore always broadcastable — made explicit instead of
    # trusting AQE's estimate. The only exchanges left are the tiny
    # eval-side distinct and the map-side-combinable per-doc rollup:
    # the corpus never shuffles (1 Exchange on the corpus path).
    #
    # The renaming happens on the PROBE side (each _p{j} becomes
    # ``pos`` for its join, the shared ``bits`` frame is broadcast
    # verbatim), so the three broadcast subplans are plan-identical:
    # ONE BroadcastExchange built, two ReusedExchange nodes, the
    # eval-side scan+gram+distinct pipeline executed once (Scan parquet
    # 2). Renaming the bits columns per join would make the subplans
    # canonicalize differently, defeat ReuseExchange and run that
    # pipeline 3×.
    pos_cols = [
        F.conv(F.expr(f"substring(gh, {j * 4 + 1}, 4)"), 16, 10)
        .cast("int").alias(f"_p{j}")
        for j in range(_BLOOM_K)
    ]
    pg = grams.select("doc_id", "gh", *pos_cols)
    bits = (
        pg.filter(F.col("doc_id") % 89 == 0)
        .select(F.explode(F.array(*[F.col(f"_p{j}")
                                    for j in range(_BLOOM_K)])).alias("pos"))
        .distinct()
        .withColumn("_set", F.lit(True))
    )
    bits_b = F.broadcast(bits)
    khit = pg
    for j in range(_BLOOM_K):
        khit = (
            khit.withColumnRenamed(f"_p{j}", "pos")
            .join(bits_b, "pos", "left")
            .withColumnRenamed("_set", f"_s{j}")
            .drop("pos")
        )
    k_hit = sum(
        F.when(F.col(f"_s{j}"), 1).otherwise(0) for j in range(_BLOOM_K)
    )
    khit = khit.select("doc_id", k_hit.alias("k_hit"))
    return (
        khit.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("k_hit") == _BLOOM_K, 1).otherwise(0))
            .alias("n_bloom_hit"),
        )
        .select(
            "doc_id", "n_grams", "n_bloom_hit",
            (F.col("n_bloom_hit") * 10 >= F.col("n_grams"))
            .alias("contaminated"),
        )
    )


# ------------------------------------------------- F36: semantic dedup
def _f36_oracle() -> str:
    """DuckDB twin of f36_semdedup: same inlined plane literals, same
    size->plane-count rule (expected cluster width 256), same min-id
    prototype, same rounded-cosine keep rule. Cross-engine seams are
    f13's two knowns: Python banker's round vs DuckDB half-away in the
    plane-count rule (differs only at an exact .5 log2, unreachable for
    real counts) and float ulp at the 0.3 threshold, absorbed by
    rounding to 6 dp before comparing (f3's proven pattern)."""
    bits = ", ".join(_sign_bits_sql(F36_PLANES))
    cent = fx.sql_round("list_cosine_similarity(t.e, p.pe)", 6)
    return f"""
    WITH params AS (
        SELECT GREATEST(2, CAST(round(log2(GREATEST(COUNT(*), 1) / 256.0
                                           + 1)) AS INTEGER)) AS k
        FROM embeddings WHERE {_VEC_OK}
    ), base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE {_VEC_OK}
    ), tagged AS (
        SELECT vec_id, e,
               CAST(list_sum(([{bits}])[1:k]) AS BIGINT) AS bucket
        FROM base, params
    ), proto AS (
        SELECT bucket, MIN(vec_id) AS pid, arg_min(e, vec_id) AS pe
        FROM tagged GROUP BY 1
    ), scored AS (
        SELECT t.vec_id, t.bucket, p.pid, {cent} AS centrality
        FROM tagged t JOIN proto p USING (bucket)
    )
    SELECT vec_id, bucket, centrality
    FROM scored WHERE vec_id = pid OR centrality < 0.3
    """


@query("f36_semdedup", oracle=_f36_oracle())
def f36_semdedup(spark, sf_dir):
    """F36: SemDeDup-style cluster-prototype pruning — the ORACLE-GRADE
    member of the semantic-dedup/clustering class (f28's k-means demo
    stays the library-parity rows-only key, exactly as the portable
    sketch twins did for c38/c11).

    SemDeDup (Abbas et al. 2023, public) clusters an embedding corpus
    and drops members too close to their cluster's representative. Two
    deterministic substitutions make that semantic oracle-exact:

    - the quantizer is the seeded sign-bit hyperplane partition
      (F36_PLANES — an independent prefix-stable stream) instead of
      k-means, sized to an expected cluster width of 256 by the same
      log2 rule as f13;
    - the representative is the cluster's MIN-vec_id member instead of
      the floating-point centroid (a cross-member mean aggregates in
      engine-chosen order — fp-nondeterministic across engines; the
      arg-min is exact, and the k-means+centroid variant remains f28).

    Keep rule: the prototype always survives; any other member survives
    iff its rounded cosine to the prototype is < 0.3 (f13's synthetic
    near-dup threshold). Work is LINEAR in the corpus: one map pass to
    tag, a map-side-combinable arg-min per cluster (n/256 rows), one
    equi-join on the cluster id (AQE broadcasts the prototype side at
    test SF; at 100 TB, n/256 prototypes * 64 dims can exceed broadcast
    - the join then shuffles BOTH sides on the bucket key, still one
    star comparison per member, never a pairwise expansion), and one
    codegen'd 64-dim dot per member (`_dot_unrolled` — bit-identical to
    the oracle's loop). The pairwise member (quadratic within buckets,
    split-capped) is f13; this operator is its linear complement: a
    corpus-shrinking PRUNE, not a pair report."""
    emb, k = _pinned_with_width(spark, sf_dir, 256)
    tagged = (
        emb.withColumn("bucket",
                       bucket_expr("f36", k, "emb").cast("long"))
        .select("vec_id", "emb", "nrm", "bucket")
    )
    proto = tagged.groupBy("bucket").agg(
        F.min("vec_id").alias("pid"),
        F.min_by("emb", "vec_id").alias("p_emb"),
        F.min_by("nrm", "vec_id").alias("p_nrm"),
    )
    cos = _dot_unrolled("emb", "p_emb") / (F.col("nrm") * F.col("p_nrm"))
    # Pin the RAW cosine before rounding: fround's total-safety branches
    # reference their operand ~5 times, and with the 300-node unrolled
    # dot inlined at each reference (CollapseProject re-merges any
    # intermediate select) the fused join stage blows janino's 64 KB
    # method limit and the whole stage falls back to interpretation —
    # the exact _dot_unrolled scope-discipline failure its docstring
    # warns about. Behind the pin the rounding references a plain
    # 8-byte column and the keep-filter stage codegens; the pinned
    # frame is 4 narrow columns, an order of magnitude smaller than
    # the tagged pin above.
    scored = tagged.join(proto, "bucket").select(
        "vec_id", "bucket", "pid", cos.alias("_cos"),
    ).localCheckpoint()
    return (
        scored.withColumn("centrality", fx.fround(F.col("_cos"), 6))
        .filter((F.col("vec_id") == F.col("pid"))
                | (F.col("centrality") < 0.3))
        .select("vec_id", "bucket", "centrality")
    )
