"""Engine expression helpers shared by the query library.

Cross-engine float policy (SURVEY.md §7.4 hard-point 1, extended):
``F.round`` (Spark, rounds the shortest-decimal representation via
BigDecimal) and DuckDB ``round`` (rounds the binary double) disagree on
half-boundary values (e.g. 1.005 @ 2dp → 1.01 vs 1.0). Aggregated doubles
additionally differ in the last ulp from summation order. The parity-safe
policy is: round with *pure IEEE double arithmetic* that both engines
execute identically — ``floor(x * 10^n + 0.5) / 10^n`` — and use the SQL
spelling of the exact same expression in the oracle.

Valid for |x|·10^n < 2^53 (exact double integers); inputs here are money
and ratio magnitudes, far below that.

Residual seam of the class, and the policy for it (r6): ``fround`` makes
the ROUNDING step bit-stable, but the SUM feeding it is still a double
accumulation whose order differs per engine — when the true sum sits
within an ulp of a .xx5 boundary, the two engines can round apart (hit
once, on b3, by the adversarial edge corpus). The full fix is exact
DECIMAL accumulation, demonstrated on b3 (see its docstring): 2-dp
money inputs make the products/sums exact, and one deterministic
decimal→double cast feeds fround. If a corpus trips a key, convert
that key the b3 way — the K=1000 probe did it for tpch_q1 (SCALE.md
§13): at ~600 M rows the accumulation-order drift grows past double's
precision floor (~2.6 absolute on a ~2e13 sum, BEYOND the 2-dp
quantum, no boundary coincidence needed).

Round 7 extended the conversion from "keys a probe tripped" to the
whole CLASS the q1 finding predicts (the full-battery K=1000 run
tripped tpch_q19 the same way — 0.06 drift on a 1.6e11 global sum —
and every sibling passes only by corpus luck): any money aggregate
whose per-GROUP row count grows with the data (global sums, sums over
a fixed group cardinality like nation/year/region) now accumulates in
decimal via :func:`dec`/:func:`sql_dec` on BOTH engines — tpch
q5/q6/q7/q8/q14/q17/q19 (q1/q9 already converted), the shared-text
keys q11/q22 (where drift in q11's global total also moves its HAVING
cutoff — a row-MEMBERSHIP instability, not just value drift), and
flagship/b2/b8. Keys whose money sums are per-entity with
bounded-per-key cardinality growth (q3 per order, q10 per customer,
q15 per supplier, b9 per customer) keep double+fround deliberately:
their per-group row counts do not grow with total data size at TPC-H
shape (customers scale WITH orders), the accumulated error stays
orders of magnitude under the quantum, and the deterministic edge
corpus proves none of them hit a boundary. At true ledger fidelity a
100 TB pipeline should carry DecimalType end-to-end from ingest (a
schema decision, not a per-query patch).

IEEE-specials scope (r6): NaN/±Inf are planted and guarded where they
occur in practice — metric doubles (events.value) and embedding
vectors. Money columns (prices, balances, revenue) carrying NaN is an
upstream ingest-quality failure (f33's class, caught at validation),
not a state the query layer guards per-expression; fround still
passes specials through rather than fabricating finite values if one
ever arrives.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def fround(col: Column | str, n: int) -> Column:
    """Half-up round to ``n`` decimals as a bit-stable double expression.

    IEEE specials pass through untouched (r6 edge finding): Spark's
    ``floor`` returns BIGINT with a saturating legacy cast, so under the
    production ansi=false session ``fround(NaN)`` silently became 0.0
    and ``fround(±Inf)`` became ±(2^63-1)/10^n, while DuckDB's FLOOR
    stays double and propagates. ``c - c == 0`` is the cheap totality
    probe: true for every finite value, false (or NULL) for NaN and
    ±Inf — one codegen'd branch, no extra casts.

    Large finite magnitudes take a second branch (r6 review finding:
    the specials branch alone still let |x|·10^n ≥ 2^63 saturate the
    BIGINT floor — manufacturing (2^63-1)/10^n out of 1e300 — or throw
    under ANSI). For |x|·10^n < 2^62 the long-typed floor is exact and
    bit-agrees with DuckDB's double FLOOR (doubles ≥ 2^52 are where
    they differ-by-parity BEFORE the floor, in the shared +0.5 add, so
    both engines see the same operand). At |x|·10^n ≥ 2^62 every
    double's ulp is ≥ 512: +0.5 is a provable no-op, the value is
    already integral, and DuckDB's FLOOR(x·s+0.5)/s reduces to
    (x·s)/s — which is the exact expression the branch computes, same
    two IEEE roundings, bit-identical."""
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**n)
    lim = float(2**62) / scale
    return (
        F.when(~(c - c == 0), c)  # NaN/±Inf (and NULL: when(NULL)→next)
        .when(F.abs(c) < F.lit(lim),
              F.floor(c * scale + F.lit(0.5)) / F.lit(scale))
        .otherwise((c * F.lit(scale)) / F.lit(scale))
    )


def sql_round(expr: str, n: int) -> str:
    """The oracle-side spelling of :func:`fround` (ANSI/DuckDB SQL).

    No guards needed: DuckDB's FLOOR is double→double and already
    propagates NaN/±Inf and survives any magnitude — the branches in
    :func:`fround` exist to make SPARK match this behavior."""
    scale = float(10**n)
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


def spark_sql_round(expr: str, n: int) -> str:
    """:func:`fround`'s guarded policy in Spark SQL TEXT — for keys
    written as Spark-only ``spark.sql(...)`` strings (c34). A raw
    ``FLOOR(x*s + 0.5)/s`` in Spark SQL has the same BIGINT-floor
    seams fround closed on the DataFrame side (NaN→0, ±Inf and
    |x|·10^n ≥ 2^63 → saturate); this emits the same three branches.

    The SHARED-text keys (c30/c31/q11/q22 — one SQL string serves both
    engines, including as the oracle) deliberately keep the raw FLOOR:
    the D-suffix double literals this helper needs don't parse in
    DuckDB, splitting the texts would reintroduce the copy-drift risk
    the shared form exists to prevent, and their inputs are money
    columns — in scope of the documented ingest-validation adjudication
    (module docstring: IEEE specials live in metric doubles; money
    carrying NaN is an upstream quality failure, f33's class).
    ``x - x = 0`` is false for NaN under Spark SQL's NaN semantics
    (NaN equals only NaN), NULL-safe (NULL falls through every WHEN to
    the NULL-propagating ELSE), and the D-suffixed literals keep the
    arithmetic DOUBLE — bare decimals in Spark SQL text are DECIMAL
    and would drag the whole expression into decimal math."""
    s = f"{float(10**n)!r}D"
    lim = f"{float(2**62) / 10**n!r}D"
    x = f"({expr})"
    return (
        f"CASE WHEN NOT ({x} - {x} = 0D) THEN {x} "
        f"WHEN ABS({x}) < {lim} THEN FLOOR({x} * {s} + 0.5D) / {s} "
        f"ELSE ({x} * {s}) / {s} END"
    )


def dec(col: Column | str, scale: int = 4, prec: int = 18) -> Column:
    """Per-row lossless decimal cast for exact money accumulation (the
    b3/q1/q9 posture, applied class-wide in r7 — module docstring).

    Money inputs are 2-dp decimals stored as doubles; a product like
    ``l_extendedprice * (1 - l_discount)`` is a true 4-dp decimal whose
    double evaluation sits within ~2e-11 of it — six orders of
    magnitude inside the half-quantum (5e-5) — so ``CAST(x AS
    DECIMAL(18,4))`` recovers the exact 4-dp value in BOTH engines
    regardless of their half-rounding mode, and the SUM becomes exact
    decimal addition: order-independent, shuffle-plan-independent,
    identical across engines at any scale. Spark widens the sum buffer
    to DECIMAL(p+10, s) = 1e24 capacity at the default — ~1e7× past a
    100 TB global money sum. Cast the sum back to double before
    :func:`fround` (callers do), keeping output schemas unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def sql_dec(expr: str, scale: int = 4, prec: int = 18) -> str:
    """The oracle-side (and shared-text) spelling of :func:`dec` —
    identical semantics in DuckDB and Spark SQL; DuckDB sums
    DECIMAL(18,s) in a HUGEINT-backed DECIMAL(38,s), also exact."""
    return f"CAST(({expr}) AS DECIMAL({prec},{scale}))"


# --------------------------------------------------- hashed result digest
# r8 (verdict ask 6): the in-engine hashed compare that value-verified
# q18's 15 M-row result at K=1000 without moving a row to the driver
# (SCALE.md §13c), promoted from the stress harness into the engine.
# Both engines reduce a result to (COUNT(*), SUM(md5-56bit(canonical
# row))): floats are integerized at their own rounding quantum (exact
# while |x|·scale < 2^53), every other type renders through CAST-to-
# string spellings the engines share, NULLs are marked so they can't
# collapse onto another row's string, and the 56-bit md5 prefix sums
# exactly in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB). Validated exact
# on five shape classes (mixed 2/4-dp floats, 15 M rows, string+count,
# float+date, date+revenue) against the driver compare
# (tests/test_hashed_digest.py). This is f33's data-quality posture
# applied to verification: the check ships WITH the data, at any scale.


def column_quanta(oracle_sql: str) -> dict[str, float]:
    """Per-column rounding quantum inferred from a key's own oracle
    SQL: every fround'ed output is spelled ``FLOOR((expr) * 10^n +
    0.5) / 10^n AS alias`` (:func:`sql_round`), so the divisor right
    before the alias IS the column's quantum scale. Columns without
    the pattern (raw reads, integral sums) get no entry and fall back
    to :func:`hashed_row_sql`'s 1e-6 — their values are not
    engine-computed roundings, so no drift allowance is owed.

    The match is anchored to the FULL :func:`sql_round` spelling — the
    ``+ 0.5)`` half-up add must immediately precede the divisor (r8
    ADVICE): a bare ``SUM(x) / 4 AS quarter_avg`` is ordinary
    arithmetic, not a rounding, and treating its divisor as a quantum
    would silently coarsen the digest's sensitivity for that column
    (symmetric on both engines, so it weakens rather than
    false-mismatches — but weaker is still wrong)."""
    import re

    quanta: dict[str, float] = {}
    for m in re.finditer(
            r"\+\s*0\.5\s*\)\s*/\s*(\d+(?:\.\d+)?)\s*"
            r"(?:AS\s+DOUBLE\s*\))?\s*AS\s+(\w+)",
            oracle_sql, re.IGNORECASE):
        quanta[m.group(2).lower()] = 1.0 / float(m.group(1))
    return quanta


def hashed_row_sql(schema, quanta: dict[str, float] | None = None) -> str:
    """Canonical row-string SQL over a result schema, valid VERBATIM in
    both Spark SQL and DuckDB: columns sorted by name (the driver-
    compare convention), float columns integerized at their quantum,
    everything else CAST to a string both engines spell identically
    (integers, ISO date strings, plain strings), each part null-marked.
    ``quanta`` maps lower-cased column name → rounding quantum (e.g.
    0.01 for a 2-dp money column); pass :func:`column_quanta` of the
    key's oracle, or omit for the 1e-6 default."""
    quanta = quanta or {}
    parts = []
    for f in sorted(schema.fields, key=lambda fld: fld.name):
        t = f.dataType.simpleString()
        if t in ("double", "float"):
            scale = int(round(1.0 / quanta.get(f.name.lower(), 1e-6)))
            expr = f"cast(floor({f.name} * {scale} + 0.5) as bigint)"
        else:
            expr = f.name
        parts.append(f"coalesce(cast({expr} as string), '__null__')")
    return "concat_ws('|', " + ", ".join(parts) + ")"


def hashed_result_digest(df, quanta: dict[str, float] | None = None,
                         ) -> tuple[int, int | None]:
    """Spark-side digest of a result DataFrame: ``(row_count,
    order-insensitive 56-bit-md5 sum)`` computed entirely in-engine —
    the result never reaches the driver, so a 15 M-row verification
    costs one aggregate, not a collect. Compare against
    :func:`sql_hashed_digest` run on the oracle side."""
    row = hashed_row_sql(df.schema, quanta)
    import uuid

    view = f"_graft_digest_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    try:
        got = df.sparkSession.sql(
            "SELECT COUNT(*) AS n, "
            f"SUM(CAST(conv(substr(md5({row}), 1, 14), 16, 10) "
            f"AS DECIMAL(38,0))) AS h FROM {view}"
        ).collect()[0]
    finally:
        df.sparkSession.catalog.dropTempView(view)
    return int(got["n"]), (None if got["h"] is None else int(got["h"]))


def sql_hashed_digest(inner_sql: str, row_sql: str) -> str:
    """The DuckDB spelling of the same digest over ``inner_sql``'s
    result: returns one row ``(n, h)`` comparable 1:1 with
    :func:`hashed_result_digest` (56-bit md5 prefix summed in HUGEINT —
    exact, like Spark's DECIMAL(38,0))."""
    return (
        "SELECT COUNT(*) AS n, "
        f"SUM((('0x' || substring(md5({row_sql}), 1, 14))::BIGINT)"
        "::HUGEINT) AS h "
        f"FROM ({inner_sql}) _graft_digest"
    )


def nsize(col: Column) -> Column:
    """``size()`` with NULL-in → NULL-out under EITHER ANSI setting.

    Spark's legacy (``spark.sql.ansi.enabled=false`` — the posture
    session.py pins) defines ``size(NULL) = -1``; ANSI mode defines it
    as NULL. Every SQL oracle (and ANSI Spark) propagates NULL, so a
    query whose size() lands in the OUTPUT silently emits -1 token/array
    counts under the production session — and a -1 flows on into
    ratios (-1/-1 = 1.0) and prefix sums (r6 edge-corpus finding: seven
    keys diverged only under the production posture). A real array's
    size is always ≥ 0, so ``nullif(size(c), -1)`` is exactly
    null-propagation under legacy mode and a provable no-op under ANSI.
    Use this for any size() that reaches the output or output-bound
    arithmetic; bare ``F.size`` remains fine inside filters, where -1
    and NULL both fail the predicate.
    """
    return F.nullif(F.size(col), F.lit(-1))
