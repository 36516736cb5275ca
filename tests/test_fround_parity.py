"""Cross-engine parity of the rounding policy every oracle rests on.

``fx.fround`` (Spark) and ``fx.sql_round`` (DuckDB spelling) claim to be
the SAME pure-IEEE expression — ``floor(x*10^n + 0.5)/10^n`` — and the
whole value-hash gate assumes the two engines evaluate it bit-identically.
This test feeds both engines one batch of adversarial doubles (decimal
half-boundaries like 1.005 that F.round/ROUND famously disagree on, exact
binary fractions, negatives, magnitude extremes) plus 20k seeded uniform
values, at every scale the query library uses (2/4/6 dp), and requires
BITWISE equality of the results."""

from __future__ import annotations

import math
import random
import struct

import pandas as pd

from nyc_taxi_data_engineering_project_spark import fx

_ADVERSARIAL = [
    0.0, -0.0, 1.005, -1.005, 2.675, -2.675, 0.125, -0.125, 0.5, -0.5,
    0.0005, -0.0005, 0.00005, -0.00005, 1e-12, -1e-12,
    123456.789012, -123456.789012, 9999.99995, -9999.99995,
    1.0 / 3.0, -1.0 / 3.0, math.pi, -math.pi, 2**31 / 100.0,
    # IEEE specials (r6): Spark's floor is a BIGINT with a saturating
    # legacy cast — fround(NaN) was 0.0 and fround(±Inf) was
    # ±(2^63-1)/10^n until the pass-through branch; DuckDB FLOOR
    # propagates. Both engines must now propagate identically.
    float("nan"), float("inf"), float("-inf"),
    # large finite magnitudes (r6 review): the same saturating cast
    # fired for any |x|*10^n >= 2^63 — 1e17 at 2dp manufactured
    # 92233720368547758.07 — until the magnitude branch; the values
    # straddle the 2^62/scale branch point at every scale used
    1e17, -1e17, 1e300, -1e300, 4.5e15, -4.5e15, 4.7e15,
    2.0**62 / 100.0, 2.0**62 / 100.0 - 1.0, 2.0**62, 9e12, -9e12,
    6e11, 7e13, 1e16, -1e16,
]


def _values():
    rng = random.Random(7)
    vals = list(_ADVERSARIAL)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(20000)]
    vals += [rng.uniform(-1.0, 1.0) for _ in range(5000)]
    return vals


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def test_fround_bitwise_parity_spark_vs_duckdb(spark, oracle_con):
    vals = _values()
    pdf = pd.DataFrame({"i": range(len(vals)), "x": vals})
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(
            "i",
            fx.fround("x", 2).alias("r2"),
            fx.fround("x", 4).alias("r4"),
            fx.fround("x", 6).alias("r6"),
        )
        .toPandas()
        .sort_values("i")
        .reset_index(drop=True)
    )
    oracle_con.register("fround_vals", pdf)
    want = oracle_con.sql(
        f"""
        SELECT i, {fx.sql_round('x', 2)} AS r2,
               {fx.sql_round('x', 4)} AS r4,
               {fx.sql_round('x', 6)} AS r6
        FROM fround_vals ORDER BY i
        """
    ).df()
    for col in ("r2", "r4", "r6"):
        mism = [
            (i, g, w)
            for i, (g, w) in enumerate(zip(got[col], want[col]))
            # NaN compares by class, not payload: the dataframe bridges
            # (pandas→Spark, pandas→DuckDB) may canonicalize or nullify
            # NaN differently, and null/NaN unification is already the
            # documented canon policy — bit-compare the rest
            if not (math.isnan(float(g)) and math.isnan(float(w)))
            and _bits(float(g)) != _bits(float(w))
        ]
        assert not mism, (
            f"{col}: {len(mism)} bitwise mismatches; first 3: {mism[:3]}"
        )
