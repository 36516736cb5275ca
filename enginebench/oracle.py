"""Expected results from the DuckDB oracle, and the output check.

Each registry key with an oracle is answered once per corpus by DuckDB
over the same parquet the engine reads; every execution of the key is
then compared with that answer the way the contract drive compares:
same sorted column names, same row count, and the same order-insensitive
multiset of canonical rows (``scripts/canon.py``). Floating-point sums
may legitimately round apart by one quantum between the two engines, so
a row set that differs only there passes when every float column stays
within the rounding quantum its oracle declares (``fx.column_quanta``),
after aligning rows on the non-float columns.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from canon import canon, canon_rows
from nyc_taxi_data_engineering_project_spark import fx
from nyc_taxi_data_engineering_project_spark.catalog import TESTDATA_TABLES


def connect(corpus_dir: str, threads: int,
            extra: dict[str, list[str]] | None = None
            ) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table, over the
    table's parquet file or directory of part files plus its ``extra``
    part files (parts that have not landed in the corpus). Tables the
    corpus lacks get no view."""
    con = duckdb.connect(config={"threads": threads})
    for name in TESTDATA_TABLES:
        path = os.path.join(corpus_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        files = [os.path.join(path, "*.parquet") if os.path.isdir(path)
                 else path, *(extra or {}).get(name, [])]
        con.execute(f"CREATE VIEW {name} AS "
                    f"SELECT * FROM read_parquet({files!r})")
    return con


def expected(con, sql: str):
    return con.sql(sql).df()


def matches(got, want, sql: str) -> tuple[bool, str]:
    """Compare the engine's pandas result with the oracle's."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return False, f"columns {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} vs {len(want)}"
    if canon_rows(got[cols].itertuples(index=False)) == \
            canon_rows(want[cols].itertuples(index=False)):
        return True, ""
    floats = [c for c in cols if str(got[c].dtype).startswith("float")]
    keys = [c for c in cols if c not in floats]
    if not floats or (not keys and len(got) > 1):
        return False, "values differ"
    g = got.sort_values(keys).reset_index(drop=True) if keys else got
    w = want.sort_values(keys).reset_index(drop=True) if keys else want
    if keys and (g.duplicated(subset=keys).any() or [
            tuple(map(canon, r)) for r in g[keys].itertuples(index=False)
    ] != [tuple(map(canon, r)) for r in w[keys].itertuples(index=False)]):
        return False, "values differ"
    quanta = fx.column_quanta(sql)
    for c in floats:
        tol = quanta.get(c.lower(), 1e-6) * 1.0000001
        diff = (g[c].astype(float) - w[c].astype(float)).abs()
        both_null = g[c].isna() & w[c].isna()
        if ((diff > tol) & ~both_null).any() or \
                (g[c].isna() != w[c].isna()).any():
            return False, f"column {c} drifts beyond {tol:g}"
    return True, "within rounding quantum"


def row_digest(df) -> tuple | None:
    """An order-insensitive digest of a result's rows: equal digests mean
    the same multiset of rows under the same column names. None where a
    column holds values pandas cannot hash (arrays, maps)."""
    cols = sorted(df.columns)
    try:
        rows = pd.util.hash_pandas_object(df[cols], index=False)
    except TypeError:
        return None
    return tuple(cols), len(df), int(rows.to_numpy().sum(dtype=np.uint64))
