"""Unit gates for the scale-harness comparison logic: the per-column
quanta, the Spark-vs-DuckDB comparator the TPC-H battery
(scripts/stress_tpch.py) calls (``enginebench/oracle.matches``) and
the hashed-compare derivation, pinned so future harness edits can't
silently weaken the verification bar.

Pure-function tests: no SparkSession, no DuckDB connection.
"""

from __future__ import annotations

import pandas as pd
import pytest

import stress_tpch as st
from enginebench import oracle
from nyc_taxi_data_engineering_project_spark import fx


def _status(got, want, sql: str) -> tuple[str, str]:
    """oracle.matches mapped onto the statuses stress_tpch writes."""
    ok, note = oracle.matches(got, want, sql)
    return ("quantum" if note else "exact") if ok else "MISMATCH", note


# ------------------------------------------------ per-column quanta

def test_column_quanta_parses_fround_scales():
    sql = """
    SELECT g,
           FLOOR(SUM(x) * 100.0 + 0.5) / 100.0 AS revenue,
           FLOOR(AVG(y) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           CAST(FLOOR(SUM(z) * 100.0 + 0.5) / 100.0 AS DOUBLE) AS tot,
           SUM(w) AS raw_sum,
           SUM(x) / 4 AS quarter_avg,
           CAST(octet_length(s) // 64 AS INTEGER) AS blocks
    FROM t GROUP BY 1
    """
    q = fx.column_quanta(sql)
    assert q["revenue"] == pytest.approx(0.01)
    assert q["avg_qty"] == pytest.approx(0.0001)
    assert q["tot"] == pytest.approx(0.01)  # CAST(... AS DOUBLE) form
    assert "raw_sum" not in q  # unrounded columns fall back to canon 1e-6
    # ordinary divisions are NOT roundings — the match is
    # anchored to sql_round's `+ 0.5) /` spelling, so neither a literal
    # division nor an integer `//` may fabricate a coarse quantum
    assert "quarter_avg" not in q
    assert "blocks" not in q and "integer" not in q


# ------------------------------------------------ comparator alignment

def test_compare_exact_and_per_column_quantum():
    sql = "SELECT FLOOR(x * 100.0 + 0.5) / 100.0 AS v FROM t"
    a = pd.DataFrame({"k": ["a", "b"], "v": [1.00, 2.00]})
    assert _status(a, a.copy(), sql)[0] == "exact"
    # drift within the column's own 0.01 quantum -> 'quantum'
    b = pd.DataFrame({"k": ["a", "b"], "v": [1.01, 2.00]})
    assert _status(a, b, sql)[0] == "quantum"
    # beyond it -> MISMATCH
    c = pd.DataFrame({"k": ["a", "b"], "v": [1.02, 2.00]})
    assert _status(a, c, sql)[0] == "MISMATCH"


def test_compare_4dp_column_no_longer_gets_2dp_slack():
    """A 4-dp output drifting 0.01 must fail: each column gets its
    own quantum, not the coarsest one in the query."""
    sql = "SELECT FLOOR(x * 10000.0 + 0.5) / 10000.0 AS v FROM t"
    a = pd.DataFrame({"k": ["a"], "v": [1.0000]})
    b = pd.DataFrame({"k": ["a"], "v": [1.0099]})
    status, note = _status(a, b, sql)
    assert status == "MISMATCH", note
    # but one 4-dp quantum passes
    c = pd.DataFrame({"k": ["a"], "v": [1.0001]})
    assert _status(a, c, sql)[0] == "quantum"


def test_compare_refuses_duplicate_key_tuples():
    sql = "SELECT FLOOR(x * 100.0 + 0.5) / 100.0 AS v FROM t"
    a = pd.DataFrame({"k": ["a", "a"], "v": [1.0, 2.0]})
    b = pd.DataFrame({"k": ["a", "a"], "v": [2.005, 1.005]})
    ok, note = oracle.matches(a, b, sql)
    assert not ok, note


def test_compare_refuses_all_float_frames():
    a = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    b = pd.DataFrame({"x": [1.005, 2.0], "y": [3.0, 4.005]})
    ok, note = oracle.matches(a, b, "")
    assert not ok, note


# ------------------------------------------------ auto_hashed_row

def test_auto_hashed_row_derivation():
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("name", StringType()),
        StructField("revenue", DoubleType()),
        StructField("n", LongType()),
    ])
    oracle = "SELECT FLOOR(x * 100.0 + 0.5) / 100.0 AS revenue FROM t"
    expr = st.auto_hashed_row(schema, oracle)
    # columns sorted by name; float integerized at its own scale;
    # every part null-marked
    assert (expr.index("cast(n as string)")
            < expr.index("cast(name as string)")
            < expr.index("floor(revenue"))
    assert "floor(revenue * 100 + 0.5)" in expr
    assert expr.count("coalesce(") == 3 and "__null__" in expr
    # unrounded floats get the canon 1e-6 scale
    expr2 = st.auto_hashed_row(schema, "")
    assert "floor(revenue * 1000000 + 0.5)" in expr2


# --------------------------------------- LLM pipeline battery

def test_llm_pipeline_battery_contract():
    """The end-to-end pipeline battery exists,
    chains the six production stages, and pins its eval suite to the
    fixed replica-0 slice (a corpus-growing eval set blankets the
    synthetic vocabulary at tier — measured 99.7% dropped on the first
    K=316 run — and a REAL eval suite is fixed-size by nature)."""
    import os as _os

    src_path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts", "stress_llm_pipeline.py")
    with open(src_path) as fh:
        src = fh.read()
    for s in ["s1_exact_keep_best", "s2_near_dedup", "s3_boilerplate",
              "s4_passage_dedup", "s5_decontaminate",
              "s6_training_order"]:
        assert s in src, s
    # fixed eval suite + the productized Bloom lifecycle as the twin
    assert 'F.col("doc_id") < SHIFT' in src
    assert "build_bloom_filter" in src and "bloom_probe" in src


def _load_pipeline_artifact(k: int) -> dict:
    import json as _json
    import os as _os

    art = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts", "stress100_results", f"llm_pipeline_K{k}.json")
    with open(art) as fh:
        return _json.load(fh)


@pytest.mark.parametrize("k", [316, 1000])
def test_llm_pipeline_k_tier_artifacts_green(k):
    """The K-tier batteries completed with every tier value check
    green: planted-family recall >= 0.9 (the banding-recall gate),
    cluster-cover exact, exact-dedup survivors == the DuckDB twin,
    decontamination recall 1.0 with zero Bloom one-sided violations,
    and the final order an exact DuckDB-matched permutation."""
    a = _load_pipeline_artifact(k)
    assert a["all_checks_ok"] is True
    c = a["checks"]
    assert c["s1"]["survivors_match_oracle"] is True
    assert c["s1"]["keep_best_rule_violations"] == 0
    assert c["s2"]["planted_recall"] >= 0.9
    assert c["s2"]["cover_complete"] and c["s2"]["one_keep_per_cluster"]
    assert c["s4"]["global_uniqueness"] is True
    assert c["s5"]["decon_recall"] == 1.0
    assert c["s5"]["bloom_one_sided_violations"] == 0
    assert c["s6"]["is_permutation"] and \
        c["s6"]["duckdb_ord_mismatches"] == 0
    # every stage carries the metric triple (+ python worker column)
    for name, st_row in a["stages"].items():
        for col in ("task_cpu_s", "shuffle_bytes", "python_worker_s"):
            assert col in st_row, (name, col)
