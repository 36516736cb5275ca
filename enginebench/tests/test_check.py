"""The output check: a right answer passes, a deliberately wrong
expected answer is reported as a failure."""

import pandas as pd

import oracle
import workloads

SQL = ("SELECT k, FLOOR((SUM(x)) * 100 + 0.5) / 100 AS total "
       "FROM t GROUP BY k")


def _frame(totals, keys=("a", "b", "c")):
    return pd.DataFrame({"k": list(keys), "total": totals})


def test_matches_same_rows_in_any_order():
    got = _frame([1.25, 2.5, 3.0])
    want = got.iloc[::-1].reset_index(drop=True)
    assert oracle.matches(got, want, SQL) == (True, "")


def test_matches_allows_one_rounding_quantum():
    ok, note = oracle.matches(_frame([1.25, 2.5, 3.0]),
                              _frame([1.26, 2.5, 3.0]), SQL)
    assert ok and "quantum" in note


def test_matches_rejects_wrong_answers():
    got = _frame([1.25, 2.5, 3.0])
    assert not oracle.matches(got, _frame([1.35, 2.5, 3.0]), SQL)[0]
    assert not oracle.matches(got, _frame([1.25, 2.5]
                                          , keys=("a", "b")), SQL)[0]
    assert not oracle.matches(got, _frame([1.25, 2.5, 3.0],
                                          keys=("a", "b", "d")), SQL)[0]
    assert not oracle.matches(got, got.rename(columns={"total": "t"}),
                              SQL)[0]


def _harness(tmp_path):
    return workloads.Harness(str(tmp_path), seed=1, seconds=1.0,
                             traced=False)


def test_check_counts_a_wrong_expected_result_as_failed(tmp_path,
                                                       monkeypatch):
    from nyc_taxi_data_engineering_project_spark import registry

    monkeypatch.setitem(registry.ORACLES, "bench_test_key", SQL)
    h = _harness(tmp_path)
    got = _frame([1.25, 2.5, 3.0])
    h.check("bench_test_key", got, None, {"bench_test_key": got.copy()})
    assert (h.attempted, h.failures) == (1, [])
    wrong = _frame([9.0, 2.5, 3.0])
    h.check("bench_test_key", got, None, {"bench_test_key": wrong})
    assert h.attempted == 2 and len(h.failures) == 1
    assert "mismatch" in h.failures[0]
    # an engine error fails the op too
    h.check("bench_test_key", None, "AnalysisException: boom", {})
    assert h.attempted == 3 and len(h.failures) == 2


def test_rows_only_key_must_keep_its_row_count(tmp_path):
    h = _harness(tmp_path)
    h.check("rows_only", _frame([1.0, 2.0, 3.0]), None, {})
    h.check("rows_only", _frame([4.0, 5.0, 6.0]), None, {})
    assert h.failures == []
    h.check("rows_only", _frame([1.0], keys=("a",)), None, {})
    assert len(h.failures) == 1
    h.check("empty", _frame([], keys=()), None, {})
    assert len(h.failures) == 2 and h.attempted == 4


def test_repeated_answers_are_checked_by_row_digest(tmp_path, monkeypatch):
    from nyc_taxi_data_engineering_project_spark import registry

    monkeypatch.setitem(registry.ORACLES, "bench_test_key", SQL)
    h = _harness(tmp_path)
    got = _frame([1.25, 2.5, 3.0])
    expect = {"bench_test_key": got.copy()}
    assert oracle.row_digest(got) == oracle.row_digest(got.iloc[::-1])
    h.check("bench_test_key", got, None, expect)
    # same rows in another order: passes on the digest alone
    monkeypatch.setattr(oracle, "matches", lambda *a: (False, "compared"))
    h.check("bench_test_key", got.iloc[::-1], None, expect)
    assert h.failures == []
    # other rows are compared again, and fail here
    h.check("bench_test_key", _frame([9.0, 2.5, 3.0]), None, expect)
    assert h.failures == ["bench_test_key: mismatch: compared"]
