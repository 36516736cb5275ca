"""Results stamped with different core counts are never compared."""

import json

import compare


def _result(nproc, mix):
    return {"stamp": {"nproc": nproc, "spark_graft_cpus": nproc,
                      "spark": "4.1.2", "java": "17", "python": "3.11"},
            "workload": "board_sf01",
            "result": {"metrics": {"mix_s": {"value": mix, "unit": "s"}}}}


def test_refuses_different_core_counts(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_result(4, 10.0)))
    b.write_text(json.dumps(_result(32, 5.0)))
    assert compare.main([str(a), str(b)]) == 2
    assert "nproc differs" in capsys.readouterr().err


def test_compares_same_core_counts(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_result(4, 10.0)))
    b.write_text(json.dumps(_result(4, 5.0)))
    assert compare.main([str(a), str(b)]) == 0
    assert compare.rows(_result(4, 10.0), _result(4, 5.0)) == [
        ("mix_s", 10.0, 5.0, 0.5)]
