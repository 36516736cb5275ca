"""Input-bytes-derived initial shuffle-partition heuristic
(session.shuffle_partitions_for) — the SCALE.md §13b sizing rule as
engine code instead of harness-side arithmetic."""

from __future__ import annotations

import os

from nyc_taxi_data_engineering_project_spark.session import (
    _TARGET_PARTITION_BYTES, shuffle_partitions_for,
)


def test_core_count_floor_at_small_inputs():
    # sf0.1 tier (~17 MB) stays at the core-count floor
    assert shuffle_partitions_for(17_500_000, cpus=32) == 32
    assert shuffle_partitions_for(0, cpus=8) == 8


def test_scales_with_input_bytes():
    # the K=1000 shape: ~11 GB of parquet needs ~330 initial
    # partitions (the probe's empirically-required 320, SCALE.md §13b)
    n = shuffle_partitions_for(11_000_000_000, cpus=32)
    assert 300 <= n <= 360, n
    # exact contract: ceil(bytes / target), floored at cpus
    assert shuffle_partitions_for(_TARGET_PARTITION_BYTES * 100 + 1,
                                  cpus=4) == 101


def test_walks_directory_sizes(tmp_path):
    d = tmp_path / "data"
    (d / "t.parquet").mkdir(parents=True)
    (d / "t.parquet" / "part-0.parquet").write_bytes(
        b"x" * (2 * _TARGET_PARTITION_BYTES))
    (d / "t.parquet" / "part-1.parquet").write_bytes(
        b"x" * (3 * _TARGET_PARTITION_BYTES))
    # metadata/hidden files are not data
    (d / "t.parquet" / "_SUCCESS").write_bytes(b"x" * (10 << 20))
    (d / "t.parquet" / ".crc").write_bytes(b"x" * (10 << 20))
    assert shuffle_partitions_for(str(d), cpus=2) == 5
    assert os.path.isdir(str(d))


def test_aqe_skew_conf_scales_with_input(tmp_path):
    """r10: the AQE skew gate derives from the same byte walk — at
    stress scale (expected partition ≈ 32 MB of input) the threshold
    lands at 32 MB / advisory 16 MB, the setting the 60 M-row probe
    measured firing (SCALE.md §17); the 256 MB default never fired."""
    from nyc_taxi_data_engineering_project_spark.session import (
        aqe_skew_conf_for,
    )

    # 11 GB input, 32 cores → ~344 partitions of ~32 MB → 16/32 MB
    conf = aqe_skew_conf_for(11_000_000_000, cpus=32)
    adv = int(conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"])
    thr = int(conf[
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"])
    assert adv == 16 << 20 or abs(adv - (16 << 20)) < (1 << 20), adv
    assert thr == 2 * adv
    assert thr < 256 << 20  # the default that never fired

    # tiny test tier: floors keep AQE coalescing sane
    conf = aqe_skew_conf_for(17_500_000, cpus=32)
    assert int(conf[
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"]) == 8 << 20


def test_get_session_applies_skew_conf(spark, tmp_path, monkeypatch):
    """get_session(sf_dir=...) must hand the derived skew gates to the
    builder (pinned via the builder's config map, no new JVM session
    needed)."""
    from pyspark.sql import SparkSession

    from nyc_taxi_data_engineering_project_spark import session as S

    captured: dict[str, str] = {}
    real_config = SparkSession.Builder.config

    def spy(self, key=None, value=None, *a, **kw):
        if key is not None:
            captured[key] = str(value)
        return real_config(self, key, value, *a, **kw)

    monkeypatch.setattr(SparkSession.Builder, "config", spy)
    # getOrCreate on an EXISTING session applies the builder's runtime
    # confs to it — letting it run would leak a 2-partition shuffle
    # conf into every later test in the shared session. The assertion
    # target is what get_session HANDS the builder, so stub it out.
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate",
        lambda self: SparkSession.getActiveSession())
    d = tmp_path / "data"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * (64 << 20))
    S.get_session("skew-conf-spy", cpus=2, sf_dir=str(d))
    expect = S.aqe_skew_conf_for(str(d), cpus=2)
    for k, v in expect.items():
        assert captured.get(k) == v, (k, captured.get(k), v)


def test_driver_memory_floor_derivation():
    """r11 (verdict ask 3): local-mode heap floor = 2x on-disk input
    bytes clamped to [8g, 64g] — the rule distilled from the two r10
    hand-fixed OOMs (8g died at 11 GB input; 16-20g green there; 8g
    green through the whole board at <=1.1 GB)."""
    from nyc_taxi_data_engineering_project_spark.session import (
        driver_memory_for,
    )

    assert driver_memory_for(0) == "8g"
    assert driver_memory_for(1_100_000_000) == "8g"      # K=100 tier
    assert driver_memory_for(11 * (1 << 30)) == "22g"    # K=1000 tier
    assert driver_memory_for(10**15) == "64g"            # clamp


def test_get_session_memory_precedence(spark, tmp_path, monkeypatch):
    """env override > derived floor > 8g default — asserted via the
    builder spy (same recipe as the skew-conf test)."""
    from pyspark.sql import SparkSession

    from nyc_taxi_data_engineering_project_spark import session as S

    captured: dict[str, str] = {}
    real_config = SparkSession.Builder.config

    def spy(self, key=None, value=None, *a, **kw):
        if key is not None:
            captured[key] = str(value)
        return real_config(self, key, value, *a, **kw)

    monkeypatch.setattr(SparkSession.Builder, "config", spy)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate",
        lambda self: SparkSession.getActiveSession())
    d = tmp_path / "data"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * (64 << 20))

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    S.get_session("mem-spy", cpus=2)          # no sf_dir -> default
    assert captured["spark.driver.memory"] == "8g"

    captured.clear()
    S.get_session("mem-spy", cpus=2, sf_dir=str(d))
    assert captured["spark.driver.memory"] == S.driver_memory_for(str(d))

    captured.clear()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    S.get_session("mem-spy", cpus=2, sf_dir=str(d))
    assert captured["spark.driver.memory"] == "48g"


def test_single_walk_feeds_all_derived_settings(tmp_path, monkeypatch):
    """r10 ADVICE: get_session(sf_dir=...) walks the input tree ONCE
    (the walk is a driver-side stat pass over a potentially many-file
    100 TB tree) and feeds partitions + skew gate + heap from the one
    byte count."""
    from pyspark.sql import SparkSession

    from nyc_taxi_data_engineering_project_spark import session as S

    d = tmp_path / "data"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * (64 << 20))

    calls = []
    real = S._input_bytes

    def counting(data):
        if isinstance(data, str):
            calls.append(data)
        return real(data)

    monkeypatch.setattr(S, "_input_bytes", counting)
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate",
        lambda self: SparkSession.getActiveSession())
    S.get_session("walk-spy", cpus=2, sf_dir=str(d))
    assert calls == [str(d)], calls


def test_battery_posture_fresh_jvm_per_query():
    """r14 (verdict ask 4): the heap rule is per-query honest but was
    battery-dishonest — one JVM carrying all 23 K=1000 queries OOM'd
    q5 at the rule's 22 g and needed a hand-set 48 g (SCALE.md §23e).
    The adjudication: rather than inflate the rule with an
    accumulated-state fudge factor (which would also over-size real
    executors), the K-tier battery harness ENFORCES fresh-JVM-per-query
    — each key runs in its own subprocess at the rule's OWN number.
    Source-level pin of the contract."""
    import os as _os

    src_path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts", "stress_tpch.py")
    with open(src_path) as fh:
        src = fh.read()
    # the orchestrator exists, routes by default, and children get the
    # rule's number — not a hand-set constant
    assert "def battery_main" in src
    assert "SPARK_GRAFT_TPCH_ONE_JVM" in src
    assert "driver_memory_for(WORK)" in src
    import stress_tpch

    assert callable(stress_tpch.battery_main)


def test_k_tier_battery_completed_at_rules_own_number():
    """The other half of the ask: the K=1000 battery re-run COMPLETED
    under the enforced posture at the heap the rule itself derives
    (driver_memory_for over the ~11 GB corpus -> 22 g), not a manual
    48 g override — pinned against the recorded artifact."""
    import json as _json
    import os as _os

    from nyc_taxi_data_engineering_project_spark.session import (
        driver_memory_for,
    )

    art = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts", "stress100_results", "stress_tpch_K1000.json")
    with open(art) as fh:
        a = _json.load(fh)
    assert a["battery_posture"] == "fresh_jvm_per_query"
    assert a["bad"] == 0 and a["n_keys"] == 23
    # the recorded heap is the rule's own band for an ~11-12 GB
    # corpus (2x real on-disk bytes -> 22-24 g; the r13 run needed a
    # hand-set 48 g under the one-JVM posture) — never a manual bump
    rule_floor = int(driver_memory_for(1000 * (11 << 20)).rstrip("g"))
    got = int(a["per_query_heap"].rstrip("g"))
    assert rule_floor <= got <= rule_floor + 4, a["per_query_heap"]
    assert got < 48, "battery must not need the r13 hand-set heap"
