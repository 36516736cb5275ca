"""Seeded inputs: the same seed repeats, a held-out seed gives different
inputs of the same size."""

import pyarrow as pa

import gen

SMALL = ("region", "nation", "customer", "orders")


def _same_shape(a: pa.Table, b: pa.Table) -> bool:
    return a.schema == b.schema and a.num_rows == b.num_rows


def test_corpus_repeats_per_seed_and_differs_across_seeds():
    a, b = gen.corpus(1, tables=SMALL), gen.corpus(1, tables=SMALL)
    c = gen.corpus(2, tables=SMALL)
    assert sorted(a) == sorted(SMALL)
    for name in SMALL:
        assert a[name].equals(b[name])
        assert _same_shape(a[name], c[name])
    assert not a["orders"].equals(c["orders"])
    assert not a["customer"].equals(c["customer"])


def test_replicas_shift_keys_and_keep_joins_inside_a_replica():
    t = gen.corpus(3, replicas=2, tables=("customer", "orders"))
    cust = t["customer"]["c_custkey"].to_pylist()
    assert len(cust) == 2 * gen.N_CUSTOMER
    assert cust[gen.N_CUSTOMER] == gen.KEY_SHIFT
    orders = t["orders"].to_pydict()
    for ok, ck in zip(orders["o_orderkey"], orders["o_custkey"]):
        assert ok // gen.KEY_SHIFT == ck // gen.KEY_SHIFT
    # a table's rows do not depend on which other tables are drawn
    alone = gen.corpus(3, replicas=2, tables=("orders",))
    assert alone["orders"].equals(t["orders"])


def test_month_slice_and_trip_file():
    m1, m1b = gen.month_slice(1, 0, 100), gen.month_slice(1, 0, 100)
    m2 = gen.month_slice(2, 0, 100)
    assert m1["orders"].equals(m1b["orders"])
    assert _same_shape(m1["orders"], m2["orders"])
    assert not m1["orders"].equals(m2["orders"])
    assert set(m1["lineitem"]["l_orderkey"].to_pylist()) == set(
        m1["orders"]["o_orderkey"].to_pylist())
    trips, kept = gen.trip_file(1, 0, 2000)
    again, kept_again = gen.trip_file(1, 0, 2000)
    other, _ = gen.trip_file(2, 0, 2000)
    assert trips.equals(again) and kept == kept_again
    assert _same_shape(trips, other) and not trips.equals(other)
    assert 0.9 * 2000 < kept < 2000
