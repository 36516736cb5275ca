"""Seeded input generators.

Every input the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical tables, another seed gives different
rows of the same shape and size.

* :func:`corpus` — the ten-table corpus the registry keys read (TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  column types of ``TESTDATA_TYPES.json`` and the value distributions of
  the sf0.1 test corpus (uniform keys and measures, the same category
  vocabularies, 5 % near-duplicate documents, unit-norm embeddings).
  ``replicas=K`` stacks K independently drawn copies whose keys are
  shifted by ``i * KEY_SHIFT`` in every keyed table, primary and foreign
  alike, so joins stay inside a replica while ``nation``/``region`` stay
  fixed.
* :func:`month_slice` — one month of new orders and their line items,
  keyed after the base corpus, for the monthly pipeline.
* :func:`trip_file` — one month of green-taxi-shaped trips with messy
  column spellings, two candidate spellings of one contract column and
  some unparseable pickup timestamps.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes: cached corpora are keyed on it.
GEN_VERSION = 3

KEY_SHIFT = 100_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAG = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

# per-replica row counts of the sf0.1 test corpus
N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM = 150_000, 600_000
N_EVENTS, N_DOCS, N_VECS = 100_000, 5_000, 2_000
DIM = 64

EPOCH = dt.datetime(1970, 1, 1)
ORDER_FIRST = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405            # 1995-01-01 .. 2001-08-01
SHIP_FIRST = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499             # 1995-01-02 .. 2001-11-04
EVENTS_FIRST = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400
DAY_US = 86_400 * 1_000_000

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
TPCH_TABLES = TABLES[:7]


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k % KEY_SHIFT:09d}" for k in keys.tolist()])


def _dims() -> dict[str, pa.Table]:
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }


def _orders(rng, keys: np.ndarray, cust_base: int, first_us: int,
            days: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust_base + rng.integers(0, N_CUSTOMER, n),
                              pa.int64()),
        "o_orderstatus": _pick(rng, STATUS, n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(first_us + rng.integers(0, days, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITY, n),
    })


def _lineitem(rng, order_keys: np.ndarray, n: int, base: int,
              ship_us: np.ndarray) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(order_keys, pa.int64()),
        "l_partkey": pa.array(base + rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(base + rng.integers(0, N_SUPPLIER, n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, RETURNFLAG, n),
        "l_linestatus": _pick(rng, LINESTATUS, n),
        "l_shipdate": _ts(ship_us),
    })


def _customer(rng, base: int) -> pa.Table:
    ck = base + np.arange(N_CUSTOMER)
    return pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })


def _supplier(rng, base: int) -> pa.Table:
    sk = base + np.arange(N_SUPPLIER)
    return pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })


def _part(rng, base: int) -> pa.Table:
    adj = rng.integers(0, len(P_ADJ), N_PART)
    noun = rng.integers(0, len(P_NOUN), N_PART)
    return pa.table({
        "p_partkey": pa.array(base + np.arange(N_PART), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}"
                   for a, b in zip(adj.tolist(), noun.tolist())],
        "p_brand": _pick(rng, [f"Brand#{b}" for b in range(1, 26)], N_PART),
        "p_type": _pick(rng, P_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000)
                                  / 10.0, 2),
    })


def _base_orders(rng, base: int) -> pa.Table:
    return _orders(rng, base + np.arange(N_ORDERS), base, _us(ORDER_FIRST),
                   ORDER_DAYS)


def _base_lineitem(rng, base: int) -> pa.Table:
    return _lineitem(
        rng, base + rng.integers(0, N_ORDERS, N_LINEITEM), N_LINEITEM, base,
        _us(SHIP_FIRST) + rng.integers(0, SHIP_DAYS, N_LINEITEM) * DAY_US)


def _events(rng, base: int) -> pa.Table:
    gaps = rng.exponential(1.0, N_EVENTS)
    offs = np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_S - 60)
    us = _us(EVENTS_FIRST) + (offs * 1e6).astype(np.int64)
    return pa.table({
        "event_id": pa.array(base + np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(us),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}'
                  for k in rng.integers(0, 100, N_EVENTS).tolist()],
    })


def _documents(rng, base: int) -> pa.Table:
    lens = rng.integers(10, 100, N_DOCS)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for n in lens.tolist():
        texts.append(" ".join(WORDS[w] for w in words[at:at + n].tolist()))
        at += n
    # 5 % near-duplicates: another document's text plus one marker word
    dup = rng.choice(N_DOCS, N_DOCS // 20, replace=False)
    src = rng.integers(0, N_DOCS, len(dup))
    for d, s in zip(dup.tolist(), src.tolist()):
        if d != s:
            texts[d] = texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(base + np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, base: int) -> pa.Table:
    v = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, N_VECS * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(base + np.arange(N_VECS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


_TABLE_GEN = {
    "customer": _customer, "supplier": _supplier, "part": _part,
    "orders": _base_orders, "lineitem": _base_lineitem, "events": _events,
    "documents": _documents, "embeddings": _embeddings,
}


def corpus(seed: int, replicas: int = 1,
           tables: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """``tables`` of the corpus, ``replicas`` key-shifted copies of the
    fact and entity tables over one fixed ``nation``/``region``. Every
    table of each replica draws from its own stream, so its rows do not
    depend on which other tables are asked for."""
    out = {k: v for k, v in _dims().items() if k in tables}
    for name in TABLES[2:]:
        if name in tables:
            out[name] = pa.concat_tables([_TABLE_GEN[name](
                np.random.default_rng(
                    [GEN_VERSION, seed, 0, i, TABLES.index(name)]),
                i * KEY_SHIFT) for i in range(replicas)])
    return out


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file the way the test corpus is written (no
    embedded Arrow schema, microsecond timestamps); returns its bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, version="2.6", coerce_timestamps=None,
                   store_schema=False)
    return os.path.getsize(path)


def write_corpus(tables: dict[str, pa.Table], out_dir: str,
                 month_split: tuple[str, ...] = ()) -> None:
    """``<out_dir>/<name>.parquet`` per table. Tables named in
    ``month_split`` become a directory of one part file per order month
    (line items follow their order), the layout an append-only monthly
    ingest leaves behind."""
    os.makedirs(out_dir, exist_ok=True)
    month_of = None
    if month_split:
        orders = tables["orders"]
        month_of = dict(zip(
            orders["o_orderkey"].to_pylist(),
            _month_keys(orders["o_orderdate"])))
    for name, t in tables.items():
        if name not in month_split:
            write_table(t, os.path.join(out_dir, f"{name}.parquet"))
            continue
        key = "o_orderkey" if name == "orders" else "l_orderkey"
        months = np.array([month_of[k] for k in t[key].to_pylist()])
        for m in np.unique(months).tolist():
            write_table(t.filter(pa.array(months == m)),
                        os.path.join(out_dir, f"{name}.parquet",
                                     f"part-{m}.parquet"))


def _month_keys(col: pa.ChunkedArray) -> list[str]:
    us = col.cast(pa.int64()).to_numpy()
    return np.datetime_as_string(us.astype("datetime64[us]"),
                                 unit="M").tolist()


def month_start(index: int) -> dt.datetime:
    """First day of the ``index``-th month after the corpus's last order
    month (index 0 = 2001-09)."""
    y, m = divmod(2001 * 12 + 8 + index, 12)
    return dt.datetime(y, m + 1, 1)


def month_slice(seed: int, index: int, orders: int,
                replicas: int = 1) -> dict[str, pa.Table]:
    """Orders placed in month ``index`` (see :func:`month_start`) with
    their line items. Order keys continue after the base corpus's keys of
    replica 0; customers, parts and suppliers are existing ones, so every
    join of the star schema keeps matching."""
    rng = np.random.default_rng([GEN_VERSION, seed, 1, index])
    first = month_start(index)
    days = (month_start(index + 1) - first).days
    keys = N_ORDERS + index * orders + np.arange(orders)
    o = _orders(rng, keys, 0, _us(first), days)
    # 1..7 line items per order, shipped 1..120 days after the order
    per = rng.integers(1, 8, orders)
    lk = np.repeat(keys, per)
    odate = np.repeat(o["o_orderdate"].cast(pa.int64()).to_numpy(), per)
    li = _lineitem(rng, lk, len(lk), 0,
                   odate + rng.integers(1, 121, len(lk)) * DAY_US)
    return {"orders": o, "lineitem": li}


def trip_file(seed: int, index: int, rows: int) -> tuple[pa.Table, int]:
    """One month of green-taxi-shaped trips for month ``index``. Returns
    ``(table, kept)`` where ``kept`` is the number of rows whose pickup
    time parses — the rows conformance keeps.

    The spellings are the messy ones the conform layer resolves:
    ``VENDORID``, ``Lpep_Pickup_Datetime``, ``RateCodeID`` and both
    ``PULocationID`` and ``pu_location_id`` (the earlier candidate wins).
    About 2 % of pickup times are unparseable strings."""
    rng = np.random.default_rng([GEN_VERSION, seed, 2, index])
    first = _us(month_start(index))
    span = (month_start(index + 1) - month_start(index)).days * DAY_US
    pick = first + rng.integers(0, span - 3_600_000_000, rows)
    drop = pick + rng.integers(60, 3_600, rows) * 1_000_000
    pick_s = np.datetime_as_string(pick.astype("datetime64[us]"),
                                   unit="s").astype(object)
    pick_s = np.char.replace(pick_s.astype(str), "T", " ").astype(object)
    bad = rng.random(rows) < 0.02
    pick_s[bad] = np.array(["n/a", "2024-13-45 25:61:00", ""],
                           dtype=object)[rng.integers(0, 3, int(bad.sum()))]
    fare = _money(rng, 2.5, 80.0, rows)
    tip = _money(rng, 0.0, 15.0, rows)
    loc = rng.integers(1, 266, rows)
    table = pa.table({
        "VENDORID": pa.array(rng.integers(1, 3, rows), pa.int64()),
        "Lpep_Pickup_Datetime": pa.array(pick_s.tolist(), pa.string()),
        "lpep_dropoff_datetime": _ts(drop),
        "store_and_fwd_flag": _pick(rng, ["N", "Y"], rows, p=[0.97, 0.03]),
        "RateCodeID": pa.array(rng.integers(1, 7, rows), pa.float64()),
        "PULocationID": pa.array(loc, pa.int64()),
        "pu_location_id": pa.array((loc + 7) % 265 + 1, pa.int64()),
        "DOLocationID": pa.array(rng.integers(1, 266, rows), pa.int64()),
        "passenger_count": pa.array(rng.integers(1, 7, rows), pa.float64()),
        "trip_distance": np.round(rng.exponential(3.0, rows), 2),
        "fare_amount": fare,
        "extra": _money(rng, 0.0, 2.5, rows),
        "mta_tax": np.full(rows, 0.5),
        "tip_amount": tip,
        "tolls_amount": np.zeros(rows),
        "improvement_surcharge": np.full(rows, 0.3),
        "total_amount": np.round(fare + tip + 0.8, 2),
        "payment_type": pa.array(rng.integers(1, 5, rows), pa.int64()),
        "trip_type": pa.array(rng.integers(1, 3, rows), pa.float64()),
        "congestion_surcharge": np.full(rows, 2.75),
    })
    return table, int(rows - bad.sum())
