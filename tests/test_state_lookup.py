"""Pull-query point lookups on ParquetStateStore.

`lookup` computes the key's bucket with the pure-Python murmur3 port
(functions/murmur3.py) and reads that bucket's parquet files with
pyarrow. These tests hold the port to Spark's own ``hash``, and every
lookup to the full-scan answer ``read().filter(<key> == v)``, on the
layouts a store can take.
"""

from __future__ import annotations

import datetime
import decimal
import os
from functools import reduce

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from db_integration_via_kafka_ksql_spark.functions import murmur3
from db_integration_via_kafka_ksql_spark.streaming import swapdir
from db_integration_via_kafka_ksql_spark.streaming.state import ParquetStateStore

# ---------------------------------------------------------------------------
# the bucket function against F.pmod(F.hash(...), n)

_VALUES = {
    "long": st.integers(-(2**63), 2**63 - 1),
    "int": st.integers(-(2**31), 2**31 - 1),
    "short": st.integers(-(2**15), 2**15 - 1),
    "byte": st.integers(-(2**7), 2**7 - 1),
    "boolean": st.booleans(),
    "string": st.text(max_size=40),
    "date": st.dates(),
}
_INTERNAL = {"int": "integer"}  # DDL name -> DataType.typeName()
_SHAPES = [[t] for t in _VALUES] + [
    ["long", "string"],
    ["int", "boolean"],
    ["int", "string", "long"],
    ["string", "short", "byte"],
]


@st.composite
def _batches(draw):
    shape = draw(st.sampled_from(_SHAPES))
    nullable = len(shape) > 1
    row = st.tuples(
        *[st.none() | _VALUES[t] if nullable else _VALUES[t] for t in shape]
    )
    rows = draw(st.lists(row, min_size=1, max_size=16))
    return shape, rows, draw(st.integers(1, 64))


def _internal(v):
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    return v


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batch=_batches())
@example(batch=(["int"], [(-(2**31),), (2**31 - 1,), (0,), (-1,)], 16))
@example(batch=(["long"], [(-(2**63),), (2**63 - 1,), (0,), (-1,)], 16))
@example(batch=(["string"], [("",), ("a" * 37,), ("héllo wörld ✓",), ("ÿ\x00",)], 7))
@example(batch=(["int", "string", "long"], [(None, None, None), (1, None, 2), (None, "x", None)], 5))
def test_python_bucket_matches_spark_pmod_hash(spark, batch):
    shape, rows, n = batch
    names = [f"c{i}" for i in range(len(shape))]
    schema = ", ".join(f"{c} {t}" for c, t in zip(names, shape))
    df = spark.createDataFrame(rows, schema)
    # one Spark job per example
    got = [
        r[0]
        for r in df.select(F.pmod(F.hash(*names), F.lit(n))).collect()
    ]
    types = [_INTERNAL.get(t, t) for t in shape]
    want = [murmur3.bucket([_internal(v) for v in row], types, n) for row in rows]
    assert got == want, (shape, rows, n)


# ---------------------------------------------------------------------------
# lookup() == read().filter(<key> == v)


def _apply(spark, store, rows, schema):
    store.apply_batch(spark.createDataFrame(rows, schema))


def _assert_parity(store, **key):
    want = store.read().filter(
        reduce(lambda a, b: a & b, [F.col(k) == F.lit(v) for k, v in key.items()])
    )
    got = store.lookup(**key)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    return got.collect()


_MOVIES = "id long, title string, __deleted string, offset long"


def _movies(spark, tmp_path, n_buckets=8, n=120):
    store = ParquetStateStore(
        spark, str(tmp_path / "state"), key_cols=["id"], order_cols=["offset"],
        n_buckets=n_buckets,
    )
    _apply(spark, store, [(i, f"m{i}", "false", i) for i in range(1, n + 1)], _MOVIES)
    return store


def test_lookup_int_literal_probes_long_keyed_state(spark, tmp_path):
    store = _movies(spark, tmp_path)
    for key in (1, 42, 120, np.int32(77), 2**40, -5):
        _assert_parity(store, id=key)
    assert store.lookup(id=np.int32(77)).collect()[0]["title"] == "m77"
    # the literal casts to the stored type, as CAST('42' AS BIGINT) does
    assert store.lookup(id="42").collect()[0]["title"] == "m42"
    assert store.lookup(id=None).collect() == []


def test_lookup_string_and_composite_keys(spark, tmp_path):
    by_name = ParquetStateStore(
        spark, str(tmp_path / "s"), key_cols=["h"], order_cols=["offset"],
        n_buckets=8,
    )
    names = ["", "a", "abcd", "abcde", "héllo", "х" * 37, "✓✓"]
    _apply(
        spark, by_name,
        [(h, i, "false", i) for i, h in enumerate(names)],
        "h string, v long, __deleted string, offset long",
    )
    for h in names + ["absent"]:
        _assert_parity(by_name, h=h)
    assert by_name.lookup(h="abcde").collect()[0]["v"] == 3
    # the (band_id, band_key, doc_id) shape of the near-dup witness state
    bands = ParquetStateStore(
        spark, str(tmp_path / "b"), key_cols=["band_id", "band_key", "doc_id"],
        order_cols=["offset"], n_buckets=8,
    )
    rows = [
        (b, f"{(d * 7 + b) % 13:x}", d, "false", d * 10 + b)
        for b in range(4) for d in range(12)
    ]
    _apply(
        spark, bands, rows,
        "band_id int, band_key string, doc_id long, __deleted string, offset long",
    )
    for b, k, d, _, _ in rows[::5]:
        assert len(_assert_parity(bands, band_id=b, band_key=k, doc_id=d)) == 1
    assert _assert_parity(bands, band_id=9, band_key="0", doc_id=0) == []


def test_lookup_decimal_key_filters_every_bucket(spark, tmp_path):
    store = ParquetStateStore(
        spark, str(tmp_path / "d"), key_cols=["price"], order_cols=["offset"],
        n_buckets=4,
    )
    rows = [(decimal.Decimal(i) / 4, i, "false", i) for i in range(40)]
    _apply(spark, store, rows, "price decimal(10,2), v long, __deleted string, offset long")
    for price in (decimal.Decimal("2.25"), decimal.Decimal("0.00"), decimal.Decimal("99.99")):
        _assert_parity(store, price=price)
    assert store.lookup(price=decimal.Decimal("2.25")).collect()[0]["v"] == 9
    assert store.lookup(price=2.25).collect()[0]["v"] == 9


def test_lookup_date_and_timestamp_keys(spark, tmp_path):
    store = ParquetStateStore(
        spark, str(tmp_path / "t"), key_cols=["day", "at"], order_cols=["offset"],
        n_buckets=4,
    )
    utc = datetime.timezone.utc
    rows = [
        (datetime.date(2020, 1, 1 + i), datetime.datetime(2021, 3, 1, i, 30, tzinfo=utc), i, "false", i)
        for i in range(12)
    ]
    _apply(spark, store, rows, "day date, at timestamp, v long, __deleted string, offset long")
    # pyarrow reads the INT96 timestamps as naive UTC: a session time
    # zone other than UTC must not shift them
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for day, at, v, _, _ in rows[::3]:
            got = _assert_parity(store, day=day, at=at)
            assert [r["v"] for r in got] == [v]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_lookup_nested_key_filters_every_bucket(spark, tmp_path):
    store = ParquetStateStore(
        spark, str(tmp_path / "n"), key_cols=["path"], order_cols=["offset"],
        n_buckets=4,
    )
    rows = [([i, i + 1], i, "false", i) for i in range(20)]
    _apply(spark, store, rows, "path array<int>, v long, __deleted string, offset long")
    assert [r["v"] for r in store.lookup(path=[7, 8]).collect()] == [7]
    assert store.lookup(path=[7, 9]).collect() == []


def test_lookup_in_a_bucket_whose_dir_was_emptied(spark, tmp_path):
    store = _movies(spark, tmp_path, n_buckets=4, n=40)
    path = store.path
    by_bucket = {}
    for r in spark.read.parquet(path).select("id", "__bucket").collect():
        by_bucket.setdefault(r["__bucket"], []).append(r["id"])
    gone, ids = sorted(by_bucket.items())[0]
    _apply(spark, store, [(i, None, "true", 100 + i) for i in ids], _MOVIES)
    assert not os.path.isdir(os.path.join(path, f"__bucket={gone}"))
    for i in ids[:3] + [by_bucket[gone + 1][0]]:
        _assert_parity(store, id=i)
    assert store.lookup(id=ids[0]).collect() == []


def test_lookup_on_the_flat_empty_layout(spark, tmp_path):
    store = _movies(spark, tmp_path, n_buckets=4, n=5)
    _apply(spark, store, [(i, None, "true", 10 + i) for i in range(1, 6)], _MOVIES)
    assert not any(e.startswith("__bucket=") for e in os.listdir(store.path))
    assert _assert_parity(store, id=3) == []
    assert store.lookup(id=3).columns == ["id", "offset", "title", "__deleted"]


def test_lookup_never_written_key_and_after_rescale(spark, tmp_path):
    store = _movies(spark, tmp_path, n_buckets=8, n=60)
    assert _assert_parity(store, id=10**6) == []
    store.rescale_buckets(5)
    assert len([e for e in os.listdir(store.path) if e.startswith("__bucket=")]) == 5
    for key in (1, 17, 33, 60, 61):
        _assert_parity(store, id=key)
    reopened = ParquetStateStore(
        spark, store.path, key_cols=["id"], order_cols=["offset"], n_buckets=5
    )
    assert reopened.lookup(id=33).collect()[0]["title"] == "m33"


def test_lookup_is_read_only(spark, tmp_path, monkeypatch):
    """A pull query never runs swapdir recovery, so it cannot delete the
    scratch directories of a batch being written."""
    store = _movies(spark, tmp_path, n_buckets=4, n=10)
    staging = f"{store.path}__staging_x"
    nxt = f"{store.path}__next_x"
    for d in (staging, nxt):
        os.makedirs(os.path.join(d, "__bucket=0"))

    def refuse(*_a, **_k):
        raise AssertionError("lookup ran swapdir.recover")

    monkeypatch.setattr(swapdir, "recover", refuse)
    assert store.lookup(id=4).collect()[0]["title"] == "m4"
    assert os.path.isdir(staging) and os.path.isdir(nxt)
    monkeypatch.undo()
    store.read()  # read() still recovers, sweeping both
    assert not os.path.exists(staging) and not os.path.exists(nxt)
