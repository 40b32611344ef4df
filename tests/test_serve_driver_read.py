"""The driver read of short serve probes (``sources.driver_read``).

``keyset_lookup`` and ``serve_range``'s ``stats-pruned`` route read a
few small files on the driver instead of launching a Spark scan. The
route is only worth having if it is invisible in the answer, so every
case here runs twice — through the driver read and through Spark's
scan with the driver read patched off — and compares rows AND
``df.schema``. Each fallback gate is pinned by ``info["exec"]``.
"""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import Row
from pyspark.sql import functions as F

from candy_store_etl_spark.operators import colocated as co
from candy_store_etl_spark.sources import driver_read as dr
from candy_store_etl_spark.sources import table_log as tl
from perfbench import gen

# one representative key per row; None is a null key in the data
_KEYS = {
    "tinyint": [1, 2, 3, -5, 100, 7, None],
    "smallint": [1, 2, 300, -5, 1000, 7, None],
    "int": [1, 2, 300, -5, 1 << 20, 7, None],
    "bigint": [1, 2, 300, -5, 1 << 40, 7, None],
    "string": ["a", "b", "c c", "", "\u00e9t\u00e9", "z", None],
    "date": [
        datetime.date(2020, 1, 1),
        datetime.date(2020, 1, 2),
        datetime.date(1999, 12, 31),
        datetime.date(1970, 1, 1),
        datetime.date(2038, 1, 19),
        datetime.date(2001, 9, 9),
        None,
    ],
}
# probe values for a key that is absent from every table
_MISSING = {
    "tinyint": 99,
    "smallint": 9999,
    "int": 123456,
    "bigint": 1 << 50,
    "string": "nope",
    "date": datetime.date(1900, 5, 5),
}
# 16 buckets for 6 non-null keys: most buckets are empty
N_BUCKETS = 16


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _table(spark, root, dtype: str, keys: list, *, mode="overwrite"):
    data = [(k, i, f"s{i}") for i, k in enumerate(keys)]
    df = spark.createDataFrame(data, f"k {dtype}, x bigint, s string")
    co.write_bucketed(
        df, root, key_col="k", n_buckets=N_BUCKETS, mode=mode
    )
    return df


@pytest.fixture(scope="module")
def typed_tables(spark, tmp_path_factory):
    """One bucketed table per accepted key type: a base write (with a
    null key row), then an append holding a repeat of a base key and
    one new key; versions 0 (base only) and 1 (with the append)."""
    out = {}
    for dtype, keys in _KEYS.items():
        root = str(tmp_path_factory.mktemp(f"keys_{dtype}"))
        _table(spark, root, dtype, keys[:4] + keys[6:])
        _table(spark, root, dtype, [keys[0], keys[4], keys[5]], mode="append")
        out[dtype] = root
    return out


def _both(monkeypatch, fn):
    """``fn()`` through the driver read, then with it patched off;
    returns ((df, info), (df, info))."""
    driver = fn()
    with monkeypatch.context() as m:
        m.setattr(dr, "read_keys", lambda *a: (None, "patched off"))
        m.setattr(dr, "read_range", lambda *a: (None, "patched off"))
        spark_side = fn()
    return driver, spark_side


def _same(driver, spark_side):
    (ddf, dinfo), (sdf, sinfo) = driver, spark_side
    assert dinfo["exec"] == "driver", dinfo
    assert sinfo["exec"] == "spark", sinfo
    assert ddf.schema == sdf.schema
    assert _rows(ddf) == _rows(sdf)
    return _rows(ddf)


def _lookup(spark, root, values, **kw):
    info: dict = {}
    return co.keyset_lookup(spark, root, values, info=info, **kw), info


@pytest.mark.parametrize("dtype", list(_KEYS))
def test_driver_equals_spark_for_every_key_type(
    spark, typed_tables, monkeypatch, dtype
):
    root = typed_tables[dtype]
    keys = _KEYS[dtype]
    cases = {
        # present keys, one of them in both the base and the append
        "present": [keys[0], keys[2], keys[4]],
        # a null probe and a missing key next to a present one
        "null and missing": [None, _MISSING[dtype], keys[1]],
        # every key of the table: all non-empty buckets
        "all": [k for k in keys if k is not None],
    }
    for name, values in cases.items():
        rows = _same(*_both(monkeypatch, lambda: _lookup(spark, root, values)))
        want = [k for k in values if k is not None]
        assert sorted({r[0] for r in rows}, key=str) == sorted(
            {k for k in want if k != _MISSING[dtype]}, key=str
        ), name
    # appended rows: the base key keys[0] has a row in both files
    rows = _same(*_both(monkeypatch, lambda: _lookup(spark, root, [keys[0]])))
    assert len(rows) == 2
    # a version-pinned read sees only the base write
    rows = _same(
        *_both(
            monkeypatch,
            lambda: _lookup(spark, root, [keys[0], keys[4]], version=0),
        )
    )
    assert [r[0] for r in rows] == [keys[0]]


def test_null_key_rows_never_match(spark, typed_tables, monkeypatch):
    # the data holds a null key; a null probe must not find it on
    # either route (Arrow's is_in would without skip_nulls)
    rows = _same(
        *_both(
            monkeypatch,
            lambda: _lookup(spark, typed_tables["bigint"], [None]),
        )
    )
    assert rows == []


def test_empty_buckets_and_serve_front_door(spark, typed_tables, monkeypatch):
    root = typed_tables["int"]
    by_bucket = co.buckets_of_values(spark, root, list(range(200)))
    live = {co.buckets_of_values(spark, root, [k])[0] for k in _KEYS["int"][:6]}
    empty = [v for v, b in zip(range(200), by_bucket) if b not in live]
    assert empty, "fixture has no empty bucket"
    df, info = _lookup(spark, root, empty[:3])
    assert info["files_scanned"] == 0 and _rows(df) == []
    assert (info["exec"], info["exec_reason"]) == ("driver", "no files")
    rows = _same(*_both(monkeypatch, lambda: _lookup(spark, root, [1] + empty[:2])))
    assert [r[0] for r in rows] == [1, 1]
    # serve() with the keyset route forced on a small table
    _same(
        *_both(
            monkeypatch,
            lambda: co.serve(
                spark, root, [1, 2, 300], scan_file_threshold=0,
                record_routes=False,
            ),
        )
    )


def _expect_spark(spark, root, values):
    df, info = _lookup(spark, root, values)
    assert info["exec"] == "spark", info
    want = tl.read_snapshot(spark, root).filter(F.col("k").isin(values))
    assert _rows(df) == _rows(want)
    return info


def test_fallback_key_type(spark, tmp_path):
    root = str(tmp_path / "dbl")
    _table(spark, root, "double", [0.5, 1.5, 2.5])
    info = _expect_spark(spark, root, [0.5, 1.5])
    assert info["exec_reason"] == "key type double"


def test_fallback_file_count_and_bytes(spark, typed_tables, monkeypatch):
    root = typed_tables["bigint"]
    monkeypatch.setattr(dr, "MAX_FILES", 1)
    info = _expect_spark(spark, root, _KEYS["bigint"][:5])
    assert "files >" in info["exec_reason"]
    monkeypatch.setattr(dr, "MAX_FILES", 128)
    monkeypatch.setattr(dr, "MAX_BYTES", 1)
    info = _expect_spark(spark, root, _KEYS["bigint"][:5])
    assert "bytes >" in info["exec_reason"]


def test_fallback_non_local_path(spark, typed_tables):
    root = typed_tables["bigint"]
    files, _, schema = tl.snapshot_resolved(root)
    df, why = dr.read_keys(
        spark, ["s3a://bucket/t/" + os.path.basename(files[0])], schema,
        "k", [1],
    )
    assert df is None and why == "non-local path"
    df, why = dr.read_keys(
        spark, ["file://" + p for p in files], schema, "k", [1, 2]
    )
    assert df is not None, why
    assert sorted(r.k for r in df.collect()) == [1, 1, 2]


def test_fallback_more_than_64_keys(spark, typed_tables):
    # the gate counts COERCED keys: probes into empty buckets drop out
    # before it, so repeat present keys to get past 64
    info = _expect_spark(spark, typed_tables["bigint"], [1, 2, 300, -5] * 17)
    assert info["exec_reason"] == "68 keys > 64"


def test_fallback_evolved_schema(spark, tmp_path):
    root = str(tmp_path / "evolved")
    _table(spark, root, "bigint", [1, 2, 3])
    wider = spark.createDataFrame(
        [(4, 40, "s40", 1.5)], "k bigint, x bigint, s string, extra double"
    )
    co.write_bucketed(
        wider, root, key_col="k", n_buckets=N_BUCKETS, mode="append"
    )
    info = _expect_spark(spark, root, [1, 4])
    assert info["exec_reason"] == (
        "file schema differs from the snapshot schema"
    )


def test_fallback_legacy_rebase_metadata(spark, tmp_path):
    root = str(tmp_path / "legacy")
    conf = "spark.sql.parquet.datetimeRebaseModeInWrite"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "LEGACY")
    try:
        _table(spark, root, "date", _KEYS["date"][:4])
    finally:
        spark.conf.set(conf, old)
    meta = pq.read_metadata(tl.snapshot_files(root)[0]).metadata
    assert b"org.apache.spark.legacyDateTime" in meta
    info = _expect_spark(spark, root, _KEYS["date"][:2])
    assert info["exec_reason"] == "legacy rebase metadata"


@pytest.fixture(scope="module")
def ranged(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ranged"))
    df = spark.range(0, 400).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 3).alias("x")
    )
    tl.append(df.repartition(4), root, stats_cols=["k"])
    return root


@pytest.mark.parametrize(
    "lo, hi, n",
    [(0, 0, 1), (399, 399, 1), (0, 399, 400), (-50, 10, 11), (390, 900, 10),
     (10, 5, 0)],
)
def test_serve_range_driver_equals_spark(spark, ranged, monkeypatch, lo, hi, n):
    (df, info), spark_side = _both(
        monkeypatch,
        lambda: co.serve_range(
            spark, ranged, "k", lo, hi, record_routes=False
        ),
    )
    assert info["route"] == "stats-pruned"
    assert len(_same((df, info), spark_side)) == n


def test_serve_range_fallbacks(spark, ranged):
    df, info = co.serve_range(spark, ranged, "k", 1.0, 5, record_routes=False)
    assert (info["exec"], info["exec_reason"]) == (
        "spark", "bounds not 64-bit ints"
    )
    assert sorted(r.k for r in df.collect()) == [1, 2, 3, 4, 5]
    files, _, schema = tl.snapshot_resolved(ranged)
    for lo, hi in ((True, 5), (0, 1 << 64)):
        assert dr.read_range(spark, files, schema, "k", lo, hi) == (
            None, "bounds not 64-bit ints"
        )


# -- route pin on the serve_mixed table shape --------------------------------


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    """perfbench's serve_mixed table: 128 buckets plus 2 appends."""
    d = str(tmp_path_factory.mktemp("serve_mixed"))
    lines = os.path.join(d, "lines")
    base = os.path.join(d, "base.parquet")
    pq.write_table(gen.lineitem_rows(7, 30_000), base)
    co.write_bucketed(
        spark.read.schema("okey long, cents long").parquet(base), lines,
        key_col="okey", n_buckets=128,
    )
    batches = []
    for b in range(2):
        p = os.path.join(d, f"batch{b}.parquet")
        pq.write_table(gen.lineitem_rows(7, 8, 30_001 + 8 * b), p)
        co.write_bucketed(
            spark.read.schema("okey long, cents long").parquet(p), lines,
            key_col="okey", n_buckets=128, mode="append",
        )
        batches.append(p)
    rows = [
        (r["okey"], r["cents"])
        for p in [base] + batches
        for r in pq.read_table(p, columns=["okey", "cents"]).to_pylist()
    ]
    return lines, rows


_PROBES = {
    1: [30_003],
    4: [17, 2_048, 29_999, 30_012],
    16: list(range(5, 30_000, 1_999))[:15] + [30_016],
}


def test_serve_mixed_probes_stay_on_the_driver(spark, mixed, monkeypatch):
    lines, data = mixed

    def no_scan(*a, **k):
        raise AssertionError("keyset_lookup fell back to Spark's scan")

    monkeypatch.setattr(co, "_keyset_scan", no_scan)
    for n, keys in _PROBES.items():
        df, info = co.serve(spark, lines, keys, record_routes=False)
        assert (info["route"], info["exec"]) == ("keyset", "driver"), info
        got = sorted((r.okey, r.cents) for r in df.collect())
        assert got == sorted(r for r in data if r[0] in keys), n


#: py4j round trips one keyset serve() may make, whatever its key count
#: (33 measured for 1, 4 and 16 integer keys; a parameter-bound probe
#: costs about 4 calls a key, and Spark's scan about 5 more per key)
SERVE_PY4J_CALLS = 48


def test_serve_py4j_calls_do_not_grow_with_keys(spark, mixed, monkeypatch):
    lines, _ = mixed
    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *a, **k):
        calls[0] += 1
        return send(self, *a, **k)

    co.serve(spark, lines, _PROBES[4], record_routes=False)  # warm
    monkeypatch.setattr(GatewayClient, "send_command", counting)
    for n in (1, 16):
        calls[0] = 0
        co.serve(spark, lines, _PROBES[n], record_routes=False)
        assert calls[0] <= SERVE_PY4J_CALLS, (n, calls[0])


def test_result_schema_is_the_scan_schema(spark, tmp_path, monkeypatch):
    # a committed schema with non-nullable fields: Spark's file scan
    # reports every field nullable, so the driver read must too
    root = str(tmp_path / "notnull")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(1).alias("one")
    )
    assert not df.schema["k"].nullable
    co.write_bucketed(df, root, key_col="k", n_buckets=4)
    _same(*_both(monkeypatch, lambda: _lookup(spark, root, [3, 7])))
    assert _lookup(spark, root, [3])[0].collect() == [Row(k=3, one=1)]
