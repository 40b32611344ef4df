"""Driver-side reads of a few small table-log files.

A serving probe that needs a handful of small files pays about 60 ms
for a Spark job to read a few dozen rows. This module reads those
files on the driver instead: each file through
``pyarrow.parquet``, filtered with Arrow compute, the parts
concatenated and handed to ``spark.createDataFrame(table, schema)``.
That frame is a ``LocalRelation``, so ``collect()`` and any plan built
on it run without a job.

The route must answer exactly what Spark's scan answers, so it only
runs where Arrow and Spark provably agree; everywhere else the caller
takes Spark's scan, and each function says why with a reason string:

- at most ``MAX_FILES`` files and ``MAX_BYTES`` bytes on disk, all of
  them local paths (no URI scheme other than ``file:``);
- a point probe keys on tinyint, smallint, int, bigint, string or
  date, with at most ``MAX_KEYS`` keys. Floats fall back because
  Arrow's ``is_in`` tells ``-0.0`` from ``0.0`` and Spark does not;
- a range probe bounds an integral column with two Python ``int``
  (not ``bool``) values in the signed 64-bit range;
- every file's Arrow schema has the names and types of the committed
  snapshot schema (an evolved table falls back), and no file carries
  Spark's legacy datetime or INT96 rebase metadata.

Null keys never match (``skip_nulls=True``), as under SQL equality,
and the result schema is Spark's scan schema: every field nullable.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: measured crossover (SCALING.md, "Serving probes: driver read vs
#: Spark scan", 4-vCPU host): on small files the driver read won at
#: every count measured, up to 128 files (94 ms against Spark's 1093
#: ms, which lists more than 32 paths with a job), so the count bound
#: is the largest count measured. Bytes decide the crossover: the
#: driver decodes serially and Spark reads in parallel, and Spark
#: overtook the driver between 18 MB (driver 110 vs 136 ms) and 68 MB
#: (332 vs 281 ms) at 8 files, and between 18 and 71 MB at 32 files.
MAX_FILES = 128
MAX_BYTES = 32 << 20
#: the residual beyond which the Spark route plans a broadcast
#: semi-join (``table_log.probe_residual``'s bound)
MAX_KEYS = 64

_KEY_ARROW = {
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "string": pa.string(),
    "date": pa.date32(),
}
_RANGE_TYPES = frozenset(["tinyint", "smallint", "int", "bigint"])
_LEGACY_KEYS = (
    b"org.apache.spark.legacyDateTime",
    b"org.apache.spark.legacyINT96",
)
_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


def read_keys(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType | None,
    column: str,
    values: list,
) -> tuple[DataFrame | None, str]:
    """The rows of ``files`` whose ``column`` is in ``values`` — already
    coerced to the stored key type, as the Spark route's residual
    compares them — or ``(None, reason)`` when Spark's scan must run."""
    if schema is None:
        return None, "no committed schema"
    dtype = schema[column].dataType.simpleString()
    if dtype not in _KEY_ARROW:
        return None, f"key type {dtype}"
    if len(values) > MAX_KEYS:
        return None, f"{len(values)} keys > {MAX_KEYS}"
    value_set = pa.array(values, type=_KEY_ARROW[dtype])
    return _read(
        spark, files, schema,
        lambda t: pc.is_in(t[column], value_set=value_set, skip_nulls=True),
    )


def read_range(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType | None,
    column: str,
    lo,
    hi,
) -> tuple[DataFrame | None, str]:
    """The rows of ``files`` with ``lo <= column <= hi``, or
    ``(None, reason)`` when Spark's scan must run."""
    if schema is None:
        return None, "no committed schema"
    dtype = schema[column].dataType.simpleString()
    if dtype not in _RANGE_TYPES:
        return None, f"range type {dtype}"
    if not all(
        type(b) is int and _INT64_MIN <= b <= _INT64_MAX for b in (lo, hi)
    ):
        return None, "bounds not 64-bit ints"
    lo_s, hi_s = pa.scalar(lo, pa.int64()), pa.scalar(hi, pa.int64())
    return _read(
        spark, files, schema,
        lambda t: pc.and_(
            pc.greater_equal(t[column], lo_s), pc.less_equal(t[column], hi_s)
        ),
    )


def _read(spark, files, schema, predicate) -> tuple[DataFrame | None, str]:
    """Gate ``files`` on count, locality, bytes and footers, then read
    and filter each one with ``predicate(table) -> mask``."""
    if len(files) > MAX_FILES:
        return None, f"{len(files)} files > {MAX_FILES}"
    paths = [_local_path(p) for p in files]
    if None in paths:
        return None, "non-local path"
    size = sum(os.path.getsize(p) for p in paths)
    if size > MAX_BYTES:
        return None, f"{size} bytes > {MAX_BYTES}"
    nullable = _as_nullable(schema)
    try:
        target = to_arrow_schema(nullable)
    except TypeError:  # a column type Arrow conversion does not support
        return None, "schema has no Arrow form"
    want = [(f.name, f.type) for f in target]
    parts = []
    for p in paths:
        with pq.ParquetFile(p) as pf:
            if [(f.name, f.type) for f in pf.schema_arrow] != want:
                return None, "file schema differs from the snapshot schema"
            meta = pf.metadata.metadata or {}
            if any(k in meta for k in _LEGACY_KEYS):
                return None, "legacy rebase metadata"
            t = pf.read()
        parts.append(t.filter(predicate(t)).cast(target))
    table = pa.concat_tables(parts) if parts else target.empty_table()
    return spark.createDataFrame(table, nullable), f"{len(files)} files, {size} bytes"


def _local_path(path: str) -> str | None:
    """``path`` as a local file name, or None for a remote URI."""
    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    return None


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable — the
    schema Spark's file scan reports for any data schema."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt
