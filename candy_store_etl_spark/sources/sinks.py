"""Sinks.

``save_single_csv`` mirrors the reference's report sink
(`data_processor.py:62-85`): one named CSV file with a header, in the
bytes Spark's CSV writer gives for ``coalesce(1).write.csv``. Correct
for *report-sized* outputs only: the report is collected to the driver
through Arrow (one Spark job) and written there, which skips the ~120
ms of Spark's file-commit path (write command, output committer,
``_SUCCESS`` marker, renames) per report. Spark's own writer stays the
fallback for any column or value whose text could differ, and for a
report larger than ``spark.driver.maxResultSize``. Fact-sized data goes
through ``write_partitioned`` (parquet, partition column pruning at
read time), which is the 100 TB path.
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import os
import shutil
import tempfile
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pa_csv
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def materialize_overlapped(
    outputs: dict[str, DataFrame] | list[DataFrame],
    max_workers: int = 3,
    sink=None,
) -> None:
    """Materialize independent outputs with overlapping Spark jobs
    (optimization guide §2.6): actions are only sequential because the
    driver calls them sequentially, so a small thread pool lets the
    next job's tasks back-fill executors freed by the current job's
    straggler tail. 2-3 jobs in flight is the guide's recommendation —
    enough to fill the tail, not so many that they fight for cores.

    Each write gets a thread-local job description so the UI stays
    readable. ``sink`` defaults to the noop materializer; pass a
    callable for real writes. Interleaved ABBA at sf0.1 (r12): the
    candy pipeline's five outputs 3.00 s sequential vs 2.53 s
    overlapped, median of 4."""
    from concurrent.futures import ThreadPoolExecutor

    if isinstance(outputs, dict):
        items = list(outputs.items())
    else:
        items = [(f"output_{i}", df) for i, df in enumerate(outputs)]
    if sink is None:
        def sink(df):  # noqa: E306 — default: compute-and-discard
            df.write.format("noop").mode("overwrite").save()

    def one(item):
        name, df = item
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"materialize: {name}")
        try:
            sink(df)
        finally:
            sc.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        # list() re-raises the first failure instead of swallowing it
        list(pool.map(one, items))


# Spark types whose CSV text the driver route reproduces; any other
# column (timestamp, decimal, float, boolean, binary, nested) takes
# Spark's writer.
_DRIVER_TYPES = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.StringType,
    T.DateType,
)
# A string Spark's writer would quote, escape or trim (a delimiter,
# quote, escape or control character anywhere; the comment character
# or whitespace first; whitespace last), or write as ``""`` (empty).
_UNPLAIN = r'^$|^[#\s\p{Z}]|[\s\p{Z}]$|[,"\\\p{Cc}]'
# |x| in [1e-3, 1e7) or zero: where java.lang.Double.toString writes
# plain decimal digits rather than computerized scientific notation.
_PLAIN_DOUBLE_MIN, _PLAIN_DOUBLE_END = 1e-3, 1e7
_DISTINCT_SAMPLE = 1024
# the years whose ``yyyy-MM-dd`` text Spark and Arrow write alike
_FIRST_DATE = pa.scalar(datetime.date.min, pa.date32())
_LAST_DATE = pa.scalar(datetime.date.max, pa.date32())
_ROWS = pa_csv.WriteOptions(include_header=False, quoting_style="none")


def _plain_strings(values: pa.Array | pa.ChunkedArray) -> bool:
    """True when Spark writes every value of ``values`` as it is."""
    try:
        values.validate(full=True)  # Spark would replace invalid UTF-8
    except pa.ArrowInvalid:
        return False
    return not pc.any(pc.match_substring_regex(values, _UNPLAIN)).as_py()


def _plain_doubles(values: pa.Array | pa.ChunkedArray) -> bool:
    """True when every value of ``values`` is zero or has an absolute
    value in [1e-3, 1e7): never NaN, infinite, tiny or huge."""
    mag = pc.abs(values)
    plain = pc.or_(
        pc.equal(values, 0.0),
        pc.and_(
            pc.greater_equal(mag, _PLAIN_DOUBLE_MIN),
            pc.less(mag, _PLAIN_DOUBLE_END),
        ),
    )
    return _all(plain)


def _all(mask: pa.Array | pa.ChunkedArray) -> bool:
    """True unless some non-null value of ``mask`` is false."""
    return pc.all(mask).as_py() is not False


def _double_text(values: pa.Array | pa.ChunkedArray) -> pa.Array | pa.ChunkedArray:
    """``java.lang.Double.toString`` of plain doubles (``_plain_doubles``):
    Arrow's shortest round-trip digits, with ``.0`` when they have no
    point (``1`` -> ``1.0``, ``-0`` -> ``-0.0``).

    Report doubles repeat (prices, line totals), so unless most of the
    first ``_DISTINCT_SAMPLE`` values differ, each distinct value is
    formatted once (the hash keeps ``0.0`` and ``-0.0`` apart);
    hashing costs more than formatting when nearly all differ."""
    head = values.slice(0, _DISTINCT_SAMPLE)
    if 2 * pc.count_distinct(head).as_py() > len(head):
        return _java_double_text(values)
    distinct = pc.unique(values)
    return pc.take(_java_double_text(distinct), pc.index_in(values, distinct))


def _java_double_text(values: pa.Array | pa.ChunkedArray) -> pa.Array | pa.ChunkedArray:
    text = pc.cast(values, pa.string())
    point = pc.if_else(pc.match_substring(text, "."), "", ".0")
    return pc.binary_join_element_wise(text, point, "")


def _csv_text(table: pa.Table, schema: T.StructType) -> pa.Table | None:
    """``table`` as the strings Spark's CSV writer would write for each
    value, or None when some value's text could differ."""
    if table.num_columns == 1 and table.column(0).null_count:
        return None  # Spark skips a line whose only field is null
    columns = []
    for field, values in zip(schema.fields, table.columns):
        if isinstance(field.dataType, T.StringType):
            if not _plain_strings(values):
                return None
        elif isinstance(field.dataType, T.DoubleType):
            if not _plain_doubles(values):
                return None
            values = _double_text(values)
        else:
            if isinstance(field.dataType, T.DateType) and not _all(
                pc.and_(
                    pc.greater_equal(values, _FIRST_DATE),
                    pc.less_equal(values, _LAST_DATE),
                )
            ):
                return None
            values = pc.cast(values, pa.string())
        columns.append(values)
    return pa.table(columns, names=table.column_names)


def save_single_csv(df: DataFrame, output_path: str, filename: str) -> str:
    """Write ``df`` as exactly one ``<output_path>/<filename>`` CSV, in
    the bytes of ``_spark_csv``: a header, then one line per row in
    the frame's order, ``\\n``-terminated.

    The report is collected with ``toArrow()`` (one Spark job) and
    written on the driver, so ``output_path`` must be a path the
    driver can write. Long, int, short, byte and date columns go out
    as Arrow's text, doubles as ``_double_text``, and strings as they
    are. The file is written next to its target and renamed over it:
    a write that fails leaves ``output_path`` as it was.

    Spark's writer (``_spark_csv``) writes the report instead when the
    text could differ: a column of another type, a name or string
    Spark would quote, escape or trim, an empty string, a double that
    Java writes in scientific notation (0 < |x| < 1e-3, |x| >= 1e7,
    NaN, infinite), a date outside years 1-9999, a null in a
    one-column report; or when the collect exceeds
    ``spark.driver.maxResultSize``."""
    os.makedirs(output_path, exist_ok=True)
    schema = df.schema
    names = schema.names
    if not (
        names
        and len(set(names)) == len(names)
        and _plain_strings(pa.array(names, pa.string()))
        and all(isinstance(f.dataType, _DRIVER_TYPES) for f in schema.fields)
    ):
        return _spark_csv(df, output_path, filename)
    try:
        table = df.toArrow()
    except Exception as e:  # py4j carries the JVM failure only as text
        if "spark.driver.maxResultSize" not in str(e):
            raise
        return _spark_csv(df, output_path, filename)
    text = _csv_text(table, schema)
    if text is None:
        return _spark_csv(df, output_path, filename)
    final = os.path.join(output_path, filename)
    # a plain new file takes the umask's mode, as Spark's part file
    # does (mkstemp's would be 0600)
    tmp = os.path.join(output_path, f".{filename}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb") as f:
            f.write((",".join(names) + "\n").encode())
            pa_csv.write_csv(text, f, _ROWS)
        os.replace(tmp, final)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    return final


def _spark_csv(df: DataFrame, output_path: str, filename: str) -> str:
    """``save_single_csv`` through Spark's CSV writer: ``coalesce(1)``
    into a staging directory, then its one part file renamed."""
    os.makedirs(output_path, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=output_path, prefix=".csv_stage_")
    try:
        (
            df.coalesce(1)
            .write.option("header", "true")
            .mode("overwrite")
            .csv(tmp)
        )
        parts = glob.glob(os.path.join(tmp, "part-*.csv"))
        if len(parts) != 1:
            raise RuntimeError(f"expected one part file, found {parts}")
        final = os.path.join(output_path, filename)
        shutil.move(parts[0], final)
        return final
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_partitioned(
    df: DataFrame, path: str, *, partition_by: list[str] | None = None
) -> None:
    """Scale sink: partitioned parquet (the inter-stage exchange format;
    temp views don't survive session boundaries — SURVEY §3.3)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    compression: str | None = "gzip",
) -> None:
    """Training-data export sink: sharded JSON-lines (one object per
    line), optionally gzipped — the interchange format LLM data
    pipelines hand to tokenizer/loader stages. Pair ``partition_by``
    with a shard-assignment column (see ``doc_shard_assignment``) for
    stable shard directories; each task writes its own file, so the
    export scales with the cluster, never through one writer."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_orc(
    df: DataFrame, path: str, *, partition_by: list[str] | None = None
) -> None:
    """Columnar sink twin of ``write_partitioned`` in ORC — same
    pruning/pushdown story as parquet for stacks standardized on ORC
    (native Spark support, no extra jars)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def compact_files(
    spark,
    in_path: str,
    out_path: str,
    *,
    target_mb: float = 128,
    sort_by: list[str] | None = None,
) -> int:
    """Small-files compaction — the maintenance op every long-lived
    table needs (streaming sinks and fine-grained partitioned writes
    accumulate kilobyte files; at 100 TB the resulting task-per-file
    scheduling and footer-read overhead dominates scans).

    Sizes the output from the INPUT's real bytes (``ceil(bytes /
    target_mb)``), then either ``repartitionByRange(sort_by)`` — which
    both compacts and gives each output file a disjoint key range, so
    min/max zone maps prune like the Z-order layout pass — or a plain
    round-robin ``repartition`` when no layout key is given. Returns
    the number of files written. The rewrite is one shuffle of the
    data; at scale this runs per-partition (compact only partitions
    whose file count exceeds a threshold), which composes as a filter
    on the partition column before this call.
    """
    import math

    df = spark.read.parquet(in_path)
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(in_path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    if sort_by:
        shaped = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        shaped = df.repartition(n_files)
    shaped.write.mode("overwrite").parquet(out_path)
    return len(glob.glob(os.path.join(out_path, "part-*.parquet")))
