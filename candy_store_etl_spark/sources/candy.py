"""Candy-store domain sources with explicit schemas.

Reference parity (`/root/reference/src/data_processor.py:87-134`): the
reference reads per-day MongoDB collections ``transactions_<yyyymmdd>``
(inferred schema) and MySQL master tables over JDBC. This engine keeps
one ``Source`` abstraction with *explicit* schemas — JSON/CSV/Parquet
paths for tests and local runs, JDBC/Mongo options for production —
because schema inference over 100 TB means a sampling scan you never
wanted.

The transactions relation is the one genuinely nested input: an
``items`` array of structs, flattened downstream with ``explode``
(reference `data_processor.py:123-132`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TRANSACTIONS_SCHEMA = StructType(
    [
        # LONG, not int: transaction ids are unbounded at scale — the
        # 1000-day replica dataset already exceeds 2^31 (int32 parsing
        # silently NULLed every id past copy ~21, collapsing 1000 days
        # of orders to 220 — found by the IVM marginal-day run)
        StructField("transaction_id", LongType(), False),
        StructField("customer_id", IntegerType(), True),
        # ISO-8601 string with microseconds in the wire format; parsed
        # to TimestampType at the edge, formatted back on write.
        StructField("timestamp", StringType(), True),
        StructField(
            "items",
            ArrayType(
                StructType(
                    [
                        StructField("product_id", IntegerType(), True),
                        StructField("product_name", StringType(), True),
                        StructField("qty", IntegerType(), True),  # nullable!
                    ]
                )
            ),
            True,
        ),
    ]
)

PRODUCTS_SCHEMA = StructType(
    [
        StructField("product_id", IntegerType(), False),
        StructField("product_name", StringType(), True),
        StructField("product_category", StringType(), True),
        StructField("product_subcategory", StringType(), True),
        StructField("product_shape", StringType(), True),
        StructField("sales_price", DecimalType(10, 2), True),
        StructField("cost_to_make", DecimalType(10, 2), True),
        StructField("stock", IntegerType(), True),
    ]
)

CUSTOMERS_SCHEMA = StructType(
    [
        StructField("customer_id", IntegerType(), False),
        StructField("first_name", StringType(), True),
        StructField("last_name", StringType(), True),
        StructField("email", StringType(), True),
        StructField("address", StringType(), True),
        StructField("phone", StringType(), True),
    ]
)


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def read_transactions(
    spark: SparkSession, path: str | list[str]
) -> DataFrame:
    """Read transaction JSON (array-of-docs files → ``multiLine``).

    ``path`` may be a glob or list covering many days; at scale, store the
    files date-partitioned (``.../date=YYYYMMDD/``) so a ``WHERE date
    BETWEEN`` prunes partitions instead of a per-day driver loop
    (reference anti-pattern, `data_processor.py:172`).

    A list naming more than the session's listing threshold (32 by
    default) of existing local files is read without Spark's parallel
    file-listing job: the paths are already known leaf files, and that
    job only re-stats them. The threshold is raised for this one eager
    ``.json()`` call and restored afterwards; globs, directories and
    short lists keep Spark's default listing.
    """
    reader = spark.read.schema(TRANSACTIONS_SCHEMA).option("multiLine", "true")
    old = spark.conf.get(_LISTING_THRESHOLD, None)
    if not _known_local_files(path, int(old or 32)):
        return reader.json(path)
    spark.conf.set(_LISTING_THRESHOLD, str(len(path)))
    try:
        return reader.json(path)
    finally:
        if old is None:
            spark.conf.unset(_LISTING_THRESHOLD)
        else:
            spark.conf.set(_LISTING_THRESHOLD, old)


def _known_local_files(path: str | list[str], threshold: int) -> bool:
    """True when ``path`` lists more than ``threshold`` plain local
    paths (no glob characters), each an existing file."""
    return (
        not isinstance(path, str)
        and len(path) > threshold
        and all(
            not any(c in p for c in "*?[]{}\\") and os.path.isfile(p)
            for p in path
        )
    )


def read_products(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PRODUCTS_SCHEMA).option("header", "true").csv(path)


def read_customers(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CUSTOMERS_SCHEMA).option("header", "true").csv(path)


def jdbc_reader_options(url: str, table: str, **options: str) -> dict[str, str]:
    """Assemble the option map for a JDBC read — split out so the
    plumbing is unit-testable without a database server (this container
    has none; tests substitute files for the data itself)."""
    if not url.startswith("jdbc:"):
        raise ValueError(f"not a JDBC url: {url!r}")
    required = {"url": url, "dbtable": table}
    clash = required.keys() & options.keys()
    if clash:
        raise ValueError(f"options {sorted(clash)} conflict with positional args")
    partition_keys = {
        "partitionColumn",
        "lowerBound",
        "upperBound",
        "numPartitions",
    }
    present = partition_keys & options.keys()
    if present and present != partition_keys:
        raise ValueError(
            "partitioned JDBC reads need ALL of "
            f"{sorted(partition_keys)}; got only {sorted(present)}"
        )
    return {**required, **options}


def read_jdbc(spark: SparkSession, url: str, table: str, **options: str) -> DataFrame:
    """JDBC source (reference `data_processor.py:87-101`).

    Partitioned reads need ``partitionColumn/lowerBound/upperBound/
    numPartitions`` or a single executor does the whole scan
    (``jdbc_reader_options`` enforces all-or-none).
    """
    return (
        spark.read.format("jdbc")
        .options(**jdbc_reader_options(url, table, **options))
        .load()
    )

