"""Python DataSource (candy_transactions): planning-time date pruning,
parallel per-day partitions, agreement with the JSON reader — over the
seeded ``candy_history`` days — plus the JDBC and custom-sink paths."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from candy_store_etl_spark.sources.candy import read_transactions
from candy_store_etl_spark.sources.custom_source import (
    CandyTransactionsDataSource,
)
from perfbench import gen


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(CandyTransactionsDataSource)


def _day(path: str) -> str:
    """``20240203`` for ``.../transactions_20240203.json``."""
    return os.path.basename(path)[len("transactions_") : -len(".json")]


def _load(spark, paths: list[str], start: str, end: str):
    return (
        spark.read.format("candy_transactions")
        .option("path", os.path.dirname(paths[0]))
        .option("start", start)
        .option("end", end)
        .load()
    )


def test_full_range_matches_json_reader(spark, candy_history):
    paths = candy_history.paths[:10]
    via_source = _load(spark, paths, _day(paths[0]), _day(paths[-1]))
    via_json = read_transactions(spark, paths)
    assert via_source.count() == via_json.count() == len(paths) * gen.TXNS_PER_DAY
    # spot-check content equality on one day
    a = sorted(
        (r.transaction_id, r.customer_id, len(r.items or []))
        for r in via_source.filter(F.col("day") == _day(paths[2])).collect()
    )
    b = sorted(
        (r.transaction_id, r.customer_id, len(r.items or []))
        for r in read_transactions(spark, paths[2]).collect()
    )
    assert a == b


def test_date_range_prunes_partitions(spark, candy_history):
    paths = candy_history.paths
    pruned = _load(spark, paths, _day(paths[0]), _day(paths[2]))
    days = {r.day for r in pruned.select("day").distinct().collect()}
    assert days == {_day(p) for p in paths[:3]}
    # partition count == day count (planning-time pruning)
    assert pruned.rdd.getNumPartitions() == 3


def test_empty_range_raises(spark, candy_history):
    with pytest.raises(Exception, match="within"):
        _load(spark, candy_history.paths, "19990101", "19990102").count()


# ---------------------------------------------------------------------------
# JDBC option plumbing (reference data_processor.py:87-101). No DB
# server or driver jar exists in this container, so the data path is
# covered by file substitutes elsewhere; these tests pin (a) the option
# map the reader is built from and (b) that read_jdbc really reaches
# Spark's JDBC source with those options (the failure is the JVM's
# "no suitable driver", not a Python-side error).
# ---------------------------------------------------------------------------
def test_jdbc_reader_options_plumbing():
    from candy_store_etl_spark.sources.candy import jdbc_reader_options

    opts = jdbc_reader_options(
        "jdbc:mysql://db:3306/candy",
        "products",
        user="etl",
        partitionColumn="product_id",
        lowerBound="1",
        upperBound="100000",
        numPartitions="16",
    )
    assert opts == {
        "url": "jdbc:mysql://db:3306/candy",
        "dbtable": "products",
        "user": "etl",
        "partitionColumn": "product_id",
        "lowerBound": "1",
        "upperBound": "100000",
        "numPartitions": "16",
    }
    with pytest.raises(ValueError, match="not a JDBC url"):
        jdbc_reader_options("mysql://db/candy", "products")
    with pytest.raises(ValueError, match="conflict"):
        jdbc_reader_options("jdbc:mysql://db/c", "t", dbtable="other")
    with pytest.raises(ValueError, match="ALL of"):
        jdbc_reader_options(
            "jdbc:mysql://db/c", "t", partitionColumn="id", numPartitions="4"
        )


def test_read_jdbc_reaches_jvm_source(spark):
    from py4j.protocol import Py4JJavaError

    from candy_store_etl_spark.sources.candy import read_jdbc

    # with no driver jar the load must die INSIDE the JVM JDBC source
    # resolving the url option — proving every option crossed the
    # py4j boundary into Spark's JDBC relation provider
    with pytest.raises(Py4JJavaError, match="(?i)suitable driver|driver"):
        read_jdbc(spark, "jdbc:mysql://localhost:9/nope", "products", user="u")


def test_custom_python_datasource_writer_manifest(spark, sf_correctness, tmp_path):
    """Writer direction of the custom-connector story: every task
    stages privately, the driver's commit renames + manifests, and the
    manifest's accounting matches a full read-back."""
    import json as _json

    from candy_store_etl_spark.sources.custom_sink import CandyReportsDataSource
    from candy_store_etl_spark.sources.tpch import load_table

    spark.dataSource.register(CandyReportsDataSource)
    docs = load_table(spark, sf_correctness, "documents").select(
        "doc_id", "lang", "source"
    )
    out = str(tmp_path / "reports")
    docs.repartition(4).write.format("candy_reports").option("path", out).mode(
        "append"
    ).save()

    with open(f"{out}/manifest.json") as f:
        manifest = _json.load(f)
    n = docs.count()
    assert manifest["total_rows"] == n
    assert len(manifest["files"]) == 4
    # no staging strays survived commit
    assert not [p for p in os.listdir(out) if p.endswith(".staging")]
    # manifested files == directory contents, and read-back matches
    listed = {e["file"] for e in manifest["files"]}
    on_disk = {p for p in os.listdir(out) if p.endswith(".jsonl")}
    assert listed == on_disk
    back = spark.read.json(f"{out}/*.jsonl")
    assert back.count() == n
    assert {(r.doc_id, r.lang, r.source) for r in back.collect()} == {
        (r.doc_id, r.lang, r.source) for r in docs.collect()
    }


def test_custom_python_datasource_writer_overwrite_sweeps_stale(
    spark, sf_correctness, tmp_path
):
    """mode('overwrite') must leave ONLY the fresh run's files: stale
    parts from a prior run and crashed-task staging strays are swept,
    so directory contents == fresh manifest exactly."""
    import json as _json

    from candy_store_etl_spark.sources.custom_sink import CandyReportsDataSource
    from candy_store_etl_spark.sources.tpch import load_table

    spark.dataSource.register(CandyReportsDataSource)
    docs = load_table(spark, sf_correctness, "documents").select("doc_id", "lang")
    out = str(tmp_path / "reports")
    docs.repartition(4).write.format("candy_reports").option("path", out).mode(
        "append"
    ).save()
    first_files = {p for p in os.listdir(out) if p.endswith(".jsonl")}
    assert len(first_files) == 4
    # simulate a crashed-task stray from an earlier attempt
    stray = os.path.join(out, ".part-99999-deadbeef.jsonl.staging")
    with open(stray, "w") as f:
        f.write("{}\n")

    docs.repartition(2).write.format("candy_reports").option("path", out).mode(
        "overwrite"
    ).save()

    with open(f"{out}/manifest.json") as f:
        manifest = _json.load(f)
    assert len(manifest["files"]) == 2
    on_disk = set(os.listdir(out))
    assert on_disk == {e["file"] for e in manifest["files"]} | {"manifest.json"}
    # stale first-run parts and the stray are gone
    assert not (first_files & on_disk)
    back = spark.read.json(f"{out}/*.jsonl")
    assert back.count() == docs.count()


def test_read_jdbc_executes_against_embedded_derby(spark, candy_history):
    """Real end-to-end JDBC execution (reference data_processor.py:87-101
    reads MySQL): load the products table into an in-memory Derby
    database through the session JVM, then read it back through
    read_jdbc — both the single-partition and the partitioned
    (partitionColumn/bounds/numPartitions) paths."""
    from candy_store_etl_spark.sources.candy import read_jdbc, read_products

    products = read_products(spark, candy_history.products_csv)
    rows = products.collect()
    assert len(rows) == gen.N_PRODUCTS

    url = "jdbc:derby:memory:candyjdbc;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE products (product_id INT PRIMARY KEY, "
            "product_name VARCHAR(128), sales_price DOUBLE, stock INT)"
        )
        ps = conn.prepareStatement("INSERT INTO products VALUES (?, ?, ?, ?)")
        for r in rows:
            ps.setInt(1, r.product_id)
            ps.setString(2, r.product_name)
            ps.setDouble(3, float(r.sales_price))
            ps.setInt(4, int(r.stock))
            ps.executeUpdate()
        ps.close()
        st.close()
    finally:
        conn.close()

    back = read_jdbc(spark, "jdbc:derby:memory:candyjdbc", "products")
    want = {
        (r.product_id, r.product_name, float(r.sales_price), r.stock)
        for r in rows
    }
    got = {
        (r.PRODUCT_ID, r.PRODUCT_NAME, r.SALES_PRICE, r.STOCK)
        for r in back.collect()
    }
    assert got == want

    # partitioned read: 4 bounded partitions over product_id
    part = read_jdbc(
        spark,
        "jdbc:derby:memory:candyjdbc",
        "products",
        partitionColumn="PRODUCT_ID",
        lowerBound="1",
        upperBound=str(len(rows) + 1),
        numPartitions="4",
    )
    assert part.rdd.getNumPartitions() == 4
    assert {
        (r.PRODUCT_ID, r.PRODUCT_NAME, r.SALES_PRICE, r.STOCK)
        for r in part.collect()
    } == want


def test_write_jdbc_roundtrip_via_derby(spark, sf_correctness):
    """Write direction of the JDBC story: Spark's JDBC writer creates
    and populates a Derby table, and read_jdbc round-trips it."""
    from candy_store_etl_spark.sources.candy import read_jdbc
    from candy_store_etl_spark.sources.tpch import load_table

    nation = load_table(spark, sf_correctness, "nation")
    url = "jdbc:derby:memory:candyjdbcw;create=true"
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .mode("overwrite")
        .save()
    )
    back = read_jdbc(spark, "jdbc:derby:memory:candyjdbcw", "nation")
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in nation.collect()
    }


def test_jdbc_pushdown_filter_and_partition_bounds(spark, sf_correctness):
    """The 100×-scale JDBC contract (round-4 verdict item): predicates
    must reach the database as pushed filters (the reference's
    full-table scan, data_processor.py:87-101, is exactly what a large
    deployment must not do), and a partitioned read must issue
    BOUND-disjoint per-split queries that reassemble the exact result.

    Evidence asserted: `PushedFilters` with the comparison on the JDBC
    scan relation in the plan, `numPartitions=4` on the relation, and
    the 4 splits' union equal to the filtered table."""
    from candy_store_etl_spark.sources.candy import read_jdbc
    from candy_store_etl_spark.sources.tpch import load_table

    nation = load_table(spark, sf_correctness, "nation")
    url = "jdbc:derby:memory:candyjdbcpd;create=true"
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .mode("overwrite")
        .save()
    )

    filtered = read_jdbc(spark, "jdbc:derby:memory:candyjdbcpd", "nation").filter(
        "n_regionkey >= 2"
    )
    plan = filtered._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "JDBCRelation(nation)" in plan, plan
    import re as _re

    m = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(n_regionkey,2)" in m.group(1), plan
    want = {tuple(r) for r in nation.filter("n_regionkey >= 2").collect()}
    assert {tuple(r) for r in filtered.collect()} == want

    part = read_jdbc(
        spark,
        "jdbc:derby:memory:candyjdbcpd",
        "nation",
        partitionColumn="n_nationkey",
        lowerBound="0",
        upperBound="25",
        numPartitions="4",
    ).filter("n_regionkey >= 2")
    pplan = part._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "numPartitions=4" in pplan, pplan
    assert "GreaterThanOrEqual(n_regionkey,2)" in pplan, pplan
    # per-split partition-bound SQL: each of the 4 splits contributes a
    # disjoint N_NATIONKEY stripe; the stripes reassemble exactly
    assert part.rdd.getNumPartitions() == 4
    per_split = (
        part.select("n_nationkey")
        .rdd.mapPartitions(lambda it: [sorted(r[0] for r in it)])
        .collect()
    )
    flat = [k for chunk in per_split for k in chunk]
    assert len(flat) == len(set(flat)), "splits overlap"
    assert {tuple(r) for r in part.collect()} == want


def test_custom_source_streams_day_per_microbatch(spark, tmp_path):
    """Streaming face of the Python DataSource: each day collection
    arrives as its own microbatch (offset = day index), the drained
    stream equals the batch read, and readBetweenOffsets replays a
    committed range exactly (checkpoint-recovery contract)."""
    import json as _json

    from candy_store_etl_spark.sources.custom_source import (
        CandyTransactionsDataSource,
        CandyTransactionsStreamReader,
    )

    root = tmp_path / "days"
    root.mkdir()
    for day, txns in [
        ("20240201", [{"transaction_id": 1, "customer_id": 10,
                       "timestamp": "2024-02-01 09:00:00",
                       "items": [{"product_id": 1, "product_name": "a", "qty": 2}]}]),
        ("20240202", [{"transaction_id": 2, "customer_id": 11,
                       "timestamp": "2024-02-02 09:00:00", "items": []},
                      {"transaction_id": 3, "customer_id": 12,
                       "timestamp": "2024-02-02 10:00:00",
                       "items": [{"product_id": 2, "product_name": "b", "qty": 1}]}]),
        ("20240203", [{"transaction_id": 4, "customer_id": 13,
                       "timestamp": "2024-02-03 09:00:00", "items": []}]),
    ]:
        (root / f"transactions_{day}.json").write_text(_json.dumps(txns))

    spark.dataSource.register(CandyTransactionsDataSource)
    stream = (
        spark.readStream.format("candy_transactions")
        .option("path", str(root))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("csetl_custom_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("csetl_custom_stream")
        batch = (
            spark.read.format("candy_transactions")
            .option("path", str(root))
            .load()
        )
        assert got.count() == batch.count() == 4
        assert sorted(
            r["day"] for r in got.select("day").distinct().collect()
        ) == ["20240201", "20240202", "20240203"]
    finally:
        q.stop()

    # replay contract: a committed range denotes its END day only
    # (each batch ingests exactly one day), so recovery re-reads that
    # day's file byte-identically — a file backfilled INSIDE the range
    # after commit must NOT be retroactively added to the replay
    rdr = CandyTransactionsStreamReader({"path": str(root)})
    replay = list(
        rdr.readBetweenOffsets(
            {"last_day": "20240201"}, {"last_day": "20240202"}
        )
    )
    assert [r[0] for r in replay] == [2, 3]
    # a wider committed range still replays only its END day — day 2
    # sitting inside (20240201, 20240203] is not re-emitted
    replay3 = list(
        rdr.readBetweenOffsets(
            {"last_day": "20240201"}, {"last_day": "20240203"}
        )
    )
    assert [r[0] for r in replay3] == [4]

    # live pickup: a file dropped after the reader exists is returned
    # by the next read() call (the listing is not frozen at init)
    (root / "transactions_20240204.json").write_text(
        _json.dumps(
            [{"transaction_id": 5, "customer_id": 14,
              "timestamp": "2024-02-04 09:00:00", "items": []}]
        )
    )
    rows, off = rdr.read({"last_day": "20240203"})
    assert [r[0] for r in rows] == [5] and off == {"last_day": "20240204"}


def test_custom_stream_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Stop-and-restart against the same checkpoint: the restarted
    query resumes from the committed day offset — days processed before
    the stop are NOT re-emitted, a file dropped while the query was
    down IS — the exactly-once contract a resume-token change stream
    promises."""
    import json as _json

    from candy_store_etl_spark.sources.custom_source import (
        CandyTransactionsDataSource,
    )

    root = tmp_path / "days"
    root.mkdir()

    def drop(day: str, tid: int) -> None:
        (root / f"transactions_{day}.json").write_text(
            _json.dumps(
                [{"transaction_id": tid, "customer_id": 1,
                  "timestamp": f"{day[:4]}-{day[4:6]}-{day[6:]} 09:00:00",
                  "items": []}]
            )
        )

    drop("20240201", 1)
    drop("20240202", 2)

    spark.dataSource.register(CandyTransactionsDataSource)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_round() -> None:
        q = (
            spark.readStream.format("candy_transactions")
            .option("path", str(root))
            .load()
            .select("transaction_id", "day")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_round()
    assert sorted(
        r["transaction_id"] for r in spark.read.json(out).collect()
    ) == [1, 2]

    drop("20240203", 3)  # lands while the query is DOWN
    run_round()
    # file sink + checkpoint: day 3 appended exactly once, days 1-2
    # NOT re-emitted from the committed offset — no duplicates
    assert sorted(
        r["transaction_id"] for r in spark.read.json(out).collect()
    ) == [1, 2, 3]


def test_transaction_ids_survive_past_int32(spark, tmp_path):
    """Ids are unbounded at scale: the 1000-day replica dataset's id
    offsets pass 2^31 around copy 21, and an int-typed schema NULLs
    every later id under permissive parsing (found when a 1000-day
    run's daily view collapsed from 1000 days to 220).
    Both readers must carry long ids losslessly."""
    import json

    from candy_store_etl_spark.sources.candy import read_transactions

    big = 9_942_219_278  # a real copy-99 id from the scaled dataset
    rows = [
        {
            "transaction_id": big,
            "customer_id": 1,
            "timestamp": "2026-10-27T10:00:00.000000",
            "items": [{"product_id": 1, "product_name": "x", "qty": 2}],
        }
    ]
    p = tmp_path / "transactions_20261027.json"
    p.write_text(json.dumps(rows))
    got = read_transactions(spark, str(p)).collect()
    assert got[0]["transaction_id"] == big

    from candy_store_etl_spark.sources.custom_source import (
        CandyTransactionsDataSource,
    )

    spark.dataSource.register(CandyTransactionsDataSource)
    got2 = (
        spark.read.format("candy_transactions")
        .option("path", str(tmp_path))
        .load()
        .collect()
    )
    assert got2[0]["transaction_id"] == big
