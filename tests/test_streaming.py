"""Streaming surface: batch/stream agreement for windowed aggregation,
state carry-over across micro-batches for allocation."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from candy_store_etl_spark.plans import QUERIES
from candy_store_etl_spark.plans.registry import _ensure_loaded
from candy_store_etl_spark.streaming.events import (
    stream_events,
    streaming_inventory_allocation,
    run_stream_to_memory,
    windowed_event_stats,
)

_ensure_loaded()


@pytest.fixture()
def events_dir(tmp_path, sf_smoke):
    """Stage the events parquet as a one-file stream directory."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(
        os.path.join(sf_smoke, "events.parquet"), d / "events.parquet"
    )
    return str(d)


def test_stream_matches_batch_hourly_stats(spark, sf_smoke, events_dir):
    stream = stream_events(spark, events_dir)
    agg = windowed_event_stats(stream, window="1 hour", watermark="2 hours")
    run_stream_to_memory(agg, "hourly_out", output_mode="append")
    got = {
        (r.bucket_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    want = {
        (r.bucket_start, r.event_type): (r.n, r.total_value)
        for r in QUERIES["hourly_event_stats"].fn(spark, sf_smoke).collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match batch exactly, and most windows must be emitted
    assert got, "stream produced no output"
    for k, v in got.items():
        assert want[k] == v, f"window {k}: stream={v} batch={want[k]}"
    assert len(got) >= 0.9 * len(want)


def test_streaming_dedup_matches_batch_distinct(spark, sf_smoke, events_dir):
    """Streaming dropDuplicates (key columns only) must equal batch
    SELECT DISTINCT exactly; the bounded-state withinWatermark variant
    agrees on a single-batch replay (all duplicates arrive inside the
    delay)."""
    from candy_store_etl_spark.sources.tpch import load_table
    from candy_store_etl_spark.streaming.events import dedup_event_stream

    want = {
        (r.user_id, r.event_type)
        for r in load_table(spark, sf_smoke, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    exact = dedup_event_stream(stream_events(spark, events_dir))
    run_stream_to_memory(exact, "dedup_exact_out", output_mode="append")
    got = {
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT * FROM dedup_exact_out").collect()
    }
    assert got == want
    # no duplicate emissions
    assert spark.sql("SELECT COUNT(*) c FROM dedup_exact_out").first().c == len(want)

    bounded = dedup_event_stream(
        stream_events(spark, events_dir), within_watermark=True
    )
    run_stream_to_memory(bounded, "dedup_wm_out", output_mode="append")
    got_wm = {
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT * FROM dedup_wm_out").collect()
    }
    assert got_wm == want


def test_streaming_sessions_match_batch_islands(spark, sf_smoke):
    """Emitted (watermark-closed) streaming sessions must agree exactly
    with the batch gaps-and-islands computation of the same rule."""
    from pyspark.sql import Window

    from candy_store_etl_spark.sources.tpch import load_table

    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in QUERIES["streaming_session_windows"]
        .fn(spark, sf_smoke)
        .collect()
    }
    assert got, "no sessions emitted"

    ev = load_table(spark, sf_smoke, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_s = 30 * 60
    marked = ev.select("user_id", "ts").withColumn(
        "new_s",
        (
            F.coalesce(
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)),
                F.lit(gap_s * 1_000_000),
            )
            >= gap_s * 1_000_000
        ).cast("int"),
    )
    sessions = (
        marked.withColumn(
            "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    want = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in sessions.collect()
    }
    for k, v in got.items():
        assert want.get(k) == v, f"session {k}: stream={v} batch={want.get(k)}"
    assert len(got) >= 0.5 * len(want)


def test_event_time_timeout_flags_abandoned_sessions(spark, tmp_path):
    """EventTimeTimeout: a user with no purchase within the gap emits
    abandoned=1 once the watermark passes their deadline; a purchaser
    emits abandoned=0 immediately."""
    import datetime as dt

    from candy_store_etl_spark.streaming.events import abandoned_sessions

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def rows(*specs):
        return [
            (uid, t0 + dt.timedelta(minutes=m), etype) for uid, m, etype in specs
        ]

    # batch 1: user 1 browses; user 2 browses then purchases
    b1 = rows((1, 0, "view"), (1, 2, "view"), (2, 1, "view"), (2, 3, "purchase"))
    # batch 2: user 3 events far in the future → watermark jumps past
    # user 1's (last activity + 30m) deadline
    b2 = rows((3, 120, "view"), (3, 125, "view"))
    for i, b in enumerate([b1, b2]):
        spark.createDataFrame(
            b, "user_id long, ts timestamp, event_type string"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "ab_in"))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ab_in"))
    )
    out = abandoned_sessions(stream, gap="30 minutes", gap_seconds=1800)
    run_stream_to_memory(out, "abandoned_out", output_mode="append")
    got = {
        r.user_id: (r.abandoned, r.n_events)
        for r in spark.sql("SELECT * FROM abandoned_out").collect()
    }
    assert got.get(2) == (0, 2), got  # purchased → converted
    assert got.get(1) == (1, 2), got  # silent past deadline → abandoned
    # user 3's deadline is never passed by the final watermark → no row
    assert 3 not in got or got[3][0] == 1


def test_foreach_batch_writes_epoch_partitioned_parquet(spark, tmp_path):
    """foreachBatch: each micro-batch lands as one idempotent
    epoch-keyed parquet partition; the union equals the input."""
    from candy_store_etl_spark.streaming.events import run_stream_foreach_batch

    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, float(j)) for j in range(5)], "k long, v double"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "fb_in"))

    out_dir = str(tmp_path / "fb_out")

    def sink(batch_df, epoch_id: int) -> None:
        # epoch-keyed overwrite → a retried epoch rewrites, never dups
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/epoch={epoch_id}"
        )

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "fb_in"))
    )
    run_stream_foreach_batch(
        stream, sink, checkpoint_dir=str(tmp_path / "fb_ckpt")
    )
    back = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/epoch=*")
    assert back.count() == 15
    assert sorted(r.k for r in back.collect()) == sorted(
        i * 10 + j for i in range(3) for j in range(5)
    )
    epochs = {r.epoch for r in back.select("epoch").distinct().collect()}
    assert len(epochs) == 3


def test_streaming_allocation_matches_batch_pipeline(
    spark, tmp_path, candy_history
):
    """The reference's daily batch loop as Structured Streaming: the
    first days' transaction files flow through the stateful allocation
    as one micro-batch each (state = running stock, exactly the
    inventory carry-over), and the result must equal the batch
    pipeline's allocation product-for-product. The short-stock
    products run out inside those days, so some items are cancelled."""
    from pyspark.sql import functions as F

    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products

    paths = candy_history.paths[: candy_history.SHORT_DAYS]
    products = read_products(spark, candy_history.short_products_csv)

    # batch ground truth
    batch = run_pipeline(spark, paths, products)
    assert batch["order_line_items"].filter("quantity = 0").count() > 0
    want_alloc = {
        r.product_id: r.q
        for r in batch["order_line_items"]
        .groupBy("product_id")
        .agg(F.sum("quantity").alias("q"))
        .collect()
    }
    want_stock = {
        r.product_id: r.current_stock
        for r in batch["products_updated"].collect()
    }

    from candy_store_etl_spark.plans.candy_pipeline import (
        run_allocation_streaming,
    )

    result = run_allocation_streaming(
        spark, paths, products, str(tmp_path / "work")
    )
    got = (
        result.groupBy("product_id")
        .agg(F.sum("allocated_qty").alias("q"))
        .collect()
    )
    got_alloc = {r.product_id: r.q for r in got}
    stock0 = {int(r.product_id): int(r.stock) for r in products.collect()}
    assert got_alloc == {
        k: v for k, v in want_alloc.items() if k in got_alloc
    } and set(got_alloc) == set(want_alloc), (
        f"allocation mismatch: stream={got_alloc} batch={want_alloc}"
    )
    for pid, stock in want_stock.items():
        assert stock0[pid] - got_alloc.get(pid, 0) == stock


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas: per-user totals must accumulate
    across micro-batches and end equal to the batch aggregate."""
    # the typed-state API speaks protobuf to the state server; absent
    # in this container → the operator is surface-gated (events.py)
    pytest.importorskip("google.protobuf.descriptor")
    from candy_store_etl_spark.streaming.events import (
        STREAMING_STATE_CONF,
        streaming_running_user_totals,
    )

    rows1 = [(1, 10.0), (1, 20.0), (2, 5.0)]
    rows2 = [(1, 1.5), (2, 2.5), (3, 7.0)]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.mode("append").parquet(str(tmp_path / "tws_in"))

    prev = {
        k: spark.conf.get(k, None) for k in STREAMING_STATE_CONF
    }
    for k, v in STREAMING_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "tws_in"))
        )
        out = streaming_running_user_totals(stream)
        run_stream_to_memory(out, "tws_out", output_mode="append")
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
    rows = spark.sql("SELECT * FROM tws_out").collect()
    # last emission per user = cumulative total
    final = {}
    for r in rows:
        final[r.user_id] = max(
            final.get(r.user_id, (0, 0.0)), (r.total_events, r.total_value)
        )
    assert final[1] == (3, 31.5)
    assert final[2] == (2, 7.5)
    assert final[3] == (1, 7.0)


def test_streaming_allocation_state_across_batches(spark, tmp_path):
    # two micro-batches (maxFilesPerTrigger=1) against stock that runs
    # out in the second → state must carry
    rows1 = [(7, 1, 6), (7, 2, 6)]
    rows2 = [(7, 3, 6), (7, 4, 1)]
    for i, rows in enumerate([rows1, rows2]):
        df = spark.createDataFrame(
            [(p, s, q, None) for p, s, q in rows],
            "product_id long, seq long, qty int, event_time timestamp",
        )
        df.coalesce(1).write.mode("append").parquet(str(tmp_path / "alloc_in"))
    stream = (
        spark.readStream.schema(
            "product_id long, seq long, qty int, event_time timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "alloc_in"))
    )
    out = streaming_inventory_allocation(stream, {7: 13})
    run_stream_to_memory(out, "alloc_out", output_mode="append")
    got = {
        r.seq: (r.allocated_qty, r.cancelled)
        for r in spark.sql("SELECT * FROM alloc_out").collect()
    }
    assert len(got) == 4
    # 13 units: within-batch order is by seq; across batches state
    # carries. 6+6 allocated leaves 1; third 6 cancelled; final 1 fits.
    assert sum(a for a, _ in got.values()) <= 13
    assert got[4] == (1, 0) or got[3] == (6, 0)
    total_alloc = sum(a for a, _ in got.values())
    total_cancel = sum(c for _, c in got.values())
    assert total_alloc == 13 and total_cancel == 1


def test_kafka_reader_options_plumbing(spark):
    """No Kafka jar in this container: the option map is pinned
    directly, and load() must die inside Spark's SOURCE RESOLUTION
    (proving format+options reach the JVM), not in Python."""
    import pytest

    from candy_store_etl_spark.streaming.events import (
        kafka_reader_options,
        stream_events_kafka,
    )

    opts = kafka_reader_options(
        "broker1:9092,broker2:9092", "events", maxOffsetsPerTrigger="5000"
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
    }
    with pytest.raises(ValueError, match="non-empty"):
        kafka_reader_options("", "events")
    with pytest.raises(ValueError, match="conflict"):
        kafka_reader_options("b:9092", "t", subscribe="other")
    with pytest.raises(Exception, match="(?i)kafka|data source"):
        stream_events_kafka(spark, "b:9092", "events")


def test_parse_event_ts_both_wire_formats(spark):
    """The Kafka value payload may carry ts as epoch NANOS (the parquet
    replay's representation) or ISO-8601; both must parse to the same
    timestamp, exactly (nanos->micros drops trailing digits by string
    slice — double division would wobble +-1us past 2^53)."""
    from candy_store_etl_spark.streaming.events import parse_event_ts

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("1718880000123456789", "2024-06-20 10:40:00.123456"),
            ("999", "1970-01-01 00:00:00"),  # < 1 microsecond -> epoch
        ],
        "nanos string, iso string",
    )
    got = df.select(
        parse_event_ts(F.col("nanos")).alias("from_nanos"),
        parse_event_ts(F.col("iso")).alias("from_iso"),
    ).collect()
    assert str(got[0].from_nanos) == "2024-06-20 10:40:00.123456"
    assert str(got[0].from_iso) == "2024-06-20 10:40:00.123456"
    assert str(got[1].from_nanos) == "1970-01-01 00:00:00"
    assert str(got[1].from_iso) == "1970-01-01 00:00:00"


def test_streaming_interval_join_matches_batch(spark, sf_smoke, events_dir):
    """Stream-stream interval self-join: bounded replay must emit
    exactly the batch inner join (inner matches emit as they form)."""
    from candy_store_etl_spark.streaming.events import interval_join_streams

    stream = stream_events(spark, events_dir)
    joined = interval_join_streams(
        stream, stream, within="30 minutes", watermark="1 hour"
    )
    run_stream_to_memory(joined, "ivjoin_out", output_mode="append")
    got = {
        (r.left_id, r.right_id): (r.user_id, r.left_value, r.lag_micros)
        for r in spark.sql("SELECT * FROM ivjoin_out").collect()
    }

    from candy_store_etl_spark.sources.tpch import load_table

    ev = load_table(spark, sf_smoke, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    e = ev.filter(F.col("event_type") == "error").alias("e")
    batch = p.join(
        e,
        (F.col("p.user_id") == F.col("e.user_id"))
        & (F.col("e.ts") >= F.col("p.ts"))
        & (F.col("e.ts") <= F.col("p.ts") + F.expr("INTERVAL 30 minutes")),
    ).select(
        F.col("p.event_id").alias("left_id"),
        F.col("e.event_id").alias("right_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.value").alias("left_value"),
        (F.unix_micros("e.ts") - F.unix_micros("p.ts")).alias("lag_micros"),
    )
    want = {
        (r.left_id, r.right_id): (r.user_id, r.left_value, r.lag_micros)
        for r in batch.collect()
    }
    assert got == want


def test_foreach_batch_incremental_aggregate_maintenance(spark, tmp_path):
    """Materialized-view maintenance via foreachBatch: each epoch
    merges its micro-batch's partial aggregate into a keyed snapshot
    (read-merge-rewrite through a staging swap — the no-transactional-
    sink upsert). The final snapshot must equal the one-shot batch
    aggregate over all input."""
    import shutil

    from candy_store_etl_spark.streaming.events import run_stream_foreach_batch

    for i in range(4):
        spark.createDataFrame(
            [(j % 7, float(i * 100 + j)) for j in range(25)], "k long, v double"
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "mv_in"))

    snap = str(tmp_path / "mv_snapshot")

    def merge(batch_df, epoch_id: int) -> None:
        part = batch_df.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )
        if os.path.isdir(snap):
            prev = spark.read.parquet(snap)
            merged = (
                prev.unionByName(part)
                .groupBy("k")
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            )
        else:
            merged = part
        staging = f"{snap}.epoch{epoch_id}.staging"
        merged.write.mode("overwrite").parquet(staging)
        old = f"{snap}.old"
        if os.path.isdir(snap):
            os.rename(snap, old)
        os.rename(staging, snap)
        shutil.rmtree(old, ignore_errors=True)

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "mv_in"))
    )
    run_stream_foreach_batch(
        stream, merge, checkpoint_dir=str(tmp_path / "mv_ckpt")
    )
    got = {
        (r.k, r.n, round(r.s, 6))
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        (r.k, r.n, round(r.s, 6))
        for r in spark.read.parquet(str(tmp_path / "mv_in"))
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart semantics: a query stopped and relaunched from the SAME
    checkpoint must process each input file exactly once — the union of
    epoch-keyed outputs across both runs equals the batch answer, with
    no duplicates and no gaps. This is the offset-tracking contract a
    production deployment leans on when executors or drivers die."""
    import shutil

    from candy_store_etl_spark.streaming.events import run_stream_foreach_batch

    in_dir = tmp_path / "ck_in"
    in_dir.mkdir()
    staging = tmp_path / "ck_staging"
    staging.mkdir()
    for i in range(6):
        spark.createDataFrame(
            [(i * 100 + j, float(j)) for j in range(10)], "k long, v double"
        ).coalesce(1).write.mode("overwrite").parquet(str(staging / f"f{i}"))

    def add_file(i: int) -> None:
        (part,) = [
            p for p in os.listdir(staging / f"f{i}") if p.startswith("part-")
        ]
        shutil.copy(staging / f"f{i}" / part, in_dir / f"{i:02d}.parquet")

    out_dir = str(tmp_path / "ck_out")
    ckpt = str(tmp_path / "ck_ckpt")

    def sink(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    def run_once() -> None:
        stream = (
            spark.readStream.schema("k long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        run_stream_foreach_batch(stream, sink, checkpoint_dir=ckpt)

    # phase 1: three files, run to completion, "crash" (query stopped)
    for i in range(3):
        add_file(i)
    run_once()
    n_phase1 = spark.read.option("basePath", out_dir).parquet(
        f"{out_dir}/epoch=*"
    ).count()
    assert n_phase1 == 30

    # phase 2: three more files arrive; a NEW query resumes from the
    # same checkpoint — already-committed files must not reprocess
    for i in range(3, 6):
        add_file(i)
    run_once()

    back = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/epoch=*")
    got = sorted(r.k for r in back.collect())
    want = sorted(i * 100 + j for i in range(6) for j in range(10))
    assert got == want  # every row exactly once, across the restart
    epochs = {r.epoch for r in back.select("epoch").distinct().collect()}
    assert len(epochs) == 6  # each file its own epoch, monotonic ids


def test_foreachbatch_merge_upsert_sink(spark, sf_correctness, tmp_path):
    """The production warehouse-sink pattern: a MULTI-batch stream
    drained through foreachBatch, each microbatch MERGE-upserted into a
    parquet state table (read-modify-write full-outer reconciliation —
    the plan a Delta MERGE lowers to), with a batch-id ledger making
    replayed batches no-ops (foreachBatch is at-least-once; without
    the guard a crash between state swap and checkpoint commit would
    double-count on restart). After the drain the accumulated state
    must equal the all-at-once batch aggregate — the merge is
    associative over microbatch boundaries — and a manual replay of a
    committed batch must change nothing."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from candy_store_etl_spark.sources.tpch import load_table
    from candy_store_etl_spark.streaming.events import stream_events

    # stage events as FOUR files: maxFilesPerTrigger=1 in stream_events
    # makes each file its own microbatch, so the merge branch and the
    # cross-batch associativity genuinely execute (a single-file stage
    # would leave the reconciliation path dead code)
    events = load_table(spark, sf_correctness, "events")
    stage = str(tmp_path / "events_stage")
    events.withColumn(
        "part", F.pmod(F.col("event_id"), F.lit(4))
    ).write.partitionBy("part").mode("overwrite").parquet(stage)
    part_dirs = sorted(
        d for d in os.listdir(stage) if d.startswith("part=")
    )
    flat = str(tmp_path / "events_flat")
    os.makedirs(flat)
    for i, d in enumerate(part_dirs):
        src = [f for f in os.listdir(os.path.join(stage, d)) if f.endswith(".parquet")]
        for j, f in enumerate(src):
            shutil.copy(
                os.path.join(stage, d, f), os.path.join(flat, f"ev-{i}-{j}.parquet")
            )
    assert len(os.listdir(flat)) >= 4

    state_dir = str(tmp_path / "user_state")
    ledger_dir = str(tmp_path / "applied_batches")
    os.makedirs(ledger_dir)
    batches_seen = []

    def merge_batch(batch_df, batch_id: int) -> None:
        # idempotency ledger: a replayed batch_id is a no-op
        marker = os.path.join(ledger_dir, str(batch_id))
        if os.path.exists(marker):
            return
        batches_seen.append(batch_id)
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            ),
        )
        if os.path.isdir(state_dir):
            cur = batch_df.sparkSession.read.parquet(state_dir)
            t = cur.select(
                F.col("user_id").alias("k"),
                F.col("n_events").alias("tn"),
                F.col("cents").alias("tc"),
            )
            merged = t.join(inc, t.k == inc.user_id, "full_outer").select(
                F.coalesce("k", "user_id").alias("user_id"),
                (F.coalesce("tn", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias(
                    "n_events"
                ),
                (F.coalesce("tc", F.lit(0)) + F.coalesce("cents", F.lit(0))).alias(
                    "cents"
                ),
            )
        else:
            merged = inc
        # stage-then-swap: read and write touch the same path, so
        # materialize to a fresh dir first. The rmtree+rename pair is
        # NOT atomic (a crash in between leaves no state dir) — the
        # batch-id ledger above is what makes recovery correct: the
        # replay rebuilds from the last committed checkpoint batch.
        swap = state_dir + f".stage{batch_id}"
        merged.write.mode("overwrite").parquet(swap)
        if os.path.isdir(state_dir):
            shutil.rmtree(state_dir)
        os.rename(swap, state_dir)
        with open(marker, "w") as fh:
            fh.write("applied")

    q = (
        stream_events(spark, flat)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not drain within 300s"
    finally:
        q.stop()
    assert len(batches_seen) >= 4, batches_seen  # multi-batch really ran

    def read_state():
        return {
            r["user_id"]: (r["n_events"], r["cents"])
            for r in spark.read.parquet(state_dir).collect()
        }

    got = read_state()
    want = {
        r["user_id"]: (r["n"], r["c"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == want and len(got) > 0

    # at-least-once replay: re-applying a committed batch is a no-op
    replay_df = spark.read.parquet(os.path.join(flat, os.listdir(flat)[0]))
    merge_batch(replay_df, batches_seen[0])
    assert read_state() == want


def test_streaming_progress_exposes_state_metrics(spark, sf_correctness, tmp_path):
    """Operational visibility: a stateful streaming query must report
    its state-store footprint in lastProgress (numRowsTotal etc.) —
    the signal a 100 TB deployment alarms on before state outgrows
    executors."""
    from pyspark.sql import functions as F

    from candy_store_etl_spark.plans.streaming_queries import _events_stream

    ev = _events_stream(spark, sf_correctness)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("csetl_progress_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        prog = q.lastProgress
        assert prog is not None
        ops = prog["stateOperators"]
        assert ops and ops[0]["numRowsTotal"] > 0, prog
        assert prog["sources"][0]["numInputRows"] > 0, prog
    finally:
        q.stop()


def test_bucketed_streaming_allocation_matches_per_product(spark, tmp_path):
    """Round-6: the bucket-keyed state form (one state row per bucket
    holding stock VECTORS, batch-kernel scan) must produce exactly the
    per-product form's allocations — multiple products per bucket,
    state carrying across batches, a product unseen in batch 1
    appearing in batch 2, and an unknown product (0 stock)."""
    from candy_store_etl_spark.streaming.events import (
        streaming_inventory_allocation_bucketed,
    )

    rows1 = [(7, 1, 6), (7, 2, 6), (8, 3, 5), (9, 4, 2)]
    rows2 = [(7, 5, 6), (7, 6, 1), (8, 7, 5), (10, 8, 3), (99, 9, 1)]
    for rows in [rows1, rows2]:
        df = spark.createDataFrame(
            [(p, s, q, None) for p, s, q in rows],
            "product_id long, seq long, qty int, event_time timestamp",
        )
        df.coalesce(1).write.mode("append").parquet(str(tmp_path / "ba_in"))
    stock = {7: 13, 8: 7, 9: 2, 10: 0}

    def run(factory, table):
        stream = (
            spark.readStream.schema(
                "product_id long, seq long, qty int, event_time timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "ba_in"))
        )
        run_stream_to_memory(factory(stream), table, output_mode="append")
        return {
            r.seq: (r.product_id, r.allocated_qty, r.cancelled)
            for r in spark.sql(f"SELECT * FROM {table}").collect()
        }

    got_b = run(
        lambda s: streaming_inventory_allocation_bucketed(
            s, stock, buckets=2
        ),
        "ba_bucketed",
    )
    got_p = run(
        lambda s: streaming_inventory_allocation(s, stock), "ba_perprod"
    )
    assert got_b == got_p and len(got_b) == 9
    # spot-pin the carry-over semantics: product 7 = 6+6 in batch 1,
    # then 6 cancelled + 1 allocated in batch 2; product 8's second 5
    # cancelled (7-5=2 left); unknown 99 and zero-stock 10 cancelled
    assert got_b[5] == (7, 0, 1) and got_b[6] == (7, 1, 0)
    assert got_b[7] == (8, 0, 1)
    assert got_b[8] == (10, 0, 1) and got_b[9] == (99, 0, 1)


def test_streaming_allocation_correct_across_arrow_chunk_boundaries(
    spark, tmp_path
):
    """Round-6 review finding: a group's micro-batch arrives as an
    ITERATOR of Arrow chunks in arrival order — sorting each chunk
    independently allocates later seqs first whenever a batch spans
    chunks. Force 2-row chunks and an adversarial reverse-seq file:
    the big late order (seq 6, qty 10) must be CANCELLED because seqs
    1-5 (qty 1 each) drain stock 10 to 5 first."""
    from candy_store_etl_spark.streaming.events import (
        streaming_inventory_allocation_bucketed,
    )

    rows = [(7, s, 1) for s in range(1, 6)] + [(7, 6, 10)]
    rows.sort(key=lambda r: -r[1])  # reversed seq order in the file
    df = spark.createDataFrame(
        [(p, s, q, None) for p, s, q in rows],
        "product_id long, seq long, qty int, event_time timestamp",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "cb_in"))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        for factory, table in [
            (
                lambda s: streaming_inventory_allocation(s, {7: 10}),
                "cb_perprod",
            ),
            (
                lambda s: streaming_inventory_allocation_bucketed(
                    s, {7: 10}, buckets=2
                ),
                "cb_bucketed",
            ),
        ]:
            stream = (
                spark.readStream.schema(
                    "product_id long, seq long, qty int, event_time timestamp"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path / "cb_in"))
            )
            run_stream_to_memory(factory(stream), table, output_mode="append")
            got = {
                r.seq: (r.allocated_qty, r.cancelled)
                for r in spark.sql(f"SELECT * FROM {table}").collect()
            }
            assert got[6] == (0, 1), (table, got)  # the late big order
            assert all(got[s] == (1, 0) for s in range(1, 6)), (table, got)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )


def test_replay_state_partitions_never_shrinks_locally(spark, monkeypatch):
    """r13 scale posture: bounded replays size their state-store count
    as max(session shuffle partitions, defaultParallelism) — the
    IDENTITY locally (the r12 A/B measured shrinking to the core count
    slower, so the local value must never go down), a lift on clusters
    whose core count exceeds the session default. Env override pins an
    explicit value; the scoped setter must restore the session conf."""
    from candy_store_etl_spark.streaming.events import (
        _scoped_shuffle_partitions,
        replay_state_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", raising=False)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    dp = spark.sparkContext.defaultParallelism
    try:
        # session default above the core count: unchanged (no shrink)
        spark.conf.set("spark.sql.shuffle.partitions", str(dp + 100))
        assert replay_state_partitions(spark) == dp + 100
        # session default below the core count: lifted to the cores
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert replay_state_partitions(spark) == dp
        # explicit override wins
        monkeypatch.setenv("SPARK_GRAFT_REPLAY_STATE_PARTITIONS", "7")
        assert replay_state_partitions(spark) == 7
        monkeypatch.delenv("SPARK_GRAFT_REPLAY_STATE_PARTITIONS")
        # the scoped setter restores the session value, even on error
        spark.conf.set("spark.sql.shuffle.partitions", "123")
        with _scoped_shuffle_partitions(spark, 456):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "456"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
        try:
            with _scoped_shuffle_partitions(spark, 456):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
