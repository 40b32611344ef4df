"""Round-12: manifest-chain hardening (incarnation tokens, dangler
vacuum, intra-batch dup guard, published-read pruning), the batched/
maintained faces of range serving, and the IVM-chain crash deferral
pinned by a test.

Verdict items 4-7 + all four round-11 ADVICE lows.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from candy_store_etl_spark.sources import table_log as tl

SF_SMOKE = "/root/testdata/sf0.001"


def _docs(spark):
    from candy_store_etl_spark.sources.tpch import load_table

    return load_table(spark, SF_SMOKE, "documents")


# ---------------------------------------------------------------------------
# Incarnation identity: content-hashed, manifest-init tokened (ADVICE low #1)
# ---------------------------------------------------------------------------


def test_manifest_incarnations_differ_by_content(tmp_path):
    """Two same-path incarnations of a manifest must yield DIFFERENT
    incarnation identities even if inode/mtime/size were to collide:
    manifest_init embeds a random token in v0, and the identity
    digests v0's bytes. (The stat triple alone cannot distinguish
    byte-identical v0s — the exact stale-ledger hazard of round-11
    ADVICE.)"""
    import shutil

    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    first = tl.incarnation_identity(man)
    v0 = open(
        os.path.join(man, tl.LOG_DIR, "00000000.json"), "rb"
    ).read()
    shutil.rmtree(man)
    tl.manifest_init(man)
    second = tl.incarnation_identity(man)
    v0b = open(
        os.path.join(man, tl.LOG_DIR, "00000000.json"), "rb"
    ).read()
    assert v0 != v0b  # the incarnation token makes v0 content-unique
    assert first is not None and second is not None
    assert first[-1] != second[-1]  # content digests differ
    # idempotent: re-init of an existing manifest is a no-op
    tl.manifest_init(man)
    assert tl.incarnation_identity(man) == second


def test_manifest_published_cache_rebuild_by_content(spark, tmp_path):
    """The O(delta) manifest cache must drop a dead incarnation even
    when the rebuild replays the same version numbers: keyed on the
    content-hashed identity."""
    import shutil

    man = str(tmp_path / "m2")
    tl.manifest_init(man)
    tl.manifest_publish(man, {"sigs": 0}, op="b0", base_version=0)
    assert tl.manifest_published(man) == {"sigs": [0]}
    shutil.rmtree(man)
    tl.manifest_init(man)
    tl.manifest_publish(man, {"sigs": 7}, op="b0", base_version=0)
    assert tl.manifest_published(man) == {"sigs": [7]}


# ---------------------------------------------------------------------------
# read_published_pruned (verdict item #7)
# ---------------------------------------------------------------------------


def _member_with_versions(spark, table_dir: str) -> list[int]:
    """Three appended versions, each range-clustered on k with
    committed stats: v0 holds k in [0, 9], v1 [100, 109], v2
    [200, 209]; 2 files per version."""
    versions = []
    for base in (0, 100, 200):
        df = spark.createDataFrame(
            [(base + i, f"p{base + i}") for i in range(10)], "k long, v string"
        ).repartitionByRange(2, "k")
        versions.append(
            tl.append(df, table_dir, op=f"b{base}", stats_cols=["k"])
        )
    return versions


def test_read_published_pruned_values_probe(spark, tmp_path):
    t = str(tmp_path / "member")
    versions = _member_with_versions(spark, t)
    # probe values live only in v1's range: v0/v2 files never open
    df, kept, total = tl.read_published_pruned(
        spark, t, versions, "k", values=[103, 105]
    )
    assert total == 6 and 1 <= kept <= 2
    rows = {r["k"] for r in df.collect()}
    # superset contract: all rows of kept files, which must include
    # the probe matches and nothing outside v1's range
    assert {103, 105} <= rows <= set(range(100, 110))
    # a probe hitting nothing keeps zero files and returns empty
    df0, kept0, _ = tl.read_published_pruned(
        spark, t, versions, "k", values=[55]
    )
    assert kept0 == 0 and df0.count() == 0


def test_read_published_pruned_range_equals_filtered_full(spark, tmp_path):
    t = str(tmp_path / "member2")
    versions = _member_with_versions(spark, t)
    df, kept, total = tl.read_published_pruned(
        spark, t, versions, "k", lo=5, hi=205
    )
    want = sorted(
        r["k"]
        for r in tl.read_published(spark, t, versions)
        .filter((F.col("k") >= 5) & (F.col("k") <= 205))
        .collect()
    )
    assert sorted(r["k"] for r in df.collect()) == want
    assert kept < total  # v0's low file and v2's high file pruned


def test_read_published_pruned_keeps_statless_files(spark, tmp_path):
    """Files committed WITHOUT stats (pre-pruning chains) are always
    kept — lossless."""
    t = str(tmp_path / "member3")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v = tl.append(df, t)  # no stats_cols
    got, kept, total = tl.read_published_pruned(
        spark, t, [v], "k", values=[999]
    )
    assert kept == total and got.count() == 2


# ---------------------------------------------------------------------------
# manifest_vacuum (ADVICE low #3)
# ---------------------------------------------------------------------------


def test_dangling_report_counts_then_clears(spark, tmp_path):
    """dangling_report is the pollable side of manifest_vacuum (the
    maintenance_due pattern): it counts unpublished versions/files/
    bytes per member and flags their age; the sweep zeroes it."""
    root = str(tmp_path)
    man = os.path.join(root, "manifest")
    member = os.path.join(root, "sigs")
    tl.manifest_init(man)
    v = tl.append(spark.createDataFrame([(1,)], "k long"), member, op="b0")
    tl.manifest_publish(
        man, {"sigs": v}, op="b0", base_version=tl.current_version(man)
    )
    rep = tl.dangling_report(man, {"sigs": member})
    assert rep["sigs"]["dangling_versions"] == 0
    tl.append(spark.createDataFrame([(2,)], "k long"), member, op="b1")
    rep = tl.dangling_report(man, {"sigs": member})
    assert rep["sigs"]["dangling_versions"] == 1
    assert rep["sigs"]["dangling_files_on_disk"] >= 1
    assert rep["sigs"]["dangling_bytes"] > 0
    assert rep["sigs"]["youngest_age_s"] is not None
    assert rep["sigs"]["youngest_age_s"] < 60  # in-flight-aged
    tl.manifest_vacuum(man, {"sigs": member}, grace_seconds=0.0)
    rep = tl.dangling_report(man, {"sigs": member})
    # the swept version's files are gone from disk; its entry remains
    # in the log but holds no reclaimable bytes
    assert rep["sigs"]["dangling_files_on_disk"] == 0
    assert rep["sigs"]["dangling_bytes"] == 0


def test_manifest_vacuum_sweeps_danglers_only(spark, tmp_path):
    root = str(tmp_path)
    man = os.path.join(root, "manifest")
    member = os.path.join(root, "sigs")
    tl.manifest_init(man)
    pub_v = tl.append(
        spark.createDataFrame([(1,)], "k long"), member, op="b0"
    )
    tl.manifest_publish(
        man, {"sigs": pub_v}, op="b0",
        base_version=tl.current_version(man),
    )
    # a dangling append: a crashed batch's partial work
    tl.append(spark.createDataFrame([(2,)], "k long"), member, op="b1")
    files_before = set(tl.snapshot_files(member))
    assert len(files_before) >= 2

    # inside the grace window: nothing is swept (could be in-flight)
    out = tl.manifest_vacuum(man, {"sigs": member}, grace_seconds=3600)
    assert out["sigs"] == []

    out = tl.manifest_vacuum(man, {"sigs": member}, grace_seconds=0.0)
    assert out["sigs"]  # dangler files physically deleted
    # published reads unchanged
    pub = tl.manifest_published(man)
    rows = tl.read_published(spark, member, pub["sigs"]).collect()
    assert [r["k"] for r in rows] == [1]
    # the published version's files still exist on disk
    for v in pub["sigs"]:
        entry = tl._read_entry(member, v)
        for n in entry["add"]:
            assert os.path.exists(os.path.join(member, n))
    # idempotent: a second sweep finds nothing
    out2 = tl.manifest_vacuum(man, {"sigs": member}, grace_seconds=0.0)
    assert out2["sigs"] == []


# ---------------------------------------------------------------------------
# maintain_neardup_index: intra-batch dup guard (ADVICE low #4) + pruning
# ---------------------------------------------------------------------------


def test_maintained_index_rejects_intra_batch_duplicate_ids(
    spark, tmp_path
):
    """A batch carrying the same doc id twice must fail BEFORE any
    append — even on the chain's very first batch, where the
    published-history clash guard has nothing to compare against."""
    from candy_store_etl_spark.operators.dedup import (
        maintain_neardup_index,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (1, "a b c d e"), (2, "f g h i j")],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    with pytest.raises(ValueError, match="more than once"):
        maintain_neardup_index(spark, docs, ix, batch_tag="b0")
    # nothing landed: a clean retry with a fixed batch succeeds
    for d in ("signatures", "buckets", "pairs"):
        assert tl.current_version(os.path.join(ix, d)) is None
    fixed = docs.dropDuplicates(["doc_id"])
    assert maintain_neardup_index(spark, fixed, ix, batch_tag="b0")


def _synthetic_batches(spark):
    """Four batches with CONTIGUOUS, disjoint id ranges (what a real
    monotonic-ingest chain looks like): batches 0-2 are mutually
    dissimilar (unique token vocabularies), batch 3 contains near-
    duplicates of BATCH 1's docs only (2 of 30 words perturbed), so
    its candidate partners all live in one published version."""
    def mk(batch: int, base: int, texts: list[str]):
        return spark.createDataFrame(
            [(base + i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def vocab(tag: str, i: int) -> str:
        return " ".join(f"w{tag}x{i}n{j}" for j in range(30))

    b0 = mk(0, 0, [vocab("a", i) for i in range(20)])
    b1_texts = [vocab("b", i) for i in range(20)]
    b1 = mk(1, 1000, b1_texts)
    b2 = mk(2, 2000, [vocab("c", i) for i in range(20)])
    near = [
        t.replace("n3", "ZZ3").replace("n17", "ZZ17") for t in b1_texts
    ]
    b3 = mk(3, 3000, near)
    return [b0, b1, b2, b3]


def test_maintained_index_probe_reads_are_pruned(spark, tmp_path):
    """On a multi-batch chain, the increment's probe reads must open
    FEWER files than the published total (verdict item #7's done-bar):
    the clash guard prunes to the batch's id range (disjoint from all
    history here -> 0 files), the similarity join to candidate-pair
    ids (all in batch 1's version -> 1 of 3 files) — both from the
    commits' per-file stats. And the maintained pair set must STILL
    equal the from-scratch recomputation over the whole corpus."""
    from candy_store_etl_spark.operators.dedup import (
        maintain_neardup_index,
        minhash_dedup_pairs,
    )

    parts = _synthetic_batches(spark)
    ix = str(tmp_path / "ix")
    for r, part in enumerate(parts[:3]):
        assert maintain_neardup_index(
            spark, part, ix, batch_tag=f"b{r}"
        )
    info: dict = {}
    assert maintain_neardup_index(
        spark, parts[3], ix, batch_tag="b3", info=info
    )
    # pruning evidence: the probes opened strict subsets
    assert info["sig_files_total"] >= 3  # one+ file per published batch
    assert info["clash_sig_files_scanned"] == 0  # disjoint id range
    assert 0 < info["sim_sig_files_scanned"] < info["sig_files_total"]
    # bucket probe: hash-spread values may legitimately keep all files,
    # but the prune must have engaged (not -1/skipped) at this size
    assert 0 <= info["bkt_files_scanned"] <= info["bkt_files_total"]

    maintained = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in tl.read_snapshot(
            spark, os.path.join(ix, "pairs")
        ).collect()
    )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    scratch = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in minhash_dedup_pairs(
            corpus, "doc_id", "text", num_perm=64, bands=16,
            threshold=0.4, method="portable",
        ).collect()
    )
    assert maintained == scratch and len(maintained) > 0


# ---------------------------------------------------------------------------
# serve_range_batch (verdict item #4)
# ---------------------------------------------------------------------------


def _clustered_table(spark, table_dir: str) -> None:
    df = spark.createDataFrame(
        [(i, i * 10.0) for i in range(200)], "k long, val double"
    )
    tl.append(df, table_dir)
    tl.compact(
        spark, table_dir, target_files=8, sort_by="k", stats_cols=["k"]
    )


def test_serve_range_batch_equals_per_probe_union(spark, tmp_path):
    from candy_store_etl_spark.operators.colocated import (
        serve_range,
        serve_range_batch,
    )

    t = str(tmp_path / "tbl")
    _clustered_table(spark, t)
    # the middle range shares a file with the first (both touch the
    # 0-24 file of the 8-file clustered layout): the amortization
    # claim (union < sum of per-probe) needs probes that overlap in
    # FILES, which real range workloads do constantly
    ranges = [(5, 20), (10, 30), (90, 110)]
    got, info = serve_range_batch(
        spark, t, "k", ranges, record_routes=False
    )
    assert info["route"] == "stats-pruned"
    # amortization: ONE union scan opens fewer files than 3
    # independent probes would have, and never more than the total
    assert info["files_scanned"] < info["files_scanned_per_probe_sum"]
    assert info["files_scanned"] <= info["files_total"]
    want = []
    for i, (lo, hi) in enumerate(ranges):
        df, _ = serve_range(spark, t, "k", lo, hi, record_routes=False)
        want += [
            (i, r["k"], r["val"]) for r in df.collect()
        ]
    got_rows = sorted(
        (r["range_id"], r["k"], r["val"]) for r in got.collect()
    )
    assert got_rows == sorted(want) and len(got_rows) > 0


def test_serve_range_batch_full_scan_route(spark, tmp_path):
    from candy_store_etl_spark.operators.colocated import (
        serve_range_batch,
    )

    t = str(tmp_path / "plain")
    tl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k long, val double"
        ),
        t,
    )  # no stats: coverage 0
    got, info = serve_range_batch(
        spark, t, "k", [(0, 5), (40, 49)], record_routes=False
    )
    assert info["route"] == "full-scan"
    rows = sorted((r["range_id"], r["k"]) for r in got.collect())
    assert rows == sorted(
        [(0, k) for k in range(6)] + [(1, k) for k in range(40, 50)]
    )


def test_serve_range_batch_overlapping_ranges_tag_twice(spark, tmp_path):
    from candy_store_etl_spark.operators.colocated import (
        serve_range_batch,
    )

    t = str(tmp_path / "tbl2")
    _clustered_table(spark, t)
    got, _ = serve_range_batch(
        spark, t, "k", [(10, 12), (11, 13)], record_routes=False
    )
    rows = sorted((r["range_id"], r["k"]) for r in got.collect())
    assert rows == [
        (0, 10), (0, 11), (0, 12), (1, 11), (1, 12), (1, 13),
    ]


# ---------------------------------------------------------------------------
# Stats-coverage maintenance loop (verdict item #5)
# ---------------------------------------------------------------------------


def test_maintenance_hint_after_streak_clears_after_compact(
    spark, tmp_path
):
    """The closed loop: K consecutive full-scan-routed probes raise
    the hint (in maintenance_due AND the serving info), running the
    prescribed compact clears it IMMEDIATELY, and the next probe
    routes stats-pruned (resetting the streak in the ledger)."""
    from candy_store_etl_spark.operators.colocated import (
        MAINTENANCE_FULL_SCAN_STREAK,
        maintenance_due,
        serve_range,
    )

    t = str(tmp_path / "tbl")
    tl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, val double"
        ),
        t,
    )  # no stats -> full-scan regime
    last_info: dict = {}
    for i in range(MAINTENANCE_FULL_SCAN_STREAK):
        due_before = maintenance_due(t, "k")
        assert due_before["due"] is (False if i == 0 else due_before["due"])
        df, last_info = serve_range(spark, t, "k", 10, 20)
        assert last_info["route"] == "full-scan"
        assert df.count() == 11
    hint = maintenance_due(t, "k")
    assert hint["due"] is True
    assert hint["full_scan_streak"] >= MAINTENANCE_FULL_SCAN_STREAK
    # the Kth probe's own info surfaced the hint
    assert "maintenance_hint" in last_info
    assert "compact" in last_info["maintenance_hint"]

    # run exactly the prescribed maintenance
    tl.compact(spark, t, target_files=4, sort_by="k", stats_cols=["k"])
    after = maintenance_due(t, "k")
    assert after["due"] is False  # clears without waiting for a probe
    assert after["stats_coverage"] >= 0.5

    df, info = serve_range(spark, t, "k", 10, 20)
    assert info["route"] == "stats-pruned"
    assert df.count() == 11
    assert info["files_scanned"] < info["files_total"]
    # the pruned probe reset the ledger streak
    assert maintenance_due(t, "k")["full_scan_streak"] == 0


def test_maintenance_streak_is_per_column(spark, tmp_path):
    from candy_store_etl_spark.operators.colocated import (
        maintenance_due,
        serve_range,
    )

    t = str(tmp_path / "tbl")
    tl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, val double"
        ),
        t,
    )
    for _ in range(3):
        serve_range(spark, t, "k", 0, 5)
    serve_range(spark, t, "val", 0.0, 5.0)
    # val's single probe must not inherit k's streak, and k's streak
    # must survive the interleaved val probe
    assert maintenance_due(t, "val")["full_scan_streak"] == 1
    assert maintenance_due(t, "k")["full_scan_streak"] >= 3


# ---------------------------------------------------------------------------
# IVM chain: crash between the usage drain and the daily drain
# (verdict item #6 — the manifest deferral pinned by a test)
# ---------------------------------------------------------------------------


def test_ingest_days_crash_between_hops_repairs_on_rerun(
    spark, tmp_path, monkeypatch, candy_history
):
    """Kill the ingest after the line-items append + orders/usage
    drains but BEFORE the orders->daily drain; re-running the same
    ingest must repair the chain (catch-up drains) so the daily view
    hash-matches the full recompute — the written-down reason the IVM
    chain defers manifest adoption: per-hop single-table atomicity +
    checkpointed drains already make a half-ingested day exactly
    repairable."""
    from candy_store_etl_spark.plans import candy_colocated as cc
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products

    products = read_products(spark, candy_history.short_products_csv)
    paths = candy_history.paths[:2]
    work = str(tmp_path / "ivm")
    assert cc.ingest_days(spark, [paths[0]], products, work)

    # day 2: crash before the daily drain — the orders->daily drain
    # (ckpt_daily) of the post-append _drain_all; the pre-append
    # catch-up _drain_all's calls run clean (day-1 is fully drained).
    # ingest_days imports run_stream_foreach_batch from
    # streaming.events at call time, so patch it at its SOURCE module.
    from candy_store_etl_spark.streaming import events as ev

    real_drain = ev.run_stream_foreach_batch
    calls = {"daily_after_append": 0}

    class Boom(RuntimeError):
        pass

    seen = {"appended": False}

    def exploding(df, sink, *, checkpoint_dir, **kw):
        if checkpoint_dir.endswith("ckpt_daily") and seen["appended"]:
            calls["daily_after_append"] += 1
            raise Boom("simulated crash before the daily drain")
        return real_drain(df, sink, checkpoint_dir=checkpoint_dir, **kw)

    monkeypatch.setattr(ev, "run_stream_foreach_batch", exploding)
    # mark the append boundary: the catch-up drains run BEFORE the
    # append, the crash must hit the post-append drain
    real_write = cc.write_bucketed

    def marking_write(*a, **kw):
        out = real_write(*a, **kw)
        if kw.get("extra_meta", {}).get("day"):
            seen["appended"] = True
        return out

    monkeypatch.setattr(cc, "write_bucketed", marking_write)
    with pytest.raises(Boom):
        cc.ingest_days(spark, [paths[1]], products, work)
    assert calls["daily_after_append"] == 1
    monkeypatch.setattr(ev, "run_stream_foreach_batch", real_drain)
    monkeypatch.setattr(cc, "write_bucketed", real_write)

    # rerun the same day: tag already ingested -> False, but the
    # catch-up drains must first repair the half-ingested day
    assert cc.ingest_days(spark, [paths[1]], products, work) is False

    got = cc.read_pipeline_outputs(spark, work, products)["daily_summary"]
    want = run_pipeline(spark, paths, products)["daily_summary"]
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) == 2


# ---------------------------------------------------------------------------
# Manifest checkpointing: cold resolve is O(tail), not O(publish history)
# ---------------------------------------------------------------------------


def _publish_n(man: str, n: int, *, start: int = 0) -> None:
    for i in range(start, start + n):
        tabs = {"a": 100 + i}
        if i % 3 == 0:
            tabs["b"] = 200 + i
        tl.manifest_publish(
            man, tabs, op=f"batch-{i}",
            base_version=tl.current_version(man),
        )


def _direct_fold(man: str, upto: int) -> dict[str, list[int]]:
    """Ground truth: fold every entry 0..upto, no checkpoint, no
    cache — what read_published must see regardless of resolve path."""
    return tl._fold_published_tail(man, -1, {}, upto)[1]


def test_manifest_cold_resolve_seeds_from_checkpoint(tmp_path):
    """After enough publishes for an auto-checkpoint to ride, a COLD
    process resolves the published state by seeding from the newest
    fold-carrying checkpoint and replaying only the tail entries —
    manifest_resolve_info is the observable proof (the manifest twin
    of snapshot_replay_info), and the seeded fold must equal the full
    v0 replay exactly."""
    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    _publish_n(man, 25)
    latest = tl.current_version(man)
    assert latest == 25  # init + 25 publishes
    info = tl.manifest_resolve_info(man)
    # auto-checkpoints ride every CHECKPOINT_INTERVAL commits
    assert info["checkpoint_version"] == 20
    assert info["entries_replayed"] == latest - 20
    assert info["entries_replayed"] < info["versions_total"]
    tl._MANIFEST_CACHE.clear()
    assert tl.manifest_published(man) == _direct_fold(man, latest)


def test_manifest_repin_across_checkpoint_boundary_not_doubled(
    tmp_path,
):
    """A member version published BELOW the checkpoint then re-pinned
    ABOVE it must appear once in the published list — a double entry
    would make read_published scan (and double-count) that version's
    files. The de-dup has to span the checkpoint seed/tail boundary."""
    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    _publish_n(man, 12)  # checkpoint rides at v10
    # v13 re-pins a:103 (published at manifest v4, below the ckpt)
    tl.manifest_publish(
        man, {"a": 103}, op="repin",
        base_version=tl.current_version(man),
    )
    tl._MANIFEST_CACHE.clear()
    pub = tl.manifest_published(man)
    assert pub["a"].count(103) == 1
    assert pub == _direct_fold(man, tl.current_version(man))


def test_manifest_upto_below_checkpoint_time_travels(tmp_path):
    """upto below the cache's checkpoint base falls back to a direct
    entry replay — exact at every version, same contract as snapshot
    time travel below a checkpoint."""
    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    _publish_n(man, 25)
    tl._MANIFEST_CACHE.clear()
    tl.manifest_published(man)  # cold ask caches base at ckpt v20
    for upto in (0, 1, 7, 13, 20, 25):
        assert tl.manifest_published(man, upto=upto) == _direct_fold(
            man, upto
        ), upto


def test_manifest_cache_rebases_onto_newer_checkpoints(tmp_path):
    """A long-lived process's cache must not grow O(publish history):
    once the tail outruns the checkpoint interval the cache re-bases
    onto the newest fold-carrying checkpoint and drops the covered
    tail entries."""
    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    _publish_n(man, 5)
    tl._MANIFEST_CACHE.clear()
    tl.manifest_published(man)  # cold with no checkpoint yet: base -1
    _publish_n(man, 50, start=5)  # checkpoints ride at 10..50
    got = tl.manifest_published(man)
    assert got == _direct_fold(man, tl.current_version(man))
    _, base_v, _, tail = tl._MANIFEST_CACHE[man]
    assert base_v >= 40
    assert len(tail) <= 2 * tl.CHECKPOINT_INTERVAL + 1


def test_manifest_foldless_checkpoint_falls_back_to_older(tmp_path):
    """A checkpoint written before the published fold existed (or by
    a foreign writer) is skipped in favor of an older fold-carrying
    one; the resolve stays exact either way."""
    import glob as g
    import json

    man = str(tmp_path / "manifest")
    tl.manifest_init(man)
    _publish_n(man, 55)
    newest_cp = sorted(
        g.glob(os.path.join(tl._log_dir(man), "*.checkpoint.json"))
    )[-1]
    with open(newest_cp) as f:
        entry = json.load(f)
    entry.pop("published")
    with open(newest_cp, "w") as f:
        json.dump(entry, f)
    tl._MANIFEST_CACHE.clear()
    assert tl.manifest_published(man) == _direct_fold(
        man, tl.current_version(man)
    )
    info = tl.manifest_resolve_info(man)
    assert info["checkpoint_version"] == 40  # the older carrier


# ---------------------------------------------------------------------------
# Chain maintenance: the dangler sweep wired into the due/sweep pattern
# ---------------------------------------------------------------------------


def test_chain_maintenance_due_then_sweep_then_clear(spark, tmp_path):
    """The maintained chain's dangler sweep is schedulable the same
    way compact is: chain_maintenance_due flips only when a dangler's
    OLDEST commit ages past the grace window, chain_maintenance then
    reclaims exactly the eligible members' danglers, and the signal
    clears. A young dangler (an in-flight batch's appends) never trips
    it."""
    from candy_store_etl_spark.operators.dedup import (
        chain_maintenance,
        chain_maintenance_due,
    )

    ix = str(tmp_path / "index")
    man = os.path.join(ix, "manifest")
    sigs = os.path.join(ix, "signatures")
    tl.manifest_init(man)
    v = tl.append(
        spark.createDataFrame([(1, "a")], "id long, sig string"),
        sigs,
        op="b0",
    )
    tl.manifest_publish(
        man, {"signatures": v}, op="b0",
        base_version=tl.current_version(man),
    )
    # a clean chain: nothing due
    assert chain_maintenance_due(ix)["due"] is False

    # a crashed batch's dangler: appended, never published
    dv = tl.append(
        spark.createDataFrame([(2, "b")], "id long, sig string"),
        sigs,
        op="b1-crashed",
    )
    # young dangler = presumed in-flight: not due under the real grace
    due = chain_maintenance_due(ix)
    assert due["due"] is False
    assert due["tables"]["signatures"]["dangling_versions"] == 1
    # and the sweep respects the same window: nothing runs
    assert chain_maintenance(ix)["ran"] is False

    # age the dangler past a tiny grace window
    past = __import__("time").time() - 120
    os.utime(
        os.path.join(sigs, tl.LOG_DIR, f"{dv:08d}.json"), (past, past)
    )
    due = chain_maintenance_due(ix, grace_seconds=60)
    assert due["due"] is True and due["eligible"] == ["signatures"]
    out = chain_maintenance(ix, grace_seconds=60)
    assert out["ran"] is True
    assert len(out["deleted"]["signatures"]) >= 1

    # swept: signal clears, published rows untouched
    due = chain_maintenance_due(ix, grace_seconds=60)
    assert due["due"] is False
    assert due["tables"]["signatures"]["dangling_bytes"] == 0
    pub = tl.manifest_published(man)
    got = tl.read_published(spark, sigs, pub["signatures"]).collect()
    assert [(r["id"], r["sig"]) for r in got] == [(1, "a")]

    # self-review regression: the swept dangler is now a TOMBSTONE
    # (commit json forever, files gone). A NEW young in-flight batch
    # must not flip the signal back on — the old tombstone's age must
    # not stand in for the young dangler's (that combination used to
    # schedule a sweep that reclaims nothing, every tick, until the
    # batch published)
    tl.append(
        spark.createDataFrame([(3, "c")], "id long, sig string"),
        sigs,
        op="b2-inflight",
    )
    due = chain_maintenance_due(ix, grace_seconds=60)
    assert due["tables"]["signatures"]["dangling_files_on_disk"] >= 1
    assert due["due"] is False  # young files; tombstone contributes no age
    assert chain_maintenance(ix, grace_seconds=60)["ran"] is False
    # and the min_bytes gate counts only SWEEP-ELIGIBLE bytes: the
    # young in-flight batch's bytes are in the dangling total but a
    # sweep would refuse them, so they must not satisfy the floor
    rep = tl.dangling_report(
        man, {"signatures": sigs}, grace_seconds=60
    )
    assert rep["signatures"]["dangling_bytes"] > 0
    assert rep["signatures"]["eligible_bytes"] == 0
    assert (
        chain_maintenance_due(ix, grace_seconds=60, min_bytes=1)["due"]
        is False
    )
