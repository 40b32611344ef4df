"""Round-11 surface: the round-9-ADVICE hardenings (typed isin
probes, the scan-off-key route label, commit tmp-file reclamation)
plus this round's regime routers — the coverage-routed CDC sink and
serve_join."""

from __future__ import annotations

import os
import time

import pytest

from candy_store_etl_spark.operators import colocated as co
from candy_store_etl_spark.sources import table_log as tl


def _facts(spark, n=200, offset=0):
    return spark.createDataFrame(
        [(i + offset, i * 3) for i in range(n)], "k long, a long"
    )


def test_serve_small_isin_probe_casts_to_stored_type(spark, tmp_path):
    """The <=64-probe isin path must cast literals to the STORED key
    type, exactly like the >64 semi-join path and keyset_lookup do —
    on a string key, an uncast int probe would resolve under a
    different implicit cast than the keyset route for the same keys,
    breaking serve()'s route-is-invisible contract."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(str(i), i * 3) for i in range(100)], "k string, a long"
    )
    co.write_bucketed(df, d, key_col="k", n_buckets=8)
    # int probes against a string key: the cast makes both routes
    # compare string-to-string
    hit, info = co.serve(spark, d, [3, 30, 999])
    assert info["route"] == "scan-small-table"
    assert sorted(r.k for r in hit.collect()) == ["3", "30"]
    # the same probes through the keyset route (force it by lowering
    # the crossover) return the same rows
    hit2, info2 = co.serve(spark, d, [3, 30, 999], scan_file_threshold=0)
    assert info2["route"] == "keyset"
    assert sorted(r.k for r in hit2.collect()) == ["3", "30"]


def test_vacuum_sweeps_stale_commit_tmp_files(spark, tmp_path):
    """A writer that dies between writing NNNNNNNN.json.tmp.* and
    linking it leaks the tmp into _txn_log; vacuum reclaims strays
    older than the grace window and leaves fresh ones alone."""
    d = str(tmp_path / "t")
    tl.append(_facts(spark, 50), d)
    log_dir = os.path.join(d, "_txn_log")
    stale = os.path.join(log_dir, "00000009.json.tmp.999.deadbeef")
    fresh = os.path.join(log_dir, "00000009.json.tmp.999.cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{")  # a partial write, as a dying writer leaves
    old = time.time() - 7 * 24 * 3600
    os.utime(stale, (old, old))
    deleted = tl.vacuum(d)
    assert os.path.basename(stale) in deleted
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # inside the grace window: in-flight
    # the log itself is untouched and readable
    assert tl.current_version(d) == 0


def _cdc_events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, value double")


def _cdc_increments(batch_df):
    import pyspark.sql.functions as F

    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        ),
    )


def _routed_sink(table, metrics=None, **kw):
    from candy_store_etl_spark.streaming.cdc import make_routed_cdc_sink

    return make_routed_cdc_sink(
        table,
        _cdc_increments,
        key_col="user_id",
        add_cols=("n_events", "cents"),
        n_buckets=32,
        metrics=metrics,
        **kw,
    )


def test_routed_cdc_sink_picks_strategy_by_coverage(spark, tmp_path):
    """The router's contract: trickle batches merge partitioned
    (rewrite proportional to touched keys), a saturating batch full-
    rewrites at bulk grouping — and the warehouse converges to the
    same values either way."""
    from candy_store_etl_spark.streaming.cdc import read_warehouse

    table = str(tmp_path / "w")
    metrics = []
    sink = _routed_sink(table, metrics, bulk_files=8)
    batches = [
        [(u, 1.0) for u in range(200)],      # seed: empty table
        [(7, 2.5)],                          # trickle: 1 key
        [(u, 0.5) for u in range(200)],      # saturated: every key
        [(13, 4.0)],                         # trickle over coarse layout
    ]
    for i, rows in enumerate(batches):
        sink(_cdc_events(spark, rows), i)
    routes = [m["route"] for m in metrics]
    assert routes == [
        "partitioned",  # seed: no live files to cover
        "partitioned",  # 1 key of 32 buckets: frac <= 1/files < 0.3
        "full-rewrite",  # every populated group touched: frac = 1.0
        "partitioned",  # 1 of 8 bulk files = 0.125 < 0.3
    ]
    assert metrics[2]["files_total"] <= 8  # bulk grouping landed
    assert tl.layout_buckets_per_file(table) == 4  # ceil(32/8)
    # trickle over the coarse layout touches ONE group file
    assert metrics[3]["files_rewritten"] == 1
    # parity with the one-shot aggregate over all input
    all_rows = [r for b in batches for r in b]
    got = sorted(
        (r.user_id, r.n_events, r.cents)
        for r in read_warehouse(spark, table).collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.cents)
        for r in _cdc_increments(_cdc_events(spark, all_rows)).collect()
    )
    assert got == want


def test_routed_cdc_full_rewrite_is_idempotent_and_servable(
    spark, tmp_path
):
    """A replayed full-rewrite epoch is a no-op (the commit IS the
    marker), and the coarsened warehouse is still a first-class
    bucketed table: spec committed, grouping resolvable, serve()
    routes and answers correctly over it."""
    table = str(tmp_path / "w")
    sink = _routed_sink(table, bulk_files=8)
    sink(_cdc_events(spark, [(u, 1.0) for u in range(100)]), 0)
    sink(_cdc_events(spark, [(u, 2.0) for u in range(100)]), 1)  # full
    v = tl.current_version(table)
    sink(_cdc_events(spark, [(u, 2.0) for u in range(100)]), 1)  # replay
    assert tl.current_version(table) == v
    assert co.bucket_spec(table) == {"key": "user_id", "n": 32}
    hit, info = co.serve(spark, table, [5, 42])
    assert info["route"] == "scan-small-table"  # <=8 files
    assert sorted((r.user_id, r.n_events) for r in hit.collect()) == [
        (5, 2),
        (42, 2),
    ]


def _write_pair(spark, tmp_path, right_buckets=4):
    left, right = str(tmp_path / "l"), str(tmp_path / "r")
    co.write_bucketed(_facts(spark, 300), left, key_col="k", n_buckets=4)
    dims = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 300, 2)], "k long, d string"
    )
    co.write_bucketed(dims, right, key_col="k", n_buckets=right_buckets)
    return left, right


def test_serve_join_routes_by_size_and_layout(spark, tmp_path):
    """The join router's three regimes — dimension-sized side ->
    broadcast, shared layout -> colocated, neither -> shuffle — all
    return identical rows in the identical column contract."""
    left, right = _write_pair(spark, tmp_path)
    got = {}
    for label, kw in (
        ("broadcast", {}),  # dims are tiny: under any real threshold
        ("colocated", {"broadcast_bytes": 0}),  # same layout, both big
    ):
        df, info = co.serve_join(spark, left, right, **kw)
        assert info["route"] == label, info
        assert df.columns == ["k", "a", "d"]
        got[label] = sorted((r.k, r.a, r.d) for r in df.collect())
    # a layout mismatch (different bucket counts) kills the colocated
    # route; with broadcasting disabled only the shuffle shape is left
    left2, right2 = _write_pair(
        spark, tmp_path / "mismatch", right_buckets=8
    )
    df, info = co.serve_join(spark, left2, right2, broadcast_bytes=0)
    assert info["route"] == "shuffle"
    got["shuffle"] = sorted((r.k, r.a, r.d) for r in df.collect())
    assert got["broadcast"] == got["colocated"] == got["shuffle"]
    assert len(got["broadcast"]) == 150


def test_serve_join_plan_shapes(spark, tmp_path):
    """Route claims are plan-audited: the broadcast route plans a
    BroadcastHashJoin; the shuffle route exchanges on the keys."""
    left, right = _write_pair(spark, tmp_path)
    df, info = co.serve_join(spark, left, right)
    assert info["route"] == "broadcast" and info["broadcast_side"] == "right"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    df2, info2 = co.serve_join(spark, left, right, broadcast_bytes=0)
    assert info2["route"] == "colocated"
    # the shuffle route is DECLARATIVE: serve_join forces nothing, and
    # Catalyst may still auto-broadcast a side its own stats prove
    # tiny — disable that to pin the declared shuffle shape
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df3, info3 = co.serve_join(
            spark,
            *_write_pair(spark, tmp_path / "m", right_buckets=8),
            broadcast_bytes=0,
        )
        assert info3["route"] == "shuffle"
        plan3 = df3._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_serve_join_outer_semantics_and_on(spark, tmp_path):
    """full outer never broadcasts (no preserved-side broadcast in
    Spark); left join null-fills; on= serves unbucketed sides."""
    left, right = _write_pair(spark, tmp_path)
    df, info = co.serve_join(spark, left, right, "full")
    assert info["route"] == "colocated"  # broadcast suppressed
    df2, info2 = co.serve_join(spark, left, right, "left")
    assert info2["route"] == "broadcast"
    rows = {r.k: r.d for r in df2.collect()}
    assert rows[2] == "d2" and rows[3] is None and len(rows) == 300
    # unbucketed right side: spec-less appends need explicit keys
    plain = str(tmp_path / "plain")
    tl.append(
        spark.createDataFrame(
            [(i, f"p{i}") for i in range(0, 300, 3)], "kk long, p string"
        ),
        plain,
    )
    df3, info3 = co.serve_join(spark, left, plain, on=("k", "kk"))
    assert info3["route"] == "broadcast"
    assert sorted(df3.columns) == ["a", "k", "p"]
    assert df3.count() == 100


def test_maintained_neardup_index_equals_from_scratch(spark, tmp_path):
    """The maintained index's union-over-increments pair set must equal
    the from-scratch portable pairs on the same corpus, each increment
    must be idempotent, and a re-ingest of an applied tag is a no-op."""
    from candy_store_etl_spark.operators.dedup import (
        maintain_neardup_index,
        minhash_dedup_pairs,
    )
    from candy_store_etl_spark.sources.tpch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ix = str(tmp_path / "ix")
    import pyspark.sql.functions as F

    parts = [
        docs.filter(F.col("doc_id") % 3 == r).transform(lambda d: d)
        for r in range(3)
    ]
    for r, part in enumerate(parts):
        assert maintain_neardup_index(
            spark, part, ix, batch_tag=f"b{r}"
        ) is True
    # re-ingest: every table already carries the tag
    assert maintain_neardup_index(
        spark, parts[1], ix, batch_tag="b1"
    ) is False

    maintained = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in tl.read_snapshot(spark, os.path.join(ix, "pairs")).collect()
    )
    scratch = sorted(
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", num_perm=64, bands=16,
            threshold=0.4, method="portable",
        ).collect()
    )
    assert maintained == scratch and len(maintained) > 0
    # signatures accumulated once per doc ever
    n_sigs = tl.read_snapshot(
        spark, os.path.join(ix, "signatures")
    ).count()
    assert n_sigs == docs.count()


def test_maintain_components_merges_across_increments(spark, tmp_path):
    """The rep-graph merge must handle the hard case: a later edge
    joining two components that were DISJOINT when first labeled —
    every member of both components moves to the merged min, first-seen
    nodes get rows, and an already-drained version is never replayed."""
    from candy_store_etl_spark.operators.graph import maintain_components

    pairs = str(tmp_path / "pairs")
    cl = str(tmp_path / "clusters")

    def _edges(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    tl.append(_edges([(1, 2), (5, 6)]), pairs)
    assert maintain_components(spark, pairs, cl) == 1
    a = {r.node: r.label for r in tl.read_snapshot(spark, cl).collect()}
    assert a == {1: 1, 2: 1, 5: 5, 6: 5}

    # the merge edge touches NEITHER component's min directly
    tl.append(_edges([(2, 6), (10, 11)]), pairs)
    assert maintain_components(spark, pairs, cl) == 1
    a = {r.node: r.label for r in tl.read_snapshot(spark, cl).collect()}
    assert a == {1: 1, 2: 1, 5: 1, 6: 1, 10: 10, 11: 10}

    # nothing new: the ledger short-circuits
    assert maintain_components(spark, pairs, cl) == 0
    # chain merge within ONE increment: two edges joining three
    # components transitively
    tl.append(_edges([(11, 20), (20, 5)]), pairs)
    assert maintain_components(spark, pairs, cl) == 1
    a = {r.node: r.label for r in tl.read_snapshot(spark, cl).collect()}
    assert set(a.values()) == {1} and a[20] == 1 and a[10] == 1


def test_maintained_index_crash_interleave_loses_no_pairs(
    spark, tmp_path
):
    """Round-10's crash-interleave hazard, replayed against the
    MANIFEST protocol: batch T1 dies after appending signatures and
    buckets (tagged, but never manifest-published — danglers), batch
    T2 ingests fully in between, then T1 reruns. Under the manifest
    design the planted tagged appends are IGNORED (per-table op tags
    are no longer a ledger): T1's rerun re-appends everything and
    publishes whole, T2's probe saw only published state, and the
    final pair set equals from-scratch — no loss, no duplicates —
    even though the raw signatures snapshot carries T1's dangling
    duplicate rows that only manifest-routed readers avoid."""
    from candy_store_etl_spark.operators.dedup import (
        _band_buckets_portable,
        maintain_neardup_index,
        minhash_dedup_pairs,
        minhash_signatures_portable,
    )

    ix = str(tmp_path / "ix")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text + " lambda")], "doc_id long, text string"
    )
    t2_docs = spark.createDataFrame(
        [(3, text), (4, "unrelated words only here nothing shared x y")],
        "doc_id long, text string",
    )

    # simulate T1 dying after its sigs+buckets appends, before its
    # manifest publish: the tagged appends are DANGLERS — no manifest
    # entry references them, so no chain reader or rerun consults
    # them. A real crash state always has the manifest-init commit
    # (it is born BEFORE the chain's first appends), so the
    # simulation creates it too — without it the appends would trip
    # the pre-manifest legacy-index guard, by design
    tl.commit(os.path.join(ix, "manifest"), op="manifest-init",
              base_version=None)
    sigs = minhash_signatures_portable(docs, "doc_id", "text", num_perm=64)
    tl.append(sigs, os.path.join(ix, "signatures"), op="neardup-batch-t1")
    tl.append(
        _band_buckets_portable(sigs, num_perm=64, bands=16),
        os.path.join(ix, "buckets"),
        op="neardup-batch-t1",
    )

    # T2 ingests fully while T1 is crashed: its probe sees only
    # PUBLISHED state (nothing of T1's), so no cross pairs land yet
    assert maintain_neardup_index(spark, t2_docs, ix, batch_tag="t2")
    # T1 reruns WHOLE (its tag never reached the manifest): fresh
    # sigs/buckets/pairs appends + one publish; the cross T1-vs-T2
    # pairs land here, discovered against T2's published buckets
    assert maintain_neardup_index(spark, docs, ix, batch_tag="t1")

    got = sorted(
        (r.id_a, r.id_b)
        for r in tl.read_snapshot(
            spark, os.path.join(ix, "pairs")
        ).collect()
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            docs.unionByName(t2_docs), "doc_id", "text",
            num_perm=64, bands=16, threshold=0.4, method="portable",
        ).collect()
    )
    assert got == want  # equality implies both no-loss AND no-dup
    assert (1, 3) in got  # the cross-batch near-dup pair specifically


def test_op_ledger_invalidates_on_same_path_rebuild(spark, tmp_path):
    """Advisory: a table rebuilt at the SAME path landing at an
    equal-or-higher version with different ops must not be served a
    dead incarnation's ledger (the old cache only guarded version
    REGRESSION) — that would make maintain_neardup_index silently skip
    a real ingest."""
    import shutil

    from candy_store_etl_spark.operators.dedup import _op_ledger

    t = str(tmp_path / "t")
    df = spark.range(3).selectExpr("id")
    tl.append(df, t, op="x0")
    tl.append(df, t, op="x1")
    assert _op_ledger(t) == {"x0", "x1"}

    # rebuild at the same path, SAME version count, different ops
    shutil.rmtree(t)
    tl.append(df, t, op="y0")
    tl.append(df, t, op="y1")
    assert _op_ledger(t) == {"y0", "y1"}

    # rebuild landing HIGHER than the cached head
    shutil.rmtree(t)
    for i in range(3):
        tl.append(df, t, op=f"z{i}")
    assert _op_ledger(t) == {"z0", "z1", "z2"}

    # table deleted entirely: empty ledger, cache dropped
    shutil.rmtree(t)
    assert _op_ledger(t) == set()


def test_maintained_index_rejects_foreign_id_reingest(spark, tmp_path):
    """Advisory: re-ingesting already-indexed doc ids under a NEW
    batch_tag must fail loudly — duplicate signature rows would
    multiply pair rows through the similarity join with no error. A
    crash rerun under the ORIGINAL tag stays a no-op."""
    import pytest

    from candy_store_etl_spark.operators.dedup import (
        maintain_neardup_index,
    )

    ix = str(tmp_path / "ix")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    assert maintain_neardup_index(spark, docs, ix, batch_tag="b0")
    # same ids, new tag: loud failure naming the clash
    with pytest.raises(ValueError, match="already published"):
        maintain_neardup_index(
            spark, docs.limit(1), ix, batch_tag="b1"
        )
    # original tag: idempotent no-op, no error
    assert maintain_neardup_index(spark, docs, ix, batch_tag="b0") is False
    # genuinely new ids under the new tag still ingest
    more = spark.createDataFrame(
        [(3, "iota kappa lambda mu")], "doc_id long, text string"
    )
    assert maintain_neardup_index(spark, more, ix, batch_tag="b1")


def test_serve_range_routes_by_stats_coverage(spark, tmp_path):
    """The range face's regime contract: full committed stats ->
    stats-pruned (strictly fewer files opened), zero stats ->
    full-scan, partial coverage at the threshold -> pruned and still
    LOSSLESS (uncovered files are kept). Rows identical on every
    route."""
    from candy_store_etl_spark.operators.colocated import serve_range

    df = spark.range(600).selectExpr("id AS k", "id * 2 AS v")

    # full coverage: compact range-clusters + commits stats
    t1 = str(tmp_path / "clustered")
    tl.append(df, t1)
    tl.compact(spark, t1, target_files=6, sort_by="k", stats_cols=["k"])
    out, info = serve_range(spark, t1, "k", 100, 140)
    assert info["route"] == "stats-pruned"
    assert info["stats_coverage"] == 1.0
    assert info["files_scanned"] < info["files_total"]  # plan audit
    want = sorted((r.k, r.v) for r in df.filter(
        (df.k >= 100) & (df.k <= 140)).collect())
    assert sorted((r.k, r.v) for r in out.collect()) == want

    # zero coverage: plain append, no stats -> full-scan, same rows
    t2 = str(tmp_path / "plain")
    tl.append(df, t2)
    out, info = serve_range(spark, t2, "k", 100, 140)
    assert info["route"] == "full-scan"
    assert info["stats_coverage"] == 0.0
    assert info["files_scanned"] == info["files_total"]
    assert sorted((r.k, r.v) for r in out.collect()) == want

    # partial coverage at the 0.5 threshold: one stats-bearing append
    # + one stats-less append -> pruned route, uncovered files KEPT
    t3 = str(tmp_path / "mixed")
    half1 = df.filter(df.k < 300).repartitionByRange(3, "k")
    half2 = df.filter(df.k >= 300).coalesce(3)
    tl.append(half1, t3, stats_cols=["k"])
    tl.append(half2, t3)
    out, info = serve_range(spark, t3, "k", 100, 140)
    assert info["route"] == "stats-pruned"
    assert 0 < info["stats_coverage"] < 1
    # lossless despite half the files having no stats: range lives in
    # the covered half, but the uncovered files must still be scanned
    # (no committed range proves them out)
    assert sorted((r.k, r.v) for r in out.collect()) == want
    assert info["files_scanned"] < info["files_total"]

    # below threshold: 1 covered file of 4 -> full-scan
    t4 = str(tmp_path / "sparse")
    tl.append(df.limit(10).coalesce(1), t4, stats_cols=["k"])
    tl.append(df.coalesce(3), t4)
    out, info = serve_range(spark, t4, "k", 100, 140)
    assert info["route"] == "full-scan"
    assert info["stats_coverage"] == 0.25


def test_serve_range_empty_snapshot(spark, tmp_path):
    from candy_store_etl_spark.operators.colocated import serve_range

    t = str(tmp_path / "empty")
    tl.append(
        spark.createDataFrame([], "k long, v long").limit(0), t
    )
    out, info = serve_range(spark, t, "k", 0, 10)
    # an empty append still stages one empty part file; the route is
    # full-scan (no stats) and the result is empty with the committed
    # schema either way
    assert info["route"] == "full-scan"
    assert out.count() == 0 and out.columns == ["k", "v"]


def test_manifest_crash_danglers_invisible_to_published_reads(
    spark, tmp_path
):
    """The manifest's whole point: a batch that appended ALL THREE
    member tables but died before its manifest publish leaves dangling
    versions that no chain reader sees — the rerun republishes whole
    and the published pair set equals from-scratch, while the raw pairs
    SNAPSHOT visibly carries the dangling duplicate (proving the
    manifest, not luck, provides the isolation)."""
    from candy_store_etl_spark.operators.dedup import (
        _band_buckets_portable,
        maintain_neardup_index,
        minhash_dedup_pairs,
        minhash_signatures_portable,
        minhash_similarity,
        read_neardup_index,
    )
    import pyspark.sql.functions as F

    ix = str(tmp_path / "ix")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b0 = spark.createDataFrame(
        [(1, text), (2, text + " lambda")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(3, text)], "doc_id long, text string"
    )
    assert maintain_neardup_index(spark, b0, ix, batch_tag="b0")

    # simulate b1 dying AFTER its three appends, BEFORE the publish:
    # replicate the internal appends with b1's op tag, no manifest
    sigs = minhash_signatures_portable(b1, "doc_id", "text", num_perm=64)
    bkts = _band_buckets_portable(sigs, num_perm=64, bands=16)
    pub = tl.manifest_published(os.path.join(ix, "manifest"))
    all_b = tl.read_published(
        spark, os.path.join(ix, "buckets"), pub["buckets"]
    ).unionByName(bkts)
    a, b = bkts.alias("a"), all_b.alias("b")
    cands = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.least("a.id", "b.id").alias("id_a"),
        F.greatest("a.id", "b.id").alias("id_b"),
    ).distinct()
    sigs_all = tl.read_published(
        spark, os.path.join(ix, "signatures"), pub["signatures"]
    ).unionByName(sigs)
    dangling_pairs = minhash_similarity(cands, sigs_all).filter(
        F.col("est_jaccard") >= 0.4
    ).withColumn("found_in_batch", F.lit("b1"))
    op = "neardup-batch-b1"
    tl.append(sigs, os.path.join(ix, "signatures"), op=op)
    tl.append(bkts, os.path.join(ix, "buckets"), op=op)
    tl.append(dangling_pairs, os.path.join(ix, "pairs"), op=op)
    # ...crash here: no manifest publish.

    # published reads see b0's state only — the dangler is invisible
    assert read_neardup_index(spark, ix, "signatures").count() == 2
    pub_pairs_before = read_neardup_index(spark, ix, "pairs").count()

    # the rerun republishes WHOLE (its tag never reached the manifest)
    assert maintain_neardup_index(spark, b1, ix, batch_tag="b1") is True
    got = sorted(
        (r.id_a, r.id_b)
        for r in read_neardup_index(spark, ix, "pairs").collect()
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(
            b0.unionByName(b1), "doc_id", "text",
            num_perm=64, bands=16, threshold=0.4, method="portable",
        ).collect()
    )
    assert got == want and (1, 3) in got
    assert pub_pairs_before < len(got)
    # the raw snapshot DOES carry the dangling duplicate pair rows —
    # the manifest is what keeps them out of the published read
    raw = tl.read_snapshot(
        spark, os.path.join(ix, "pairs")
    ).count()
    assert raw > len(got)
    # idempotent rerun: the manifest ledger short-circuits
    assert maintain_neardup_index(spark, b1, ix, batch_tag="b1") is False
    # and the clusters drain, restricted to published versions, never
    # applies the dangling pairs version
    from candy_store_etl_spark.operators.graph import maintain_components

    cl = str(tmp_path / "cl")
    pubv = tl.manifest_published(os.path.join(ix, "manifest"))["pairs"]
    danglers = [
        v
        for v in range(tl.current_version(os.path.join(ix, "pairs")) + 1)
        if v not in pubv
    ]
    assert danglers  # the crash left at least one
    maintain_components(
        spark, os.path.join(ix, "pairs"), cl, versions=pubv
    )
    labels = {
        r.node: r.label
        for r in tl.read_snapshot(spark, cl).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1}


def test_routed_cdc_sink_refines_after_trickle_streak(spark, tmp_path):
    """Hysteresis re-fine: after refine_after consecutive partitioned
    batches over a coarsened layout, the next one executes as route
    'refine' — whole-snapshot merge laid back out at 1 bucket/file in
    the same atomic commit — and subsequent trickles recover fine-
    grained rewrite volume. A saturating batch resets the streak."""
    from candy_store_etl_spark.streaming.cdc import read_warehouse

    table = str(tmp_path / "w")
    metrics = []
    sink = _routed_sink(table, metrics, bulk_files=8, refine_after=2)
    batches = [
        [(u, 1.0) for u in range(200)],  # 0 seed
        [(u, 0.5) for u in range(200)],  # 1 saturate -> full-rewrite
        [(7, 2.0)],                      # 2 trickle (streak 1)
        [(9, 3.0)],                      # 3 trickle (streak 2 -> refine)
        [(11, 4.0)],                     # 4 trickle over FINE layout
    ]
    for i, rows in enumerate(batches):
        sink(_cdc_events(spark, rows), i)
    assert [m["route"] for m in metrics] == [
        "partitioned", "full-rewrite", "partitioned", "refine",
        "partitioned",
    ]
    # the refine landed the fine grouping in the log
    assert tl.layout_buckets_per_file(table) == 1
    # trickle economics recovered: batch 4 rewrote exactly one
    # one-bucket file out of the refined table's many
    assert metrics[4]["files_rewritten"] == 1
    assert metrics[4]["files_total"] > 8
    # a replayed refine epoch is a no-op (the commit is the marker)
    v = tl.current_version(table)
    sink(_cdc_events(spark, batches[3]), 3)
    assert tl.current_version(table) == v
    # values converge to the one-shot aggregate
    all_rows = [r for b in batches for r in b]
    got = sorted(
        (r.user_id, r.n_events, r.cents)
        for r in read_warehouse(spark, table).collect()
    )
    want = sorted(
        (r.user_id, r.n_events, r.cents)
        for r in _cdc_increments(_cdc_events(spark, all_rows)).collect()
    )
    assert got == want

    # streak RESET: saturate between trickles -> no refine at 2 apart
    table2 = str(tmp_path / "w2")
    m2 = []
    sink2 = _routed_sink(table2, m2, bulk_files=8, refine_after=2)
    for i, rows in enumerate([
        [(u, 1.0) for u in range(200)],  # seed
        [(u, 0.5) for u in range(200)],  # full-rewrite
        [(7, 2.0)],                      # streak 1
        [(u, 0.25) for u in range(200)], # full-rewrite: resets
        [(9, 3.0)],                      # streak 1 again — no refine
    ]):
        sink2(_cdc_events(spark, rows), i)
    assert [m["route"] for m in m2] == [
        "partitioned", "full-rewrite", "partitioned", "full-rewrite",
        "partitioned",
    ]


def test_op_ledger_catches_byte_identical_head_rebuild(spark, tmp_path):
    """Companion to the manifest-cache repro: the op ledger over a
    file-less manifest log must not trust a rebuild whose final entry
    is byte-identical (same tag, same member-version ints) — the v0
    stat identity, not entry content, distinguishes incarnations. A
    stale ledger here makes maintain_neardup_index silently skip a
    real ingest."""
    import shutil

    from candy_store_etl_spark.operators.dedup import _op_ledger

    man = str(tmp_path / "man")
    tl.manifest_publish(man, {"pairs": 0}, op="A", base_version=None)
    tl.manifest_publish(man, {"pairs": 1}, op="C", base_version=0)
    assert _op_ledger(man) == {"A", "C"}
    shutil.rmtree(man)
    tl.manifest_publish(man, {"pairs": 0}, op="B", base_version=None)
    tl.manifest_publish(man, {"pairs": 1}, op="C", base_version=0)
    # head entry (op C, pairs: 1) is byte-identical across
    # incarnations; the ledger must reflect the NEW one
    assert _op_ledger(man) == {"B", "C"}


def test_maintain_index_rejects_pre_manifest_tables(spark, tmp_path):
    """A populated member table with NO manifest is a pre-manifest (or
    foreign) index whose history the protocol cannot see — proceeding
    would silently treat the corpus as empty. Must fail loudly; a
    normal chain (manifest init born before the first appends) is
    unaffected."""
    from candy_store_etl_spark.operators.dedup import (
        maintain_neardup_index,
    )

    ix = str(tmp_path / "legacy")
    # a round-10-style index: member table exists, no manifest
    tl.append(
        spark.createDataFrame(
            [(1, "sig")], "id long, signature string"
        ),
        os.path.join(ix, "signatures"),
        op="neardup-batch-old",
    )
    docs = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="predates"):
        maintain_neardup_index(spark, docs, ix, batch_tag="new")
    # fresh chain: init + publish works, manifest carries the init op
    ix2 = str(tmp_path / "fresh")
    assert maintain_neardup_index(spark, docs, ix2, batch_tag="b0")
    ops = {
        e["op"]
        for e in tl.log_entries(os.path.join(ix2, "manifest"))
    }
    assert ops == {"manifest-init", "neardup-batch-b0"}


def test_manifest_republished_version_dedupes(spark, tmp_path):
    """A batch with no delta for one member may re-pin that member's
    current version; read_published must not scan (and double-count)
    the same version's files twice."""
    man = str(tmp_path / "man")
    t = str(tmp_path / "t")
    v0 = tl.append(spark.range(3).selectExpr("id AS k"), t)
    tl.manifest_publish(man, {"t": v0}, op="b0", base_version=None)
    tl.manifest_publish(man, {"t": v0}, op="b1", base_version=0)  # re-pin
    pub = tl.manifest_published(man)
    assert pub == {"t": [v0]}
    rows = tl.read_published(spark, t, pub["t"]).count()
    assert rows == 3  # not 6


def test_refine_streak_resets_on_foreign_commit(spark, tmp_path):
    """A foreign commit (a deliberate manual compact_warehouse) starts
    a new layout epoch: hysteresis evidence from the old layout must
    not count, or one trickle after the manual coarsening would pay a
    whole-table refine and silently undo it."""
    from candy_store_etl_spark.streaming.cdc import compact_warehouse

    table = str(tmp_path / "w")
    metrics = []
    sink = _routed_sink(table, metrics, bulk_files=8, refine_after=2)
    sink(_cdc_events(spark, [(u, 1.0) for u in range(200)]), 0)  # seed
    sink(_cdc_events(spark, [(u, 0.5) for u in range(200)]), 1)  # coarsen
    sink(_cdc_events(spark, [(7, 2.0)]), 2)  # trickle: streak 1
    # operator coarsens MANUALLY mid-stream (foreign commit)
    compact_warehouse(
        spark, table, key_col="user_id", n_buckets=32, buckets_per_file=4
    )
    # next trickle would have tripped refine_after=2 without the reset
    sink(_cdc_events(spark, [(9, 3.0)]), 3)
    assert metrics[3]["route"] == "partitioned"
    assert tl.layout_buckets_per_file(table) == 4  # manual layout kept
    # with the streak restarted under the new epoch, refine needs two
    # MORE consecutive trickles
    sink(_cdc_events(spark, [(11, 4.0)]), 4)
    assert metrics[4]["route"] == "refine"
    assert tl.layout_buckets_per_file(table) == 1
