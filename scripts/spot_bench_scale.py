"""Data-bound spot-bench tier (r13 verdict item 1).

At sf0.1 every headline query is fixed-overhead-bound (r12 scaling
block: 8 cores beat 32 on 35/39 queries), so sf0.1 wall-clock can no
longer prove a structural win is a SHUFFLE/DATA win. This tier times
the ~10 heaviest data-proportional queries at the driver's sf0.1 AND
the derived sf1/sf10 (scripts/gen_scale_data.py), recording EXECUTOR
TASK-TIME next to wall: task-time is the data-work signal that sits
above the driver-constant floor — a structural optimization that
removes a shuffle shows up as a task-time drop at sf1/sf10 even when
sf0.1 wall barely moves.

Additions-only: bench.py and its one-line JSON contract are untouched;
this script writes its own artifact (plans/r13/spot_bench_scale.json)
and splices ONE section into SCALING.md.

Task-time source: the Spark UI REST API (enabled for THIS script's
session only — bench.py keeps spark.ui.enabled=false), summing
completed stages' executorRunTime between per-run stage high-water
marks. Subtree CPU seconds (bench.py's meter, jiffies-exact) are
recorded alongside as the UI-independent cross-check.

Also measures the funnel's footer-derived pid ROW BALANCE at each SF
(r13 verdict item 8): equal-width doc_id buckets assume dense ids; the
max/median bucket-row ratio quantifies how far the assumption holds on
the derived data, next to the density guard the query itself applies.

Usage: python scripts/spot_bench_scale.py [--trials 2] [--skip-sf10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candy_store_etl_spark.caching import release_caches  # noqa: E402
from candy_store_etl_spark.plans import query_map  # noqa: E402
from candy_store_etl_spark.session import build_session  # noqa: E402

from bench import SCALING_STREAM_HEADER, _ambient_meter, _wait_for_quiet, splice_section  # noqa: E402,F401

# the heaviest data-proportional headline queries (r12 verdict item 1
# names the families): the funnel, the dedup tiers, the heavy hitters,
# the colocated family, the bloom prefilter, the distributed NTILE
QUERIES = [
    "pretraining_pipeline_funnel",
    "minhash_neardup_pairs",
    "exact_substring_dup_pairs",
    "bloom_decontaminate_docs",
    "heavy_hitter_tokens",
    "heavy_hitter_char_trigrams",
    "curriculum_quality_buckets",
    "colocated_customer_join",
    "colocated_skew_split_join",
    "colocated_rollup_join",
    "bucketed_local_aggregate",
    "inventory_allocation",
]

SECTION_HEADER = "\n## Data-bound spot bench (wall + executor task-time)\n"


def _stage_metrics(ui_url: str, app_id: str) -> dict[int, float]:
    """stageId -> executorRunTime seconds for COMPLETE stages (all
    attempts summed)."""
    with urllib.request.urlopen(
        f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete",
        timeout=30,
    ) as r:
        stages = json.load(r)
    out: dict[int, float] = {}
    for s in stages:
        out[s["stageId"]] = out.get(s["stageId"], 0.0) + (
            s.get("executorRunTime", 0) / 1000.0
        )
    return out


def _subtree_cpu() -> float:
    from bench import _subtree_cpu_jiffies

    return _subtree_cpu_jiffies() / os.sysconf("SC_CLK_TCK")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--sf1", default="/root/repo/.scale/sf1")
    ap.add_argument("--sf10", default="/root/repo/.scale/sf10")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--skip-sf10", action="store_true")
    args = ap.parse_args()

    tiers = [("sf0.1", args.sf01)]
    if os.path.isdir(args.sf1):
        tiers.append(("sf1", args.sf1))
    if not args.skip_sf10 and os.path.isdir(args.sf10):
        tiers.append(("sf10", args.sf10))
    if len(tiers) == 1:
        raise SystemExit(
            "no derived scale dirs found — run scripts/gen_scale_data.py "
            "(and --out .scale/sf10 --copies 100) first"
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "28g")
    load = _wait_for_quiet()
    ambient = _ambient_meter()
    spark = build_session(
        "spot-bench-scale", cpus=cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui_url = sc.uiWebUrl
    app_id = sc.applicationId
    tracker = sc.statusTracker()

    def stage_high_water() -> int:
        ids = []
        for jid in tracker.getJobIdsForGroup(None):
            ji = tracker.getJobInfo(jid)
            if ji is not None:
                ids.extend(ji.stageIds)
        return max(ids) if ids else -1

    fns = query_map()
    names = [n for n in QUERIES if n in fns]

    # one warm pass at the smallest SF for worker/codegen cold start
    for n in names:
        fns[n](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, dict] = {n: {} for n in names}
    for label, sf_dir in tiers:
        for n in names:
            # untimed warm pass at the TARGET SF (cold page-cache I/O
            # on multi-GB tables measured 2-5x steady state)
            release_caches()
            spark.catalog.clearCache()
            sc.setJobDescription(f"warm {n} @ {label}")
            fns[n](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best_wall = float("inf")
            best_task = float("inf")
            best_cpu = float("inf")
            for t in range(args.trials):
                release_caches()
                spark.catalog.clearCache()
                mark = stage_high_water()
                cpu0 = _subtree_cpu()
                sc.setJobDescription(f"{n} @ {label} trial {t}")
                t0 = time.perf_counter()
                fns[n](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                wall = time.perf_counter() - t0
                cpu = _subtree_cpu() - cpu0
                task = sum(
                    v
                    for k, v in _stage_metrics(ui_url, app_id).items()
                    if k > mark
                )
                best_wall = min(best_wall, wall)
                best_task = min(best_task, task)
                best_cpu = min(best_cpu, cpu)
            sc.setJobDescription(None)
            results[n][label] = {
                "wall_s": round(best_wall, 3),
                "task_s": round(best_task, 2),
                "cpu_s": round(best_cpu, 2),
            }
            print(
                f"{n} @ {label}: wall={best_wall:.3f}s "
                f"task={best_task:.2f}s cpu={best_cpu:.2f}s",
                file=sys.stderr,
            )

    # funnel pid row balance (verdict item 8): how even are the
    # footer-derived equal-width doc_id buckets on each tier's data?
    balance: dict[str, dict] = {}
    from pyspark.sql import functions as F

    from candy_store_etl_spark.sources.tpch import (
        funnel_pid_bounds,
        prefix_sum_partitions,
        table_path,
    )

    n_part = prefix_sum_partitions(spark)
    for label, sf_dir in tiers:
        bounds = funnel_pid_bounds(sf_dir, n_part)
        if bounds is None:
            balance[label] = {"note": "stats-less: sampled fallback in use"}
            continue
        lo, width = bounds
        from candy_store_etl_spark.sources.tpch import load_table

        pid = F.least(
            F.lit(n_part - 1),
            F.expr(f"(doc_id - {lo}) div {width}").cast("int"),
        )
        rows = (
            load_table(spark, sf_dir, "documents")
            .select(pid.alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        )
        counts = sorted(r["count"] for r in rows)
        med = counts[len(counts) // 2]
        balance[label] = {
            "buckets": len(counts),
            "rows_min": counts[0],
            "rows_median": med,
            "rows_max": counts[-1],
            "max_over_median": round(counts[-1] / max(med, 1), 2),
        }
        print(f"funnel pid balance @ {label}: {balance[label]}",
              file=sys.stderr)

    amb, steal = ambient()
    artifact = {
        "queries": results,
        "funnel_pid_balance": balance,
        "cpus": cpus,
        "trials": args.trials,
        "ambient_load_1m": round(load, 2),
        "ambient_cpu_sec_during_run": round(amb, 1),
        "steal_cpu_sec_during_run": round(steal, 1),
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, "plans", "r13", "spot_bench_scale.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)

    # splice ONE section into SCALING.md (preserving all others)
    lines = [
        SECTION_HEADER.strip("\n"),
        "",
        "Wall next to EXECUTOR TASK-TIME (sum of completed stages' "
        "executorRunTime) and subtree cpu-s, best-of-"
        f"{args.trials} after an untimed warm pass per SF, local["
        f"{cpus}], noop sink (scripts/spot_bench_scale.py; ambient "
        f"load {load:.2f}, {amb:.0f} ambient cpu-s / {steal:.0f} "
        "steal during the run). Task-time is the data-work signal "
        "that sits above the sf0.1 driver-constant floor: a removed "
        "shuffle or pass shows there even when sf0.1 wall is "
        "overhead-bound.",
        "",
        "| query | "
        + " | ".join(f"{t} wall (s) | {t} task (s)" for t, _ in tiers)
        + " |",
        "|---|" + "---|" * (2 * len(tiers)),
    ]
    for n in names:
        cells = []
        for t, _ in tiers:
            r = results[n].get(t, {})
            cells.append(f"{r.get('wall_s', '—')}")
            cells.append(f"{r.get('task_s', '—')}")
        lines.append(f"| {n} | " + " | ".join(cells) + " |")
    lines += [
        "",
        "Funnel footer-pid row balance (equal-width doc_id buckets; "
        "max/median near 1 = the dense-id assumption holds; the query "
        "itself falls back to the sampled split when footer density "
        "breaks): "
        + "; ".join(
            f"{t}: {balance.get(t)}" for t, _ in tiers
        ),
    ]
    section = SECTION_HEADER + "\n".join(lines[2:]) + "\n"
    md_path = os.path.join(here, "SCALING.md")
    with open(md_path) as f:
        existing = f.read()
    with open(md_path, "w") as f:
        f.write(splice_section(existing, SECTION_HEADER, section))
    print(json.dumps(artifact))
    spark.stop()


if __name__ == "__main__":
    main()
