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

Instruments: perfbench's, nothing of its own. Each (query, tier, trial)
runs in its own Spark job group; task-time is that group's executor run
time summed over its tasks by ``perfbench.trace.read_event_log`` from the
session's event log, read after ``spark.stop()``. The process tree's
CPU seconds per trial come from ``perfbench.meter.CpuMeter``, which
refuses an impossible reading (negative, or above wall x cores): such
a trial records ``cpu_s: null``, never a number.

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
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candy_store_etl_spark.caching import release_caches  # noqa: E402
from candy_store_etl_spark.plans import query_map  # noqa: E402
from candy_store_etl_spark.session import build_session  # noqa: E402

from bench import _ambient_meter, _wait_for_quiet, splice_section  # noqa: E402
from perfbench import meter  # noqa: E402
from perfbench.trace import read_event_log  # noqa: E402

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


def time_trials(run, trials: int, cpu: meter.CpuMeter, prepare) -> list[dict]:
    """``{"wall_s", "cpu_s"}`` of each of ``trials`` calls ``run(t)``,
    with ``prepare(t)`` untimed before each. ``cpu_s`` is the process
    tree's CPU seconds, or ``None`` where ``cpu`` refuses the reading."""
    out = []
    for t in range(trials):
        prepare(t)
        cpu.start()
        t0 = time.perf_counter()
        run(t)
        out.append({"wall_s": time.perf_counter() - t0, "cpu_s": cpu.stop()})
    return out


def best_row(trials: list[dict], task_s: list[float]) -> dict:
    """Best-of-trials row; ``cpu_s`` is the least VALID reading, and
    ``None`` when no trial's reading was valid."""
    cpus = [t["cpu_s"] for t in trials if t["cpu_s"] is not None]
    return {
        "wall_s": round(min(t["wall_s"] for t in trials), 3),
        "task_s": round(min(task_s), 2),
        "cpu_s": round(min(cpus), 2) if cpus else None,
    }


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
    log_dir = tempfile.mkdtemp(prefix="spot-bench-eventlog-")
    spark = build_session(
        "spot-bench-scale", cpus=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    cpu = meter.CpuMeter()

    fns = query_map()
    names = [n for n in QUERIES if n in fns]

    def noop(n: str, sf: str) -> None:
        fns[n](spark, sf).write.format("noop").mode("overwrite").save()

    # one warm pass at the smallest SF for worker/codegen cold start
    sc.setJobGroup("warm", "warm")
    for n in names:
        noop(n, "/root/testdata/sf0.001")

    def group(n: str, label: str, t: int) -> str:
        return f"{n} @ {label} trial {t}"

    trials: dict[tuple[str, str], list[dict]] = {}
    for label, sf_dir in tiers:
        for n in names:
            # untimed warm pass at the TARGET SF (cold page-cache I/O
            # on multi-GB tables measured 2-5x steady state)
            release_caches()
            spark.catalog.clearCache()
            sc.setJobGroup("warm", "warm")
            noop(n, sf_dir)

            def prepare(t: int) -> None:
                release_caches()
                spark.catalog.clearCache()
                sc.setJobGroup(group(n, label, t), group(n, label, t))

            trials[n, label] = time_trials(
                lambda t: noop(n, sf_dir), args.trials, cpu, prepare
            )
            print(f"{n} @ {label}: {trials[n, label]}", file=sys.stderr)

    # funnel pid row balance (verdict item 8): how even are the
    # footer-derived equal-width doc_id buckets on each tier's data?
    balance: dict[str, dict] = {}
    from pyspark.sql import functions as F

    from candy_store_etl_spark.sources.tpch import (
        funnel_pid_bounds,
        prefix_sum_partitions,
        table_path,
    )

    sc.setJobGroup("balance", "balance")
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
    spark.stop()
    # task-time per trial: the trial's job group in the flushed event log
    groups = read_event_log(log_dir)
    shutil.rmtree(log_dir)
    results: dict[str, dict] = {n: {} for n in names}
    for (n, label), rows in trials.items():
        task = [
            groups.get(group(n, label, t), {}).get("task_s", 0.0)
            for t in range(len(rows))
        ]
        results[n][label] = best_row(rows, task)

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
        "Wall next to EXECUTOR TASK-TIME (executor run time of the "
        "trial's tasks, from the Spark event log) and process-tree "
        "cpu-s, best-of-"
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


if __name__ == "__main__":
    main()
