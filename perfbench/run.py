"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

One workload per process. Before the package is imported, ``TMPDIR``
and Spark's local dir point at a new directory under
``.perfbench_tmp/`` in the checkout, which is removed when the run ends:
fixtures the package keys by content under the temp dir are built
inside ``setup_s`` on every run instead of being inherited from an
earlier process.

The human-readable report (every metric by name, unit and sample
count) goes to standard output; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``. A workload
that cannot run (missing input, import error) prints a failure report
on standard error and exits 1 without a result line.

``--workload all`` runs every workload untraced and then traced, each
in its own process, and prints one summary per workload with the
tracing overhead (traced minus untraced ``op_p50``).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("candy_nightly", "corpus_sf1", "serve_mixed")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workload(name: str):
    if name == "candy_nightly":
        from perfbench.candy import CandyNightly

        return CandyNightly()
    if name == "corpus_sf1":
        from perfbench.corpus import CorpusSf1

        return CorpusSf1()
    from perfbench.serve import ServeMixed

    return ServeMixed()


def run_one(args) -> int:
    from perfbench import report
    from perfbench.harness import Run

    spec = _load_spec()
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), scratch, cores, PROCESS_START)
    try:
        workload = _workload(args.workload)
        run.setup(workload)
        run.timed(workload)
        if run.trace:
            workload.layers(run)
        run.close()
        workload.finish(run)
        lines, result = report.render(run, spec)
    except Exception:  # noqa: BLE001 — a workload that cannot run is reported as failed
        tb = traceback.format_exc()
        print(json.dumps({
            "workload": args.workload, "correct": False,
            "attempted": max(run.attempted, 1), "failed": max(run.attempted, 1),
            "failed_frac": 1.0, "error": tb.strip().splitlines()[-1],
        }), file=sys.stderr)
        print(tb, file=sys.stderr)
        return 1
    finally:
        run.close()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    for line in lines:
        print(line)
    if run.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, one process each."""
    status = 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            sys.stdout.write(p.stdout if p.returncode == 0 else p.stderr)
            if p.returncode != 0:
                status = 1
                results[trace] = None
                print(f"{name}: FAILED (exit {p.returncode}), all operations counted as failed")
                break
            results[trace] = json.loads(p.stdout.strip().splitlines()[-1])
        if results.get(0) and results.get(1):
            base = results[0]["metrics"]["op_p50_ms"]["value"]
            traced = results[1]["metrics"]["trace.op_p50_ms"]["value"]
            print(f"{name}: tracing overhead {traced - base:+.1f} ms on op_p50_ms "
                  f"({(traced - base) / base:+.1%} of {base:.1f} ms)")
        print()
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
