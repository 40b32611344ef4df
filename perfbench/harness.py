"""The run skeleton every workload shares: set-up rounds, the timed
loop, process-tree meters, the traced run's layer figures and the
result line.

A workload provides ``fixtures(run, fixture_dir)`` (inputs and fixture
tables on a fresh session), ``warm_up(run)``, ``op(run, i)`` (one timed
unit of work, returning ``True`` when it ran), ``finish(run)`` (the
output checks, outside every timed region) and ``layers(run)`` (the
traced run's figures), and fills ``run.samples`` and ``run.layer``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import meter
from .trace import Tracer, merge, read_event_log

SETUP_ROUNDS = 2


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 scratch: str, cores: int, process_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.cores = cores
        self.process_start = process_start
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # per-op samples: name -> list of values
        self.samples: dict[str, list[float]] = {}
        # traced-run layer figures filled by the workload
        self.layer: dict[str, float] = {}
        self.report: dict[str, dict] = {}
        self._log_dir: str | None = None

    # -- helpers for workloads -------------------------------------------------

    def span(self, name: str, op: str | None = None):
        return self.tracer.span(name, op)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(msg)

    def group(self, name: str) -> None:
        """Job group for the Spark jobs launched from here on, so the
        traced run's event log maps stages back to the benchmark's
        operations. Untraced runs set none: the call is a JVM round
        trip that would sit inside the timed requests."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    # -- session ---------------------------------------------------------------

    def _build_session(self, round_no: int):
        from candy_store_etl_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the JVM's temp files stay in the run's scratch dir too
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
        }
        if self.trace:
            self._log_dir = os.path.join(self.scratch, f"eventlog{round_no}")
            os.makedirs(self._log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self._log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.span("session.build"):
            self.spark = build_session(f"perfbench-{self.workload}", cpus=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            from candy_store_etl_spark.caching import release_caches

            release_caches()
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then end the JVM and wait until it has
        exited (it also ends the Python workers it forked). Safe to call
        again. Errors from the stop are swallowed: on the failure path
        they are reported already."""
        try:
            self.stop()
        except Exception:  # noqa: BLE001 — the JVM is ended below either way
            self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        # the JVM exits when the pipe on its standard input closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- phases ----------------------------------------------------------------

    def setup(self, workload) -> None:
        """``SETUP_ROUNDS`` session and fixture builds, each on a new
        session and a new fixture directory (the last one stays for the
        timed loop), then one warm-up. ``setup_s`` is the median round
        plus the warm-up."""
        rounds = []
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.stop()
            fixture_dir = os.path.join(self.scratch, f"setup{r}")
            os.makedirs(fixture_dir)
            self._build_session(r)
            workload.fixtures(self, fixture_dir)
            rounds.append(time.perf_counter() - t0)
            if r + 1 < SETUP_ROUNDS:
                shutil.rmtree(fixture_dir)
        t0 = time.perf_counter()
        self.group("setup:warmup")
        workload.warm_up(self)
        warm = time.perf_counter() - t0
        self.report["setup_s"] = {"value": statistics.median(rounds) + warm, "unit": "s", "n": len(rounds)}
        self.report["setup_round_s"] = {"value": statistics.median(rounds), "unit": "s", "n": len(rounds)}
        self.report["warmup_s"] = {"value": warm, "unit": "s", "n": 1}
        self.report["setup_first_s"] = {
            "value": time.perf_counter() - self.process_start, "unit": "s", "n": 1,
        }

    def timed(self, workload) -> None:
        cpu = meter.CpuMeter(cores=self.cores)
        busy0, steal0 = meter.machine_busy()
        tree0 = cpu.ticks()
        self._timed_from = len(self.tracer.spans)
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        i = 0
        with meter.RssSampler() as rss:
            while i < workload.MIN_OPS or time.perf_counter() < deadline:
                cpu.start()
                ok = workload.op(self, i)
                c = cpu.stop()
                if c is None:
                    self.add("cpu_invalid", 1)
                elif ok:
                    self.add("cpu_s", c)
                i += 1
        self.wall_s = time.perf_counter() - t0
        self.units = i
        busy1, steal1 = meter.machine_busy()
        tree_s = (cpu.ticks() - tree0) / meter.HZ
        self.report["peak_rss_mb"] = {"value": rss.peak_mb, "unit": "MB", "n": 1}
        # machine busy CPU outside this process tree; the two counters
        # are tick-granular and read at slightly different instants, so
        # an idle machine can read a few ticks below zero
        self.report["ambient_cpu_s"] = {"value": max(0.0, busy1 - busy0 - tree_s), "unit": "s", "n": 1}
        self.report["steal_cpu_s"] = {"value": steal1 - steal0, "unit": "s", "n": 1}
        self.report["timed_wall_s"] = {"value": self.wall_s, "unit": "s", "n": 1}

    def span_s(self, name: str) -> float:
        """Total seconds of the ``name`` spans recorded in the timed loop."""
        return sum(
            s["end"] - s["start"]
            for s in self.tracer.spans[self._timed_from:]
            if s["name"] == name
        )

    def layers_from_event_log(self, op_prefix: str) -> dict:
        """Stop the session (flushing its event log) and sum task
        metrics of the timed operations, whose job groups start with
        ``op_prefix``. Returns the raw reading for workload-specific
        figures: ``{job group: totals}``."""
        self.stop()
        groups = read_event_log(self._log_dir)
        ops = merge(groups, lambda g: g.startswith(op_prefix))
        n = max(1, self.units)
        mb = 2**20
        build = merge(groups, lambda g: g.startswith(op_prefix) and ":build" in g)
        self.layer.update({
            "plans.build_s": self.span_s("plans.build") / n,
            "plans.build_jobs": build["jobs"] / n,
            "plans.catalyst_s": self.span_s("plans.catalyst") / n,
            "exec.task_s": ops["task_s"] / n,
            "exec.task_cpu_s": ops["task_cpu_s"] / n,
            "exec.gc_s": ops["gc_s"] / n,
            "exec.shuffle_read_mb": ops["shuffle_read_b"] / mb / n,
            "exec.shuffle_write_mb": ops["shuffle_write_b"] / mb / n,
            "exec.spill_mb": ops["spill_b"] / mb / n,
            "exec.stages": len(ops["stages"]) / n,
            "exec.tasks": ops["tasks"] / n,
            "exec.core_busy_frac": ops["task_s"] / (self.wall_s * self.cores),
            "sources.scan_task_s": ops["scan_task_s"] / n,
            "sources.scan_mb": ops["scan_b"] / mb / n,
            "sources.scan_tasks": ops["scan_tasks"] / n,
            "operators.python_mb": ops["python_b"] / mb / n,
            "operators.allocation.task_s": ops["alloc_task_s"] / n,
            "operators.allocation.python_mb": ops["alloc_python_b"] / mb / n,
        })
        return groups
