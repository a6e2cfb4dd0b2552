#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run pins its environment (local[nproc],
shuffle partitions = nproc, a driver heap that fits in RAM, the client JIT
only, Spark UI off, PYTHONPATH exported to the Python workers), works in a
fresh directory under ``.perfbench_runs/`` that it deletes afterwards, sets
up five times (session boot + seeded input generation + a warm-up query;
the first boot starts the JVM, the others restart the SparkContext in it),
warms the workload up, measures a number of repetitions sized from
``--seconds``, checks every output outside the timed region and prints:

- a ``perfbench-detail`` JSON line: environment, ambient telemetry, the
  workload's own named metrics, ``error_rate`` and any check failures;
- as the last line: ``{"correct", "attempted", "failed", "metrics"}`` with
  the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``), each ``{"value", "unit"}``.

See METHODOLOGY.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORKLOADS = ("backfill", "reads")
MODULES = ("relational", "dedup", "similarity", "events", "pipeline", "quality", "textops")
SETUPS = 5


def read_load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def tick_delta(start: int, end: int) -> int:
    """Counter delta; -1 when either endpoint is the -1 sentinel."""
    return -1 if start < 0 or end < 0 else end - start


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process in MB, from /proc; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds so far of this process and every process
    under it (the driver JVM and the Python workers it forks), reaped
    children included, from /proc; -1 if unreadable."""
    tick = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, float]] = {}
    try:
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended while we looked
            stats[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]) / tick)
    except (OSError, ValueError, IndexError):
        return -1.0
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(stats[pid][1] for pid in tree if pid in stats) if os.getpid() in stats else -1.0


def driver_heap_mb() -> int:
    """A quarter of physical memory, clamped to [1, 3] GB."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (OSError, ValueError):
        total_mb = 8192
    return int(max(1024, min(3072, total_mb // 4)))


class Session:
    """Boots and tears down the engine's SparkSession for one run."""

    def __init__(self, run_dir: Path, cpus: int):
        self.run_dir = run_dir
        self.cpus = cpus
        self.heap_mb = driver_heap_mb()
        self.spark = None
        self.jvm_pid = None

    def boot(self, setup_dir: Path):
        from pyspark import SparkContext

        from db_converter_spark.session import build_session

        tmp = self.run_dir / "tmp"
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": f"{self.heap_mb}m",
                # client JIT only, with the tiered default code cache: C2
                # compiles of Spark's planner went on through the whole run,
                # took a core and made each repetition faster than the last
                "spark.driver.defaultJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                ),
                "spark.ui.enabled": "false",
                "spark.local.dir": str(tmp / "spark"),
                "spark.sql.warehouse.dir": str(setup_dir / "warehouse"),
                # the status store keeps every job and stage of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self) -> None:
        """Stop the SparkContext; the JVM keeps running for the next boot."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gc.collect()

    def warehouse(self) -> Path:
        return Path(self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for it to exit. The JVM
        may already be gone (a terminated run), so a failed stop is not an
        error here."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            self.stop()
        except (Py4JError, OSError):
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — last resort at exit
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def pin_environment(run_dir: Path) -> int:
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = run_dir / "tmp"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(tmp / "spark"),
        # the short-lived JVM that spark-submit starts to build the command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": str(tmp),
    })
    for p in (str(ROOT), str(BENCH_DIR)):
        if p not in sys.path:
            sys.path.insert(0, p)
    return cpus


def make_workload(name: str, seed: int, cpus: int, run_dir: Path):
    import workloads

    if name == "backfill":
        return workloads.Backfill(seed, max(1, min(4, cpus)), run_dir)
    return workloads.Reads(seed, max(1, min(2, cpus)), run_dir, ROOT)


def layer_metrics(wl, trace, boot_s: float, session: Session) -> dict[str, tuple[float, str]]:
    st = trace.tracer.self_times()
    c = trace.tracer.counts
    sp = trace.spark_totals
    m: dict[str, tuple[float, str]] = {"session.boot_s": (boot_s, "s")}

    def span(metric: str, name: str, calls: str | None = None) -> None:
        m[metric] = (st.get(name, 0.0), "s")
        if calls:
            m[calls] = (c.get(f"{name}.calls", 0.0), "count")

    span("packet.parse_s", "packet.parse", "packet.parse_calls")
    span("sqlsplit.s", "sqlsplit", "sqlsplit.calls")
    span("runner.run_s", "runner.run")
    span("runner.target_s", "runner.target")
    span("runner.statement_s", "runner.statement", "runner.statements")
    span("runner.generator_s", "runner.generator")
    span("maintenance.s", "maintenance", "maintenance.calls")
    span("ledger.s", "ledger", "ledger.calls")
    span("pgdialect.rewrite_s", "pgdialect.rewrite", "pgdialect.rewrites")
    span("pg_catalog.refresh_s", "pg_catalog.refresh", "pg_catalog.refreshes")
    span("export.statements_s", "export.statements")
    span("export.write_csv_s", "export.write_csv")
    span("export.zip_s", "export.zip")
    span("wzaes.seal_s", "wzaes.seal")
    for mod in MODULES:
        span(f"operators.{mod}.s", f"operators.{mod}")
    for key, unit in (
        ("runner.actions_attempted", "count"), ("runner.actions_applied", "count"),
        ("runner.actions_skipped", "count"), ("pg_catalog.tables_seen", "count"),
        ("export.rows", "count"), ("export.csv_bytes", "B"), ("wzaes.bytes_sealed", "B"),
    ):
        m[key] = (c.get(key, 0.0), unit)
    m["runner.skip_ratio"] = (getattr(wl, "resume_skip_ratio", 0.0), "ratio")
    for key, unit in (
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.failed_tasks", "count"), ("spark.input_bytes", "B"),
        ("spark.output_bytes", "B"), ("spark.shuffle_write_bytes", "B"),
        ("spark.executor_run_s", "s"), ("spark.jvm_gc_s", "s"),
    ):
        m[key] = (sp.get(key, 0.0), unit)
    jobs, ops = wl.traced_jobs_and_ops(trace)
    m["spark.jobs_per_action"] = (jobs / ops if ops else 0.0, "ratio")
    amplification = 0.0
    if wl.name == "backfill":
        final = wl.final_table_bytes(session.warehouse())
        amplification = wl.phase_spark.get("spark.output_bytes", 0.0) / final if final else 0.0
    m["backfill.write_amplification"] = (amplification, "ratio")
    m["trace.job_s"] = (wl.metrics()["job_s"], "s")
    m["trace.overhead_s"] = (trace.overhead_s(), "s")
    m["trace.spans"] = (float(len(trace.tracer.spans)), "count")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("db_converter_spark", "packets") if not (ROOT / p).is_dir()]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2

    runs = ROOT / ".perfbench_runs"
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = runs / run_id
    cpus = pin_environment(run_dir)
    session = Session(run_dir, cpus)
    try:
        wl = make_workload(args.workload, args.seed, cpus, run_dir)
        trace = None
        if args.trace:
            from layertrace import LayerTrace

            trace = LayerTrace(run_id)

        setup_s: list[float] = []
        boot_s = 0.0
        for i in range(SETUPS):
            session.stop()
            t0 = time.perf_counter()
            spark = session.boot(run_dir / f"setup{i}")
            if i == 0:
                boot_s = time.perf_counter() - t0
            data_dir = run_dir / f"setup{i}" / "data"
            data_dir.mkdir(parents=True)
            wl.generate(spark, data_dir)
            wl.warm(spark)
            setup_s.append(time.perf_counter() - t0)

        from db_converter_spark.benchutil import read_steal_ticks

        t0 = time.perf_counter()
        wl.warm_up(spark)
        warmup_s = time.perf_counter() - t0

        steal0, load0, cpu0 = read_steal_ticks(), read_load1(), tree_cpu_s()
        t0 = time.perf_counter()
        wl.measure(spark, args.seconds, trace)
        measured_s = time.perf_counter() - t0
        steal1, load1, cpu1 = read_steal_ticks(), read_load1(), tree_cpu_s()
        peak_rss_mb = vm_hwm_mb(session.jvm_pid) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )

        if trace is not None:
            metrics = layer_metrics(wl, trace, boot_s, session)
            trace.tracer.dump(runs / f"{run_id}.spans.jsonl")
        else:
            metrics = {k: (v, "s") for k, v in wl.metrics().items()}
            metrics["setup_s"] = (statistics.median(setup_s), "s")
            metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        attempted, failed, notes = wl.check()
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        try:
            session.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    detail = {
        "perfbench-detail": run_id,
        "environment": {
            "master": f"local[{cpus}]", "shuffle_partitions": cpus,
            "driver_heap_mb": session.heap_mb, "jit": "client only", "ui": False,
            "python": platform.python_version(), "machine": platform.machine(),
        },
        "ambient": {
            "steal_ticks": tick_delta(steal0, steal1),
            "load1": [round(load0, 2), round(load1, 2)],
            "cpu_s": round(cpu1 - cpu0, 3) if min(cpu0, cpu1) >= 0 else -1,
        },
        "setup_s_samples": [round(s, 4) for s in setup_s],
        "warmup_s": round(warmup_s, 4),
        "measured_s": round(measured_s, 4),
        "named": {k: round(v, 6) for k, v in wl.named().items()},
        "samples_s": {k: [round(x, 4) for x in v] for k, v in wl.samples.items() if len(v) < 20},
        "per_op_median_s": {
            k: round(statistics.median(v), 4) for k, v in getattr(wl, "per_op", {}).items()
        },
        "peak_rss_mb": round(peak_rss_mb, 1),
        "error_rate": failed / attempted if attempted else 1.0,
        "failures": notes[:20],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
