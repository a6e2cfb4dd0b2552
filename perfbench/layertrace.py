"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
tracer replaces a layer's entry function (a module attribute or a class
method) with a wrapper that records ``(id, name, start, end, parent,
run_id)`` and restores the original afterwards. Nothing in the engine is
edited; with tracing off no wrapper is installed.

A span's parent is the innermost open span of the same thread. Threads the
packet runner starts (one per target) have no open span of their own, so
their outermost spans hang off the innermost open span of the thread that
created the tracer. Self time is a span's duration minus the part of it
covered by its children.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif threading.get_ident() != self._main and self._main_stack:
            parent = self._main_stack[-1]
        else:
            parent = None
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, start, end, parent))

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    # -- wrapping layer entry points --------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``on_result(tracer, result, args, kwargs)`` runs
        after the span closes, so its own cost is not counted as the
        layer's time."""
        original = vars(owner)[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = original(*args, **kwargs)
            tracer.count(f"{name}.calls")
            if on_result is not None:
                on_result(tracer, result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def tally(self, owner, attr: str, key: str) -> None:
        """Count calls of ``owner.attr`` without recording a span."""
        original = vars(owner)[attr]
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            tracer.count(key)
            return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reports ------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _sid, _name, start, end, parent in self.spans:
            if parent is not None:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _parent in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, start), min(ce, end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] += (end - start) - covered
        return dict(out)

    def dump(self, path: Path) -> None:
        """Write every span (JSON lines) for offline inspection."""
        t0 = min((s[2] for s in self.spans), default=0.0)
        with path.open("w") as fh:
            for sid, name, start, end, parent in self.spans:
                fh.write(json.dumps({
                    "run": self.run_id, "id": sid, "name": name,
                    "start": round(start - t0, 6), "end": round(end - t0, 6),
                    "parent": parent,
                }) + "\n")


def _as_java(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


class SparkCounters:
    """Job and stage totals from Spark's status store (populated with the
    UI disabled too) over a window of stage and job ids."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        """Highest job and stage ids seen so far."""
        self._drain()
        jobs = _as_java(self.spark, self._store.jobsList(None))
        stages = _as_java(self.spark, self._store.stageList(None, False, False, self._no_quantiles, None))
        last_job = max((jobs.get(i).jobId() for i in range(jobs.size())), default=-1)
        last_stage = max((stages.get(i).stageId() for i in range(stages.size())), default=-1)
        return last_job, last_stage

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Totals over jobs and stages newer than ``mark``."""
        self._drain()
        after_job, after_stage = mark
        totals: dict[str, float] = defaultdict(float)
        jobs = _as_java(self.spark, self._store.jobsList(None))
        totals["spark.jobs"] = sum(1 for i in range(jobs.size()) if jobs.get(i).jobId() > after_job)
        stages = _as_java(self.spark, self._store.stageList(None, False, False, self._no_quantiles, None))
        for i in range(stages.size()):
            st = stages.get(i)
            # stages whose shuffle output was reused run no tasks
            if st.stageId() <= after_stage or st.status().toString() == "SKIPPED":
                continue
            totals["spark.stages"] += 1
            totals["spark.tasks"] += st.numTasks()
            totals["spark.failed_tasks"] += st.numFailedTasks()
            totals["spark.input_bytes"] += st.inputBytes()
            totals["spark.output_bytes"] += st.outputBytes()
            totals["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            totals["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            totals["spark.jvm_gc_s"] += st.jvmGcTime() / 1000.0
        return dict(totals)


def _is_action_done(tracer: Tracer, result, args, kwargs) -> None:
    tracer.count("runner.actions_attempted")
    if result:
        tracer.count("runner.actions_skipped")


def _apply_action(tracer: Tracer, result, args, kwargs) -> None:
    tracer.count("runner.actions_applied")


def _write_csv(tracer: Tracer, result, args, kwargs) -> None:
    tracer.count("export.rows", result)
    tracer.count("export.csv_bytes", Path(args[1]).stat().st_size)


def _seal(tracer: Tracer, result, args, kwargs) -> None:
    tracer.count("wzaes.bytes_sealed", len(args[0]))


LEDGER_METHODS = (
    "__init__", "close", "upsert_packet", "dump_packets", "packet_hash",
    "set_packet_status", "upsert_step", "set_step_status", "is_action_done",
    "apply_action", "try_lock", "unlock", "seq_owned_map",
)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap each engine layer's entry points (span names in quotes):
    packet runner ("runner.run", "runner.target", "runner.statement",
    "runner.generator"), packet parser ("packet.parse"), statement splitter
    ("sqlsplit"), maintenance channel ("maintenance"), action ledger
    ("ledger"), PG dialect rewriter ("pgdialect.rewrite"), pg_catalog
    emulation ("pg_catalog.refresh"), export ("export.statements",
    "export.write_csv", "export.zip") and the AES sealer ("wzaes.seal").
    The runner module binds several of these by name, so they are wrapped
    where the runner looks them up."""
    from db_converter_spark import pg_catalog
    from db_converter_spark.functions import wzaes
    from db_converter_spark.plans import export, runner
    from db_converter_spark.plans.ledger import ActionTracker

    tracer.wrap(runner.PacketRunner, "run", "runner.run")
    tracer.wrap(runner.PacketRunner, "_run_on_db", "runner.target")
    tracer.wrap(runner.PacketRunner, "_eval_generators", "runner.generator")
    tracer.wrap(runner, "_run_statement", "runner.statement")
    tracer.wrap(runner, "parse_packet", "packet.parse")
    tracer.wrap(runner, "split_statements", "sqlsplit")
    tracer.wrap(runner, "_run_maint", "maintenance")
    tracer.wrap(runner, "pg_rewrite", "pgdialect.rewrite")
    tracer.wrap(runner, "export_statements", "export.statements")
    tracer.wrap(runner.RunContext, "refresh_catalog", "pg_catalog.refresh")
    tracer.tally(pg_catalog, "_table_stats", "pg_catalog.tables_seen")
    tracer.wrap(export, "write_csv", "export.write_csv", _write_csv)
    tracer.wrap(export, "_zip_files", "export.zip")
    tracer.wrap(wzaes, "_seal", "wzaes.seal", _seal)
    hooks = {"is_action_done": _is_action_done, "apply_action": _apply_action}
    for method in LEDGER_METHODS:
        tracer.wrap(ActionTracker, method, "ledger", hooks.get(method))


class LayerTrace:
    """Traced windows of one run: layer wrappers are installed between
    ``begin`` and ``end``, and Spark's counters are summed over the same
    windows."""

    def __init__(self, run_id: str):
        self.tracer = Tracer(run_id)
        self.active = False
        self.spark_totals: dict[str, float] = defaultdict(float)
        self._counters: SparkCounters | None = None

    def begin(self, spark) -> None:
        if self._counters is None:
            self._counters = SparkCounters(spark)
        self._mark = self._counters.mark()
        install_layer_wrappers(self.tracer)
        self.active = True

    def overhead_s(self, calls: int = 20_000) -> float:
        """In-run estimate of what the wrappers cost: the wrapped calls
        recorded (spans plus tallies) times the measured extra cost of one
        wrapped call over a plain call of the same no-op."""

        class Probe:
            def noop(self):
                return None

        probe = Probe()
        t0 = time.perf_counter()
        for _ in range(calls):
            probe.noop()
        plain = time.perf_counter() - t0
        scratch = Tracer("calibration")
        scratch.wrap(Probe, "noop", "probe")
        try:
            t0 = time.perf_counter()
            for _ in range(calls):
                probe.noop()
            wrapped = time.perf_counter() - t0
        finally:
            scratch.unwrap_all()
        wrapped_calls = len(self.tracer.spans) + self.tracer.counts.get("pg_catalog.tables_seen", 0.0)
        return max(0.0, wrapped - plain) / calls * wrapped_calls

    def end(self, spark) -> dict[str, float]:
        """Close the window; returns its Spark totals."""
        self.tracer.unwrap_all()
        self.active = False
        window = self._counters.since(self._mark)
        for k, v in window.items():
            self.spark_totals[k] += v
        return window
