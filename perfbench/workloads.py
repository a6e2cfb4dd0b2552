"""The two benchmark workloads: ``backfill`` (writes) and ``reads``.

Each workload has five phases, called in this order by ``run.py``:

- ``generate(spark, data_dir)``: write the seeded inputs (and register any
  catalog tables) for a freshly booted session — part of set-up;
- ``warm(spark)``: one-off costs users pay once per session — part of
  set-up;
- ``warm_up(spark)``: untimed repetitions of the workload's unit of work (a
  smaller backfill, a sweep, passes over the mix), once per run after the
  last set-up, so that the measured repetitions run on compiled plans and
  a warmed JIT;
- ``measure(spark, seconds, trace)``: the timed region, a fixed number of
  repetitions of the workload's unit of work. The engine is driven only
  through ``PacketRunner.run`` and the registry builders. With ``trace``
  given (a ``layertrace.LayerTrace``) the layer wrappers are installed for
  the whole region (on ``backfill``, in separate windows for the backfill
  runs and for their resumes and exports, so that the backfill runs' Spark
  counters are kept apart); the procedure is otherwise
  identical;
- ``check()``: output checks, outside the timed region. Returns
  ``(attempted, failed, notes)``; every failed operation or check counts.

The repetition count follows from ``--seconds`` and the workload's nominal
repetition time, not from the clock, so that every run with the same
``--seconds`` measures the same work however busy the host is.

``metrics()`` gives the end-to-end values under their generic names,
``named()`` the same quantities under the workload's own names.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import hashlib
import io
import math
import random
import sqlite3
import statistics
import time
from pathlib import Path

import datagen

BENCH_DIR = Path(__file__).resolve().parent
PACKETS = BENCH_DIR / "packets"


def quantile(values: list[float], q: float) -> float:
    """Interpolated quantile (``statistics.quantiles``, inclusive method);
    a single sample is its own quantile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def repetitions(seconds: float, rep_s: float, minimum: int = 2) -> int:
    """Repetitions that fill ``seconds`` at the nominal ``rep_s`` each."""
    return max(minimum, round(seconds / rep_s))


def per_op_quantiles(per_op: dict[str, list[float]]) -> tuple[float, float]:
    """p50 and p90 over operations of each operation's median latency
    across its repetitions."""
    medians = [statistics.median(v) for v in per_op.values()]
    return quantile(medians, 0.5), quantile(medians, 0.9)


def result_ok(res, db: str) -> bool:
    """The target's packet run ended SUCCESS / DONE."""
    code, status = res.result_code.get(db), res.packet_status.get(db)
    return code is not None and code.name == "SUCCESS" and status.name == "DONE"


class Checks:
    """Tally of attempted and failed operations and output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(what)

    def result(self) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.notes


# --------------------------------------------------------------------------
# backfill: chunked UPDATE ... FROM migration, resume, encrypted export
# --------------------------------------------------------------------------


class Backfill:
    name = "backfill"
    ROWS = 5_000  # rows per target table
    ACTIONS = 32  # chunk actions across all targets
    MAINT_EVERY = 8  # a maintenance command rides on every 8th chunk
    REP_S = 8.0  # nominal backfill + resume + export repetition, seconds
    WARM_CHUNKS = 4  # chunks per warm-up target

    def __init__(self, seed: int, targets: int, run_dir: Path):
        self.seed = seed
        self.n_targets = targets
        self.chunks = math.ceil(self.ACTIONS / targets)
        self.run_dir = run_dir
        self.ledger_dir = run_dir / "ledger"
        self.samples: dict[str, list[float]] = {}
        # one entry per repetition: its targets and its three packet results
        self.reps: list[dict] = []
        self.phase_spark: dict[str, float] = {}
        self.phase_actions = 0.0

    def targets(self, rep: int | str) -> list[str]:
        return [f"bf{rep}t{i}" for i in range(self.n_targets)]

    def generate(self, spark, data_dir: Path) -> None:
        src = data_dir / "backfill_src.parquet"
        ids = datagen.write_backfill_source(src, self.seed, self.ROWS)
        # the export packet selects the lowest quarter of the ids
        self.export_rows = self.ROWS // 4
        self.src = src
        self.placeholders = {
            "src": str(src),
            "chunks": str(self.chunks),
            "maint_every": str(self.MAINT_EVERY),
            "max_id": str(int(ids[self.export_rows - 1])),
        }

    def warm(self, spark) -> None:
        spark.sql(f"SELECT count(*), max(id) FROM parquet.`{self.src}`").collect()

    def warm_up(self, spark) -> None:
        """A short backfill (WARM_CHUNKS chunks, maintenance included) on
        targets of its own, then its resume and export."""
        from db_converter_spark.plans.runner import PacketRunner

        runner = PacketRunner(spark, self.src.parent / "warm_ledger")
        placeholders = dict(self.placeholders, chunks=str(self.WARM_CHUNKS), maint_every="2")
        targets = self.targets("w")
        res = [runner.run(PACKETS / "bench_backfill", dbs=targets, placeholders=placeholders)]
        res.append(runner.run(PACKETS / "bench_backfill", dbs=targets, placeholders=placeholders))
        res.append(runner.run(
            PACKETS / "bench_export", dbs=targets, placeholders=placeholders,
            export_dir=self.run_dir / "export" / "warm",
        ))
        self.warm_ok = all(result_ok(r, db) for r in res for db in targets)

    def measure(self, spark, seconds: float, trace) -> None:
        """Repetitions of: the backfill on fresh targets, its resume, and
        the export of the backfilled tables."""
        from db_converter_spark.plans.runner import PacketRunner

        runner = PacketRunner(spark, self.ledger_dir)
        backfill, resume, export = [], [], []
        resume_attempted = resume_skipped = 0.0
        counts = trace.tracer.counts if trace is not None else {}
        for _ in range(repetitions(seconds, self.REP_S)):
            targets = self.targets(len(backfill))
            rep = {"targets": targets}
            if trace is not None:
                trace.begin(spark)
                applied = counts.get("runner.actions_applied", 0.0)
            t0 = time.perf_counter()
            rep["backfill"] = runner.run(PACKETS / "bench_backfill", dbs=targets, placeholders=self.placeholders)
            t1 = time.perf_counter()
            if trace is not None:
                # the backfill runs alone: their Spark output and applied actions
                for k, v in trace.end(spark).items():
                    self.phase_spark[k] = self.phase_spark.get(k, 0.0) + v
                self.phase_actions += counts.get("runner.actions_applied", 0.0) - applied
                trace.begin(spark)
                before = (counts.get("runner.actions_attempted", 0.0), counts.get("runner.actions_skipped", 0.0))
            rep["ledger_rows"] = self._ledger_rows(targets)
            t2 = time.perf_counter()
            rep["resume"] = runner.run(PACKETS / "bench_backfill", dbs=targets, placeholders=self.placeholders)
            t3 = time.perf_counter()
            if trace is not None:
                resume_attempted += counts.get("runner.actions_attempted", 0.0) - before[0]
                resume_skipped += counts.get("runner.actions_skipped", 0.0) - before[1]
            rep["export"] = runner.run(
                PACKETS / "bench_export", dbs=targets, placeholders=self.placeholders,
                export_dir=self.run_dir / "export" / f"rep{len(backfill)}",
            )
            t4 = time.perf_counter()
            if trace is not None:
                trace.end(spark)
            backfill.append(t1 - t0)
            resume.append(t3 - t2)
            export.append(t4 - t3)
            self.reps.append(rep)
        if trace is not None:
            self.resume_skip_ratio = resume_skipped / resume_attempted if resume_attempted else 0.0
        self.samples["backfill_s"] = backfill
        self.samples["resume_s"] = resume
        self.samples["export_s"] = export
        self.samples["action_s"] = self._action_latencies()

    def _ledger(self, db: str) -> sqlite3.Connection:
        return sqlite3.connect(self.ledger_dir / db / "dbc_ledger.sqlite")

    def _ledger_rows(self, targets: list[str]) -> dict[str, int]:
        out = {}
        for db in targets:
            con = self._ledger(db)
            try:
                out[db] = con.execute("SELECT count(*) FROM dbc_actions").fetchone()[0]
            finally:
                con.close()
        return out

    def _action_latencies(self) -> list[float]:
        """Per-action latency: gaps between successive ``dbc_actions.dt``
        stamps of one target (read from the ledgers after the run)."""
        lat: list[float] = []
        for rep in self.reps:
            for db in rep["targets"]:
                con = self._ledger(db)
                try:
                    stamps = [
                        dt.datetime.fromisoformat(r[0])
                        for r in con.execute("SELECT dt FROM dbc_actions ORDER BY rowid")
                    ]
                finally:
                    con.close()
                lat.extend((b - a).total_seconds() for a, b in zip(stamps, stamps[1:]))
        return lat

    def named(self) -> dict[str, float]:
        return {
            "backfill_s": statistics.median(self.samples["backfill_s"]),
            "action_p50_s": quantile(self.samples["action_s"], 0.5),
            "action_p90_s": quantile(self.samples["action_s"], 0.9),
            "resume_s": statistics.median(self.samples["resume_s"]),
            "export_s": statistics.median(self.samples["export_s"]),
        }

    def metrics(self) -> dict[str, float]:
        n = self.named()
        return {"job_s": n["backfill_s"], "op_p50_s": n["action_p50_s"], "op_p90_s": n["action_p90_s"]}

    def traced_jobs_and_ops(self, trace) -> tuple[float, float]:
        """Spark jobs per applied action, over the backfill runs."""
        return self.phase_spark.get("spark.jobs", 0.0), self.phase_actions

    def final_table_bytes(self, warehouse: Path) -> int:
        return sum(
            f.stat().st_size
            for rep in self.reps
            for db in rep["targets"]
            for f in (warehouse / f"{db}.db" / "bench_tbl").rglob("*.parquet")
        )

    @staticmethod
    def _export_rows(zip_path: Path) -> int:
        """Data rows in an export zip, decrypted with the password embedded
        in its name."""
        from db_converter_spark.functions.wzaes import read_aes_zip

        files = read_aes_zip(zip_path, zip_path.name.split("_")[1])
        return sum(
            sum(1 for _ in csv.reader(io.StringIO(b.decode()), delimiter="\t")) - 1
            for b in files.values()
        )

    def check(self) -> tuple[int, int, list[str]]:
        c = Checks()
        c.add(self.warm_ok, "warm-up backfill, resume or export did not end SUCCESS / DONE")
        # actions: run_once + one per chunk + the validation step, per target
        per_target = self.chunks + 2
        for rep in self.reps:
            res, resume, export = rep["backfill"], rep["resume"], rep["export"]
            after = self._ledger_rows(rep["targets"])
            for db in rep["targets"]:
                c.add(result_ok(res, db), f"backfill {db}: {res.result_code.get(db)}")
                done = rep["ledger_rows"].get(db, 0)
                c.add(done >= per_target, f"backfill {db}: {done}/{per_target} actions applied", per_target)
                n_rows, n_backfilled = (res.result_data.get(db, {}).get("02_step.sql") or [[[], [0, 0]]])[-1][1]
                c.add(n_rows == self.ROWS and n_backfilled == self.ROWS,
                      f"backfill {db}: {n_backfilled}/{n_rows} rows backfilled, want {self.ROWS}")
                c.add(result_ok(resume, db), f"resume {db}: {resume.result_code.get(db)}")
                skipped = sum(
                    1
                    for step in resume.result_data.get(db, {}).values()
                    for row in step
                    if row[:1] == ["LOG"] and "already applied" in str(row[1:])
                )
                c.add(skipped == per_target, f"resume {db}: {skipped}/{per_target} actions skipped")
                c.add(after[db] == done, f"resume {db}: ledger grew {done} -> {after[db]}")
                rows: object = export.result_code.get(db)
                if result_ok(export, db):
                    try:
                        rows = self._export_rows(Path(export.result_data[db]["01_export.sql"][0][1][0]))
                    except Exception as err:  # noqa: BLE001 — an unreadable zip is a failed check
                        rows = f"{type(err).__name__}: {err}"
                c.add(rows == self.export_rows, f"export {db}: {rows}, want {self.export_rows} rows")
        if hasattr(self, "resume_skip_ratio"):
            c.add(self.resume_skip_ratio == 1.0,
                  f"resume skipped {self.resume_skip_ratio:.3f} of its actions, want 1.0")
        return c.result()


# --------------------------------------------------------------------------
# reads, part 1: read-only PG-dialect alert/dba packets across parallel targets
# --------------------------------------------------------------------------


class PgSweep:
    PACKETS = ("alert_stat", "dba_top_tables")
    TABLES_PER_TARGET = 3

    def __init__(self, seed: int, targets: int, repo_root: Path):
        self.seed = seed
        self.targets = [f"db{i}" for i in range(targets)]
        order = list(self.PACKETS)
        random.Random(seed).shuffle(order)
        self.order = [repo_root / "packets" / p for p in order]
        self.per_op: dict[str, list[float]] = {}
        self.results: list = []

    def generate(self, spark, data_dir: Path) -> None:
        specs = datagen.dba_target_tables(self.seed, len(self.targets), self.TABLES_PER_TARGET)
        for i, (db, tables) in enumerate(zip(self.targets, specs)):
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
            for j, (table, n_cols, n_rows) in enumerate(tables):
                location = data_dir / db / table
                location.mkdir(parents=True)
                datagen.write_dba_table(
                    location / "part-0.parquet", self.seed * 1000 + i * 100 + j, n_cols, n_rows
                )
                spark.sql(f"CREATE TABLE {db}.{table} USING parquet LOCATION '{location}'")

    def warm(self, spark) -> None:
        for db in self.targets:
            spark.sql(f"SHOW TABLES IN {db}").collect()

    def sweep(self, runner, record: bool = True) -> None:
        """Every packet once, each across all targets; every result is
        checked, and with ``record`` each packet run's latency is kept."""
        for pkt in self.order:
            t0 = time.perf_counter()
            self.results.append(runner.run(pkt, dbs=self.targets))
            if record:
                self.per_op.setdefault(pkt.name, []).append(time.perf_counter() - t0)

    def check(self, c: Checks) -> None:
        for res in self.results:
            for db in self.targets:
                err = str(res.result_data.get(db, {}).get("__error__", ""))[:200]
                c.add(result_ok(res, db), f"{db}: {res.result_code.get(db)} {err}")


# --------------------------------------------------------------------------
# reads, part 2: a fixed mix of batch registry operators, oracle-checked
# --------------------------------------------------------------------------

# One operator per operator module (cheap members of each family, so that
# several passes fit one run; see METHODOLOGY.md).
MIX = (
    "q01",    # relational
    "dd06",   # dedup
    "ss05",   # similarity
    "ev04",   # events
    "pipe03", # pipeline
    "dq01",   # quality
    "ta02",   # textops
)


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, decimal.Decimal)):
        # one spelling for DOUBLE and DECIMAL results at 12 significant
        # digits: engines return either type for the same expression
        return None if math.isnan(v) else format(float(v), ".12g")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash: columns sorted by name,
    values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    h = hashlib.sha256(repr([columns[i].lower() for i in order]).encode())
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    for line in norm:
        h.update(line.encode())
    return len(norm), h.hexdigest()


class OperatorMix:
    SF = 0.005  # 30k lineitems

    def __init__(self, seed: int):
        from db_converter_spark.registry import all_queries

        by_prefix = {n.split("_", 1)[0]: s for n, s in all_queries().items()}
        self.seed = seed
        self.specs = [by_prefix[p] for p in MIX]
        random.Random(seed).shuffle(self.specs)
        self.per_op: dict[str, list[float]] = {}
        self.digests: dict[str, list[tuple[int, str]]] = {s.name: [] for s in self.specs}
        self.errors: list[str] = []

    def generate(self, spark, data_dir: Path) -> None:
        self.sf_dir = data_dir / "star"
        datagen.write_star_schema(self.sf_dir, self.seed, self.SF)

    def warm(self, spark) -> None:
        spark.sql(f"SELECT count(*) FROM parquet.`{self.sf_dir / 'lineitem.parquet'}`").collect()

    def one_pass(self, spark, trace, record: bool = True) -> None:
        """Every query once, ``.collect()`` included. With ``record`` each
        query's latency and result digest are kept; a query that fails is a
        failed operation either way."""
        for spec in self.specs:
            t0 = time.perf_counter()
            try:
                if trace is not None:
                    module = spec.builder.__module__.rsplit(".", 1)[-1]
                    with trace.tracer.span(f"operators.{module}"):
                        df = spec.builder(spark, str(self.sf_dir))
                        columns, rows = df.columns, df.collect()
                else:
                    df = spec.builder(spark, str(self.sf_dir))
                    columns, rows = df.columns, df.collect()
            except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
                self.errors.append(f"{spec.name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if record:
                self.per_op.setdefault(spec.name, []).append(time.perf_counter() - t0)
                self.digests[spec.name].append(result_digest(columns, rows))

    def check(self, c: Checks) -> None:
        import duckdb

        for err in self.errors:
            c.add(False, err)
        c.attempted += sum(map(len, self.per_op.values()))
        con = duckdb.connect()
        try:
            for table in sorted(self.sf_dir.glob("*.parquet")):
                con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
            for spec in self.specs:
                try:
                    cur = con.execute(spec.oracle)
                    want = result_digest([d[0] for d in cur.description], cur.fetchall())
                except duckdb.Error as err:
                    want = (-1, f"oracle failed: {err}")
                for got in self.digests[spec.name]:
                    c.add(got == want, f"{spec.name}: {got[0]} rows vs oracle {want[0]}, or values differ")
        finally:
            con.close()


# --------------------------------------------------------------------------
# reads: one repetition is a PG sweep followed by a pass over the mix
# --------------------------------------------------------------------------


class Reads:
    name = "reads"
    REP_S = 8.0  # nominal sweep + pass repetition, seconds
    WARM_PASSES = 2  # passes over the mix in the warm-up, after one sweep

    def __init__(self, seed: int, targets: int, run_dir: Path, repo_root: Path):
        self.run_dir = run_dir
        self.pg = PgSweep(seed, targets, repo_root)
        self.mix = OperatorMix(seed)
        self.samples: dict[str, list[float]] = {}

    @property
    def per_op(self) -> dict[str, list[float]]:
        return {**self.pg.per_op, **self.mix.per_op}

    def generate(self, spark, data_dir: Path) -> None:
        self.pg.generate(spark, data_dir)
        self.mix.generate(spark, data_dir)

    def warm(self, spark) -> None:
        self.pg.warm(spark)
        self.mix.warm(spark)

    def warm_up(self, spark) -> None:
        """One sweep and WARM_PASSES passes; their results are checked,
        their latencies not kept."""
        from db_converter_spark.plans.runner import PacketRunner

        self.pg.sweep(PacketRunner(spark, self.run_dir / "ledger"), record=False)
        for _ in range(self.WARM_PASSES):
            self.mix.one_pass(spark, None, record=False)

    def measure(self, spark, seconds: float, trace) -> None:
        from db_converter_spark.plans.runner import PacketRunner

        runner = PacketRunner(spark, self.run_dir / "ledger")
        reps: list[float] = []
        sweeps: list[float] = []
        passes: list[float] = []
        if trace is not None:
            trace.begin(spark)
        for _ in range(repetitions(seconds, self.REP_S)):
            t0 = time.perf_counter()
            self.pg.sweep(runner)
            t1 = time.perf_counter()
            self.mix.one_pass(spark, trace)
            t2 = time.perf_counter()
            sweeps.append(t1 - t0)
            passes.append(t2 - t1)
            reps.append(t2 - t0)
        if trace is not None:
            trace.end(spark)
        self.samples.update(rep_s=reps, sweep_s=sweeps, pass_s=passes)

    def named(self) -> dict[str, float]:
        return {
            "reads_s": statistics.median(self.samples["rep_s"]),
            "sweep_s": statistics.median(self.samples["sweep_s"]),
            "packet_p50_s": per_op_quantiles(self.pg.per_op)[0],
            "analytics_s": statistics.median(self.samples["pass_s"]),
            "query_p50_s": per_op_quantiles(self.mix.per_op)[0],
        }

    def metrics(self) -> dict[str, float]:
        p50, p90 = per_op_quantiles(self.per_op)
        return {"job_s": statistics.median(self.samples["rep_s"]), "op_p50_s": p50, "op_p90_s": p90}

    def traced_jobs_and_ops(self, trace) -> tuple[float, float]:
        """Spark jobs per operation: packet x target runs and queries of the
        measured repetitions."""
        ops = sum(map(len, self.pg.per_op.values())) * len(self.pg.targets)
        ops += sum(map(len, self.mix.per_op.values()))
        return trace.spark_totals.get("spark.jobs", 0.0), ops

    def check(self) -> tuple[int, int, list[str]]:
        c = Checks()
        self.pg.check(c)
        self.mix.check(c)
        return c.result()
