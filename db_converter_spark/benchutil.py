"""Shared measurement-harness hygiene for bench.py and the scale probes.

Three facts of life about timing a long suite of operators in ONE Spark
session drive everything here (r3–r6 bench archaeology):

1. Operators that materialize intermediates leave TEMP VIEWS behind
   (``dd10_sig``, ``dd14_assign``, ``pipe13_feat``, ...); each view pins
   its localCheckpoint RDD blocks for the REST of the session, so the
   block manager accumulates every heavy query's state and a later GC has
   nothing it can actually free. Views must be dropped after every query.
2. Spark's ContextCleaner only unregisters old shuffles / broadcasts /
   checkpoint RDDs when the DRIVER garbage-collects, and a large heap
   never does on its own — measured (r3): by query ~60 of the suite,
   per-query time inflates 5–25× purely from accumulated shuffle state.
3. ``System.gc()`` queues that unregistration ASYNCHRONOUSLY; without an
   off-clock pause the cleanup storm lands inside the NEXT queries' timed
   runs (measured r5: 12–15 s spikes on q02/q03 right after the heavy
   tail). The drain sleep is part of the hygiene, not slack.

This module is the single home for those rules (r6 ADVICE: they were
copy-pasted across bench.py and two probe scripts — a new base table or
a changed drain had to be fixed in three places).
"""

from __future__ import annotations

import json
import time

# The driver-generated base tables registered by catalog.register_views —
# everything ELSE in the temp-view catalog after a query is operator
# residue and must be dropped before the next measurement.
BASE_VIEWS = frozenset(
    {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
)


def reset_cross_query_memos(spark) -> None:
    """Clear session-scoped serving-artifact memos (r10: ta14's trained
    vocab keyed on sf_dir) before a TIMED sample. The memo is a real
    multi-query-session win — pipe06→pipe11→pipe12→ta14 train BPE once —
    but bench's contract is the cold end-to-end cost of each query, and
    without this reset samples 2..n of a best-of-3 would price only the
    serve-after-training tail."""
    from db_converter_spark.operators.textops import TA14_MEMO_ATTR

    for attr in (TA14_MEMO_ATTR,):
        try:
            delattr(spark, attr)
        except AttributeError:
            pass


def drop_leaked_views(spark) -> int:
    """Drop every temporary view that is not a base table; returns the
    number dropped. Releases the localCheckpoint blocks the views pin so
    the next :func:`gc_drain` can actually free them (r5 artifact: q03
    read 5.2 s best-of-3 purely from pinned-block churn landing
    on-clock)."""
    dropped = 0
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name not in BASE_VIEWS:
            spark.catalog.dropTempView(t.name)
            dropped += 1
    return dropped


def gc_drain(spark, pause: float = 2.0, cycles: int = 1) -> None:
    """Force a driver GC and pause OFF-CLOCK while the ContextCleaner's
    asynchronous shuffle/broadcast/RDD unregistration storm passes.

    ``cycles=2`` runs a second GC after the first pause: weak references
    processed by cycle 1 enqueue cleanups whose own garbage (py4j proxies,
    broadcast metadata) only becomes collectable afterwards — the second
    cycle is the standard reference-processing idiom and is what the r7
    churn pin uses before re-sampling a divergent query."""
    for _ in range(max(1, cycles)):
        spark.sparkContext._jvm.System.gc()
        time.sleep(pause)


# --- compact bench line (r8 verdict Next #1) -------------------------------
# The driver records only the LAST ~2000 chars of bench.py stdout; the final
# compact JSON line must fit that window or the artifact of record loses its
# per-query map (BENCH_r08.json: parsed=null — 141 queries at 3 decimals plus
# a 13-entry resampled dict overflowed the window r7 cleared by 14 bytes).
# Target 1900 to keep real headroom for the trailing newline and any stderr
# interleaving.
COMPACT_LINE_MAX = 1900


def read_steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (field 8 of /proc/stat's cpu line).
    Ambient telemetry for the bench artifact (r11 verdict Next #7): a storm
    window inflates every wall number 2-30x with zero local load, and the
    PERF comparison needs a mechanical marker for that. Returns -1 where
    /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return -1


def steal_delta(start: int, end: int) -> int:
    """Steal ticks between two :func:`read_steal_ticks` reads; the -1
    sentinel when either read failed."""
    return -1 if start < 0 or end < 0 else end - start


def build_compact_line(
    timings: dict,
    medians: dict,
    resampled_names: list,
    n_degraded: int,
    total: float,
    total_ex_baseline: float,
    sf_val,
    runs: int,
    ambient: dict | None = None,
) -> str:
    """Serialize the final compact bench line, degrading precision and
    optional fields until it fits :data:`COMPACT_LINE_MAX`.

    The ladder (2-decimal times -> 1-decimal -> drop med_hot -> drop
    resampled -> drop optional scalars) guarantees the REQUIRED contract
    fields (metric/value/unit/queries/sf) always survive at full registry
    size; everything dropped here still lands verbatim in
    bench_verbose_last.json. ``resampled`` is names-only by design — the
    re-measured values are already IN ``timings``; the line only needs to
    record WHO got the post-drain verdict.
    """
    def _fmt(v: float, decimals):
        # above 100 s the fraction is measurement noise; an int is 2 chars
        # shorter than e.g. "103.0" and keeps the worst case bounded.
        # "mixed" keeps 2 decimals ONLY under 1 s — that is where 0.1 s
        # quantization destroys regression checks (the r9 verdict's q31
        # example: 0.20 recorded vs a 0.05 floor reads as 4x from noise)
        # while costing ~1 char for only the sub-second entries.
        if decimals == "mixed":
            decimals = 2 if v < 1 else 1
        r = round(v, decimals)
        return int(round(v)) if r >= 100 else r

    med_hot_full = {
        k.split("_", 1)[0]: _fmt(medians[k], 2)
        for k in timings
        if medians[k] > max(1.5 * timings[k], timings[k] + 0.3)
        and k.split("_", 1)[0] not in set(resampled_names)
    }
    line = ""
    for decimals, with_med_hot, with_resampled, minimal in (
        (2, True, True, False),
        ("mixed", True, True, False),
        ("mixed", False, True, False),
        # sub-second precision OUTRANKS the resampled name list (which is
        # recoverable from the committed bench_verbose_last.json): at the
        # live registry size the mixed line misses the window by ~20
        # chars with names and fits comfortably without them
        ("mixed", False, False, False),
        (1, False, True, False),
        (1, False, False, False),
        (1, False, False, True),
    ):
        payload = {
            "metric": "total_query_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": {
                k.split("_", 1)[0]: _fmt(v, decimals) for k, v in timings.items()
            },
            "sf": sf_val,
            "n_queries": len(timings),
        }
        if with_med_hot:
            payload["med_hot"] = med_hot_full
        elif not minimal and med_hot_full:
            payload["n_med_hot"] = len(med_hot_full)
        if with_resampled:
            payload["resampled"] = sorted(resampled_names)
        elif not minimal and resampled_names:
            payload["n_resampled"] = len(resampled_names)
        if not minimal:
            payload["total_ex_dd05_baseline"] = total_ex_baseline
            payload["runs_per_query"] = runs
            payload["n_degraded_to_single_run"] = n_degraded
        if ambient:
            # strict ADDITION (r11 verdict Next #7): ambient-load marker so
            # the driver's PERF comparison can flag storm-dominated windows
            # mechanically. Kept even on the minimal rung — it is ~40 chars
            # and the whole point is surviving into the artifact of record.
            payload["ambient"] = ambient
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= COMPACT_LINE_MAX:
            return line
    return line
