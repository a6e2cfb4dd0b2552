"""Registry contract invariants — the driver checks only the FIRST 50
entries of ``queries()`` per round, so the rotation scheme in
``registry._CHECK_TAIL`` is load-bearing: a miscounted tail silently
drops queries out of official verification."""

from __future__ import annotations

from db_converter_spark.registry import _CHECK_TAIL, all_queries


def test_head_is_exactly_fifty():
    qs = all_queries()
    assert len(qs) - len(_CHECK_TAIL) == 50, (
        f"head is {len(qs) - len(_CHECK_TAIL)} queries; the driver checks"
        " exactly 50 — resize _CHECK_TAIL"
    )


def test_tail_names_exist_and_are_unique():
    qs = all_queries()
    assert len(set(_CHECK_TAIL)) == len(_CHECK_TAIL)
    missing = [n for n in _CHECK_TAIL if n not in qs]
    assert not missing, f"_CHECK_TAIL names not in registry: {missing}"


def test_tail_is_ordered_last():
    names = list(all_queries())
    assert names[-len(_CHECK_TAIL):] == [n for n in _CHECK_TAIL if n in set(names)]


def test_compact_bench_prefixes_unique():
    """bench.py keys its final compact line on the prefix before the first
    underscore; a new query that collides would corrupt the artifact."""
    prefixes = [n.split("_", 1)[0] for n in all_queries()]
    dupes = {p for p in prefixes if prefixes.count(p) > 1}
    assert not dupes, f"non-unique bench prefixes: {dupes}"


def test_compact_bench_line_fits_capture_window():
    """The driver records only the LAST ~2000 chars of bench.py stdout;
    BENCH_r08.json lost its per-query map (parsed=null) when the compact
    line outgrew that window. Pin the WORST plausible line at the live
    registry size: every query slow (three-digit seconds), every query
    median-hot, every query resampled — the ladder in
    benchutil.build_compact_line must still land under COMPACT_LINE_MAX."""
    import json

    from db_converter_spark.benchutil import COMPACT_LINE_MAX, build_compact_line

    names = list(all_queries())
    timings = {n: 999.999 for n in names}
    medians = {n: 9999.999 for n in names}  # every query trips med_hot
    resampled = sorted(n.split("_", 1)[0] for n in names[: len(names) // 2])
    worst_ambient = {"steal_ticks": 99999999, "load1": [999.9, 999.9]}
    line = build_compact_line(
        timings, medians, resampled, len(names), 99999.999, 99999.999, 0.1, 3,
        ambient=worst_ambient,
    )
    assert len(line) <= COMPACT_LINE_MAX, (
        f"compact bench line is {len(line)} chars at worst case; the"
        f" driver window holds ~2000 — extend the degradation ladder"
    )
    parsed = json.loads(line)
    # the contract fields must survive every ladder rung
    for field in ("metric", "value", "unit", "queries", "sf"):
        assert field in parsed, f"required field {field} dropped from compact line"
    assert len(parsed["queries"]) == len(names)
    # the r12 ambient marker is an addition and must survive degradation
    assert parsed.get("ambient") == worst_ambient
    # realistic shape (committed expected bests, nothing hot) must fit on
    # the FIRST rung so precision is only degraded under duress
    import os

    exp_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_expected.json",
    )
    with open(exp_path) as fh:
        expected = json.load(fh)["queries_best"]
    line2 = build_compact_line(
        expected,
        dict(expected),
        [],
        0,
        round(sum(expected.values()), 3),
        round(sum(expected.values()), 3),
        0.1,
        3,
    )
    assert len(line2) <= COMPACT_LINE_MAX
    assert json.loads(line2)["runs_per_query"] == 3, (
        "realistic line should keep optional fields (first ladder rungs)"
    )


def test_every_query_has_doc_and_builder():
    for name, spec in all_queries().items():
        assert spec.doc, f"{name} has no docstring"
        assert callable(spec.builder)


def test_bench_heavy_set_names_are_real():
    """bench.py GCs after the queries in its `heavy` set — a renamed query
    would silently stop getting its post-query GC and its shuffle state
    would inflate the next five queries' numbers."""
    import re
    from pathlib import Path

    src = Path(__file__).resolve().parent.parent.joinpath("bench.py").read_text()
    m = re.search(r"heavy = \{(.*?)\}", src, re.S)
    heavy = set(re.findall(r'"([^"]+)"', m.group(1)))
    assert heavy, "heavy set not found in bench.py"
    unknown = heavy - set(all_queries())
    assert not unknown, f"bench.py heavy set names not in registry: {unknown}"


def _official_rows():
    import json
    from pathlib import Path

    return json.loads(
        Path(__file__).resolve().parent.joinpath("official_rows.json").read_text()
    )


def test_every_query_has_an_official_row_record():
    """New queries must be stamped into tests/official_rows.json (run
    scripts/update_official_rows.py --round N <name>) so the freshness
    guard covers them from day one."""
    missing = set(all_queries()) - set(_official_rows())
    assert not missing, (
        f"no official-row record for {sorted(missing)}; run"
        " scripts/update_official_rows.py --round <N> <names>"
    )


def test_tail_queries_unchanged_since_official_row():
    """THE rotation-freshness guard (r4 verdict 'What's wrong #3'): a query
    parked in _CHECK_TAIL relies on an official green row from an earlier
    round, which is only valid while its source (oracle SQL + builder +
    referenced SQL constants/helpers) is unchanged. Mechanically enforces
    what r3/r4 verified by hand with git diff."""
    from db_converter_spark.registry import query_fingerprint

    rows = _official_rows()
    all_queries()  # ensure registration
    stale = []
    for n in _CHECK_TAIL:
        rec = rows.get(n)
        if rec is None or query_fingerprint(n) != rec["fp"]:
            stale.append(n)
    assert not stale, (
        f"tail queries changed since their recorded official round: {stale} —"
        " move them to the head for this round (update _CHECK_TAIL), then"
        " re-stamp with scripts/update_official_rows.py after the green row"
    )


def test_query_fingerprint_is_deterministic():
    from db_converter_spark.registry import query_fingerprint

    all_queries()
    for n in ("dd01_dedup_exact", "pipe05_corpus_build", "ev10_session_window_stream"):
        assert query_fingerprint(n) == query_fingerprint(n)


def test_steal_delta_keeps_sentinel():
    """A failed /proc/stat read at either end reports -1, never a
    difference taken against the sentinel."""
    from db_converter_spark.benchutil import steal_delta

    assert steal_delta(100, 130) == 30
    assert steal_delta(-1, 130) == -1
    assert steal_delta(100, -1) == -1
