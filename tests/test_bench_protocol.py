"""BASELINE_FLOOR growth protocol (round-8 verdict item 8): the per-query
floor file may only GROW — new queries append floors measured isolated
min-of-3; recorded floors never change in either direction (raising one
quietly loosens the 2x gate, lowering one rewrites judged history).
"""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import (  # noqa: E402
    BENCH_QUERIES,
    adjudicate_violations,
    build_detail,
    floor_check_line,
    merge_floors,
    next_round,
    stdout_records,
)


def test_adjudicate_violations_reports_both_numbers_and_verdict():
    """Round-9 verdict item 2: a floor violator is re-measured
    min-of-3 in the same process and the artifact carries BOTH
    numbers. A re-measure clearing the 2x gate reads host_contention;
    one that does not reads regression — so a judge acting on the
    artifact alone can tell the two apart."""
    floor = {"fast": 1.0, "slow": 1.0}
    violations = {"fast": 3.1, "slow": 2.6}  # the sweep's ratios
    calls: dict = {"fast": 0, "slow": 0}
    # fast: contention cleared (samples 1.5, 1.2, 1.4 → min 1.2 = 1.2x)
    # slow: genuinely regressed (all samples ~2.6x the floor)
    samples = {"fast": [1.5, 1.2, 1.4], "slow": [2.7, 2.6, 2.65]}

    def measure_once(q):
        calls[q] += 1
        return samples[q][calls[q] - 1]

    got = adjudicate_violations(measure_once, violations, floor)
    assert calls == {"fast": 3, "slow": 3}  # min-of-3 each
    assert got["fast"] == {
        "sweep_ratio": 3.1,
        "remeasured_sec": 1.2,
        "remeasured_ratio": 1.2,
        "verdict": "host_contention",
    }
    assert got["slow"]["verdict"] == "regression"
    assert got["slow"]["remeasured_ratio"] == 2.6
    assert adjudicate_violations(measure_once, {}, floor) == {}


def test_merge_floors_appends_new_queries():
    old = {"q1": 1.0, "q2": 2.5}
    merged = merge_floors(old, {"q3": 0.7})
    assert merged == {"q1": 1.0, "q2": 2.5, "q3": 0.7}
    assert old == {"q1": 1.0, "q2": 2.5}  # input untouched


def test_merge_floors_rejects_any_overwrite():
    old = {"q1": 1.0}
    with pytest.raises(ValueError, match="append-only"):
        merge_floors(old, {"q1": 0.5})  # downward: rewrites judged history
    with pytest.raises(ValueError, match="append-only"):
        merge_floors(old, {"q1": 2.0})  # upward: loosens the 2x gate
    assert merge_floors(old, {"q1": 1.0}) == old  # identical re-state ok


def test_merge_floors_rejects_nonpositive():
    with pytest.raises(ValueError, match="positive"):
        merge_floors({}, {"q": 0})
    with pytest.raises(ValueError, match="positive"):
        merge_floors({}, {"q": -1.2})


def test_next_round_is_one_past_newest_bench_artifact(tmp_path):
    """bench.py runs BEFORE the driver records BENCH_r{N}.json for the
    current round, so the newest existing artifact is LAST round's."""
    assert next_round(tmp_path) == 1  # fresh repo
    (tmp_path / "BENCH_r01.json").write_text("{}")
    (tmp_path / "BENCH_r10.json").write_text("{}")
    (tmp_path / "BENCH_r2.json").write_text("{}")
    (tmp_path / "BENCH_rX.json").write_text("{}")  # not a round artifact
    assert next_round(tmp_path) == 11


def test_build_detail_schema_and_ratios():
    """Round-10 verdict item 6: the committed BENCH_DETAIL_r{N}.json
    carries EVERY query's seconds + floor + ratio (the driver's stdout
    tail truncates the big JSON; this file is the full judged record)."""
    times = {"a": 2.0, "b": 1.0, "c": 5.0}
    floors = {"a": 1.0, "b": 4.0}  # c unfloored
    d = build_detail(
        times, floors, 0.1, 11, {"sweep_end": [1.0, 1.0, 1.0]},
        {"a": {"verdict": "host_contention"}},
    )
    assert d["round"] == 11 and d["sf"] == 0.1
    assert d["total_sec"] == 8.0 and d["n_queries"] == 3
    assert d["queries"]["a"] == {"sec": 2.0, "floor_sec": 1.0, "ratio": 2.0}
    assert d["queries"]["b"]["ratio"] == 0.25
    assert d["queries"]["c"] == {"sec": 5.0, "floor_sec": None, "ratio": None}
    assert d["n_floored"] == 2 and d["max_ratio"] == 2.0
    assert d["violations_over_2x"] == {}  # 2.0 is AT the gate, not over
    assert d["violations_adjudicated"]["a"]["verdict"] == "host_contention"
    assert d["loadavg"]["sweep_end"] == [1.0, 1.0, 1.0]
    # floors only mean anything at sf0.1 — any other sf nulls them
    d2 = build_detail(times, floors, 0.01, 3, {}, {})
    assert all(v["ratio"] is None for v in d2["queries"].values())
    assert d2["violations_over_2x"] == {}
    # a genuine violation is listed
    d3 = build_detail({"a": 2.1}, {"a": 1.0}, 0.1, 1, {}, {})
    assert d3["violations_over_2x"] == {"a": 2.1}


def test_floor_check_line_stays_tail_safe_under_stress():
    """Round-14 verdict item 1a: the r14 floor_check line inlined 12
    full adjudication records (~1900 chars) and pushed the headline
    one-line JSON out of the driver's ~2KB stdout-tail capture —
    PERF_r14 came back all-null. The line must stay SHORT no matter how
    many violations a contended sweep produces: counts + a capped
    confirmed-regressions list, full records only in BENCH_DETAIL."""
    long = [f"dedup_semantic_incremental_ivf_variant_{i:02d}" for i in range(20)]
    ratios = {q: 3.0 for q in long}
    violations = dict(ratios)
    adjudicated = {
        q: {
            "sweep_ratio": 3.0,
            "remeasured_sec": 9.999,
            "remeasured_ratio": 2.9,
            "verdict": "regression" if i % 2 else "host_contention",
        }
        for i, q in enumerate(long)
    }
    loadavg = {
        "warmup_end": [12.34, 12.34, 12.34],
        "sweep_end": [12.34, 12.34, 12.34],
        "adjudication_end": [12.34, 12.34, 12.34],
    }
    line = floor_check_line(ratios, violations, adjudicated, long, loadavg)
    assert len(json.dumps(line)) < 500, json.dumps(line)
    # the signal content survives the compaction
    assert line["metric"] == "floor_check"
    assert line["n_violations_over_2x"] == 20
    assert line["n_confirmed_regressions"] == 10
    assert line["n_adjudicated_contention"] == 10
    assert len(line["confirmed_regressions"]) == 2  # capped, count is honest
    assert line["n_unfloored"] == 20  # names live in BENCH_DETAIL
    assert line["max_ratio"] == 3.0
    # the healthy case (r13 shape): everything present, nothing truncated
    ok = floor_check_line({"a": 1.1, "b": 0.9}, {}, {}, [], loadavg)
    assert ok["max_ratio"] == 1.1 and ok["max_ratio_query"] == "a"
    assert ok["confirmed_regressions"] == []
    assert len(json.dumps(ok)) < 500
    # empty-ratios edge: no floors at this sf
    empty = floor_check_line({}, {}, {}, ["q"], {})
    assert empty["max_ratio"] is None and empty["max_ratio_query"] is None


def test_compact_headline_line_stays_tail_safe():
    """The second headline_queries_total line (the one with no queries
    dict) is what the driver's tail capture must always contain — pin
    its worst-case size with the longest registry names."""
    longest = max(BENCH_QUERIES, key=len)
    line = {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "unit": "sec",
        "n_queries": len(BENCH_QUERIES),
        "sf": 0.1,
        "worst_query": longest,
        "worst_sec": 99999.999,
    }
    assert len(json.dumps(line)) < 250


def test_floor_file_covers_registry_or_reports_unfloored():
    """Every bench query is either floored or known-new: the floor file
    must be a SUBSET of the registry (a floor for a deleted query would
    mask a rename slipping past the gate), and the floors themselves
    must be positive seconds."""
    floor_path = Path(__file__).resolve().parents[1] / "BASELINE_FLOOR.json"
    floors = json.loads(floor_path.read_text())["queries"]
    extinct = set(floors) - set(BENCH_QUERIES)
    assert not extinct, f"floors for queries no longer benched: {extinct}"
    assert all(
        isinstance(v, (int, float)) and v > 0 for v in floors.values()
    )


def test_stdout_records_print_compact_headline_last():
    """A last-line parse of bench.py's stdout must read the compact
    headline: the full per-query record first, ``floor_check`` next,
    and the headline LAST (PERF_r15 came back all-null while
    ``floor_check`` printed after it)."""
    times = {"a": 1.0, "b": 2.5}
    floor = floor_check_line({"a": 1.0}, {}, {}, ["b"], {})
    recs = stdout_records(times, 0.1, floor)
    assert [r["metric"] for r in recs] == [
        "headline_queries_total", "floor_check", "headline_queries_total",
    ]
    assert recs[0]["queries"] == times and recs[0]["value"] == 3.5
    assert recs[1] is floor
    assert recs[-1] == {
        "metric": "headline_queries_total",
        "value": 3.5,
        "unit": "sec",
        "n_queries": 2,
        "sf": 0.1,
        "worst_query": "b",
        "worst_sec": 2.5,
    }
    assert len(json.dumps(recs[-1])) < 500  # survives tail truncation
    # no floors at this sf: the headline still closes the output
    recs = stdout_records(times, 0.01, None)
    assert [r["metric"] for r in recs] == ["headline_queries_total"] * 2
    assert "queries" not in recs[-1] and recs[-1]["sf"] == 0.01
