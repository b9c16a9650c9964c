"""Tests for the benchmark's pure helpers and its seeded generator.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

# ------------------------------------------------------------------ tail


@pytest.mark.parametrize(
    "n, pct",
    [(0, None), (10, None), (11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_pct_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_pct(n) == pct
    if pct is not None:
        beyond = sum(1 for i in range(n) if i > (n - 1) * pct / 100)
        assert beyond >= stats.TAIL_SAMPLES_BEYOND


def test_tail_value_and_fallback_to_max():
    values = [float(i) for i in range(1, 101)]  # 1..100
    val, pct = stats.tail(values)
    assert pct == 90
    assert val == pytest.approx(stats.percentile(values, 90))
    assert sum(1 for v in values if v > val) == 10
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_percentile_and_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.percentile([1, 2, 3, 4, 5], 50) == 3
    assert stats.percentile([0, 10], 25) == 2.5


# ------------------------------------------------ job intervals, driver gap


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert stats.union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10.0)
    assert stats.union_length([(5, 5), (1, 2)]) == pytest.approx(1.0)


def test_driver_gap_is_wall_minus_busy_inside_the_op():
    # op runs [100, 110]; jobs overlap each other and one starts early
    jobs = [(99.0, 101.0), (102.0, 104.0), (103.0, 105.0), (108.0, 112.0)]
    busy, gap = stats.driver_gap(10.0, jobs, 100.0)
    assert busy == pytest.approx(1 + 3 + 2)
    assert gap == pytest.approx(4.0)
    assert busy + gap == pytest.approx(10.0)
    assert stats.driver_gap(2.0, [], 0.0) == (0.0, 2.0)


# ---------------------------------------------------------- self time


def test_attribute_single_thread_is_classic_self_time():
    spans = [
        ("pipeline.run", 1, 0, 0.0, 10.0),
        ("copy.range", 1, 1, 1.0, 4.0),
        ("mt.overwrite_range", 1, 2, 2.0, 3.5),
        ("upsert.update_table", 1, 1, 5.0, 9.0),
    ]
    got = stats.attribute(spans, 0.0, 10.0, main_thread=1)
    assert got["pipeline.run"] == pytest.approx(10 - 3 - 4)
    assert got["copy.range"] == pytest.approx(3 - 1.5)
    assert got["mt.overwrite_range"] == pytest.approx(1.5)
    assert got["upsert.update_table"] == pytest.approx(4)
    assert sum(got.values()) == pytest.approx(10.0)


def test_attribute_charges_uncovered_time_and_splits_parallel_threads():
    spans = [
        ("pipeline.run", 1, 0, 1.0, 9.0),
        # two dim reloads on worker threads while the caller waits
        ("copy.truncate", 2, 0, 2.0, 6.0),
        ("copy.truncate", 3, 0, 4.0, 8.0),
    ]
    got = stats.attribute(spans, 0.0, 10.0, main_thread=1)
    assert got[""] == pytest.approx(2.0)  # before and after the run
    # 2-4 and 6-8 one worker, 4-6 two workers: the waiting caller is free
    assert got["copy.truncate"] == pytest.approx(6.0)
    assert got["pipeline.run"] == pytest.approx(2.0)
    assert sum(got.values()) == pytest.approx(10.0)


# ------------------------------------------------------------- space_amp


def test_space_amp_over_a_fixture_tree(tmp_path):
    t, clone = tmp_path / "t", tmp_path / "clone"
    (t / "data" / "a").mkdir(parents=True)
    (t / "_log").mkdir()
    (clone / "_log").mkdir(parents=True)
    (t / "data" / "a" / "live.parquet").write_bytes(b"x" * 400)
    (t / "data" / "a" / "dead.parquet").write_bytes(b"x" * 300)
    (t / "_log" / "00000000000000000001.json").write_bytes(b"x" * 100)
    (clone / "_log" / "00000000000000000000.json").write_bytes(b"x" * 200)
    live = {t / "data" / "a" / "live.parquet"}
    assert stats.space_amp([t], live) == (2.0, 800, 400)
    # a clone referencing the same file adds only its own log bytes
    assert stats.space_amp([t, clone], live) == (2.5, 1000, 400)
    assert stats.space_amp([clone], set()) == (0.0, 200, 0)


# ------------------------------------------------------------- generator


def digest(t: pa.Table) -> str:
    """Order-sensitive content hash of an Arrow table."""
    h = hashlib.sha256(str(t.schema).encode())
    for col in t.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def test_same_seed_gives_identical_plans():
    for make in (gen.nightly_plan, gen.dml_plan):
        assert make(7) == make(7)
        assert make(7) != make(8)


def test_progress_sums_add_up_the_records_of_a_drain():
    records = [
        {"durationMs": {"triggerExecution": 100, "addBatch": 80}, "numInputRows": 7,
         "stateOperators": [{"commitTimeMs": 3}]},
        {"durationMs": {"triggerExecution": 50}, "numInputRows": None},
    ]
    sums = tracing.progress_sums(records)
    assert sums["triggerExecution_ms"] == 150
    assert sums["addBatch_ms"] == 80
    assert sums["input_rows"] == 7
    assert sums["state_commit_ms"] == 3
    assert sums["batches"] == 2
    assert tracing.progress_sums([]) == {}


def test_same_seed_gives_identical_query_order():
    names = ["q", "dedup", "similarity", "text"]
    orders = {tuple(gen.nightly_plan(s, names)["queries"]) for s in range(20)}
    assert gen.nightly_plan(7, names) == gen.nightly_plan(7, names)
    assert all(sorted(o) == sorted(names) for o in orders)
    assert len(orders) > 1  # the seed picks the order


def test_same_seed_gives_identical_tables():
    a, b = gen.base_tables(), gen.base_tables()
    c, d = gen.corpus_tables(), gen.corpus_tables()
    assert {k: digest(v) for k, v in c.items()} == {
        k: digest(v) for k, v in d.items()
    }
    assert {k: digest(v) for k, v in a.items()} == {
        k: digest(v) for k, v in b.items()
    }
    plan = gen.dml_plan(3)
    assert digest(gen.merge_sources(plan, a["orders"])) == digest(
        gen.merge_sources(plan, b["orders"])
    )


def test_plans_respect_their_invariants():
    windows = gen.nightly_plan(5)["windows"]
    assert all(a < b for (a, _), (b, _) in zip(windows, windows[1:]))
    shapes = set()
    for cycle in gen.dml_plan(5)["cycles"]:
        shapes.add(tuple((op["kind"], op.get("path")) for op in cycle))
        merge = cycle[0]
        assert merge["insert_lo"] >= gen.SF01_ROWS["orders"]
        assert len(set(merge["update_keys"])) == len(merge["update_keys"])
    assert len(shapes) == 1  # every cycle has the same shape
    assert set(gen.WHY) == {"nightly_copy", "dml_stream"}
