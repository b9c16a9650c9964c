"""The two writes of a merge overlap: ``merge_by_key`` writes the new
rows on a worker thread while the calling thread writes the deletion
vector (DV) for the old ones, and the expression/SQL ``merge()`` writes
its DV on a worker thread while the calling thread writes the updated
and inserted rows. A failure on either side commits nothing, and a CHECK
violation raises before anything is committed."""

from __future__ import annotations

import threading

import pytest

from data_warehouse_copy_spark.sources.managed_table import ManagedTable
from data_warehouse_copy_spark.sources.names import NamedCatalog


def _table(spark, root):
    t = ManagedTable.create(spark, root)
    t.append(spark.range(0, 40).selectExpr("id AS k", "id % 7 AS v").coalesce(1))
    return t


def _rows(t):
    return sorted(map(tuple, t.read().collect()))


def _src(spark, v=42):
    return spark.range(30, 50).selectExpr("id AS k", f"CAST({v} AS LONG) AS v")


def test_new_rows_write_while_dv_is_written(spark, tmp_path, monkeypatch):
    t = _table(spark, tmp_path / "t")
    started, waited = threading.Event(), []
    write_files, write_dv = ManagedTable._write_files, ManagedTable._write_dv

    def spy_files(self, *args, **kwargs):
        started.set()
        return write_files(self, *args, **kwargs)

    def spy_dv(self, hits):
        waited.append(started.wait(10))
        return write_dv(self, hits)

    monkeypatch.setattr(ManagedTable, "_write_files", spy_files)
    monkeypatch.setattr(ManagedTable, "_write_dv", spy_dv)
    assert t.merge_by_key(_src(spark), "k") == 20
    assert waited == [True]
    assert t.snapshot().op == "merge"
    assert _rows(t) == [(k, k % 7) for k in range(30)] + [
        (k, 42) for k in range(30, 50)
    ]


def test_failed_dv_write_commits_nothing_and_joins_writer(
    spark, tmp_path, monkeypatch
):
    t = _table(spark, tmp_path / "t")
    version, rows = t._head_version(), _rows(t)

    def boom(self, hits):
        raise RuntimeError("dv write failed")

    monkeypatch.setattr(ManagedTable, "_write_dv", boom)
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="dv write failed"):
        t.merge_by_key(_src(spark), "k")
    assert threading.active_count() == threads
    assert t._head_version() == version
    assert _rows(t) == rows


def test_check_violation_raises_before_any_write(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.add_constraint("v_small", "v < 100")

    def files():
        return sorted(
            p for d in ("data", "_dv") for p in (t.root / d).rglob("*")
        )

    before = files()
    with pytest.raises(ValueError, match="CHECK constraint 'v_small'"):
        t.merge_by_key(_src(spark, v=500), "k")
    assert files() == before


def _merge(t, src):
    """Rows acted on by an expression merge: update matched, insert new."""
    return sum(t.merge(src, "k", when_matched_update={"v": "s.v"}).values())


def _sql_merge(t, src):
    c = NamedCatalog(t.root.parent / "catalog.json")
    c.register("db.t", t.root)
    src.createOrReplaceTempView("merge_overlap_src")
    row = c.sql(
        src.sparkSession,
        "MERGE INTO db.t t USING merge_overlap_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    ).first()
    return row.rows_affected


@pytest.mark.parametrize("run", [_merge, _sql_merge], ids=["api", "sql"])
def test_merge_writes_rows_while_dv_is_written(
    spark, tmp_path, monkeypatch, run
):
    t = _table(spark, tmp_path / "t")
    started, waited = threading.Event(), []
    write_files, write_dv = ManagedTable._write_files, ManagedTable._write_dv

    def spy_files(self, *args, **kwargs):
        started.set()
        return write_files(self, *args, **kwargs)

    def spy_dv(self, hits):
        waited.append(started.wait(10))
        return write_dv(self, hits)

    monkeypatch.setattr(ManagedTable, "_write_files", spy_files)
    monkeypatch.setattr(ManagedTable, "_write_dv", spy_dv)
    assert run(t, _src(spark)) == 20
    assert waited == [True]
    assert t.snapshot().op == "merge"
    assert _rows(t) == [(k, k % 7) for k in range(30)] + [
        (k, 42) for k in range(30, 50)
    ]


def test_merge_failed_dv_write_commits_nothing_and_joins_writer(
    spark, tmp_path, monkeypatch
):
    t = _table(spark, tmp_path / "t")
    version, rows = t._head_version(), _rows(t)

    def boom(self, hits):
        raise RuntimeError("dv write failed")

    monkeypatch.setattr(ManagedTable, "_write_dv", boom)
    threads = threading.active_count()
    with pytest.raises(RuntimeError, match="dv write failed"):
        t.merge(_src(spark), "k", when_matched_update={"v": "s.v"})
    assert threading.active_count() == threads
    assert t._head_version() == version
    assert _rows(t) == rows


def test_merge_update_violating_check_commits_nothing(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.add_constraint("v_small", "v < 100")
    version, rows = t._head_version(), _rows(t)
    threads = threading.active_count()
    with pytest.raises(ValueError, match="CHECK constraint 'v_small'"):
        t.merge(
            _src(spark),
            "k",
            when_matched_update={"v": "s.v + 500"},
            when_not_matched_insert=False,
        )
    assert threading.active_count() == threads
    assert t._head_version() == version
    assert _rows(t) == rows
