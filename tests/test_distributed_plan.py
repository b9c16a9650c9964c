"""Distributed manifest planning (VERDICT r5 item 1, the driver-memory
ceiling): past the gate, read()'s file pruning runs as a Spark job over a
PARQUET checkpoint + the action tail, and the driver materializes only the
pruned survivors — planning memory no longer scales with table file count
(the Delta/Iceberg metadata-as-data approach)."""

from __future__ import annotations

import dataclasses
import json
import sys
import uuid
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import data_warehouse_copy_spark.sources.managed_table as mt  # noqa: E402
from data_warehouse_copy_spark.sources.managed_table import (  # noqa: E402
    FileEntry,
    ManagedTable,
    Manifest,
)


def _mk(spark, root, n=1000):
    t = ManagedTable.create(spark, root)
    base = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    for i in range(4):
        t.append(base.filter(F.col("k") % 4 == i).coalesce(1))
    return t


def test_parquet_checkpoint_twin_written_on_cadence(spark, tmp_path):
    t = ManagedTable.create(spark, tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id AS k", "id % 7 AS v")
    for _ in range(mt._CKPT_EVERY):
        t.append(df.coalesce(1))
    ck = t._ckpt_parquet_path(mt._CKPT_EVERY)
    assert ck.exists()
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(ck)
    assert pf.metadata.num_rows == mt._CKPT_EVERY  # one row per live file
    header = json.loads(pf.schema_arrow.metadata[b"dwcs_header"])
    assert header["version"] == mt._CKPT_EVERY
    assert header["schema_json"]  # table header rides the footer


def _synthetic_wide_manifest(spark, root, n_files: int, schema_json=None, partitioned=True):
    """A table whose parquet checkpoint carries ``n_files`` SYNTHETIC
    entries (the data files need not exist — planning never opens them).
    Each file i spans k in [i*10, i*10+9] and carries a day partition.
    ``schema_json`` gives the synthetic manifest a real table schema so
    bounded INGEST paths (which require one) can run against it."""
    t = ManagedTable.create(spark, root)
    if schema_json is None:
        schema_json = t.snapshot().schema_json  # None for empty create
    entries = tuple(
        FileEntry(
            path=f"data/synth/{i:07d}.parquet",
            partition=f"2024-{(i % 12) + 1:02d}-01" if partitioned else None,
            rows=10,
            stats={"k": [i * 10, i * 10 + 9]},
        )
        for i in range(n_files)
    )
    m = Manifest(
        version=1,
        partition_date_col="d" if partitioned else None,
        schema_json=schema_json,
        files=entries,
        op="append",
        ts=datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
    )
    # land version 1 as an (empty-diff) action so the head probe finds it,
    # and the parquet checkpoint twin alongside
    (root / "_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {
                "version": 1,
                "op": "append",
                "ts": m.ts,
                "ets": m.ts,
                "add": [],
                "remove": [],
                "schema_json": None,
                "txn": None,
            }
        )
    )
    t._write_checkpoint_parquet(m)
    return t


def test_wide_manifest_point_lookup_plans_distributed(spark, tmp_path):
    n = 100_001  # >= the VERDICT "done" bar of 1e5 entries
    t = _synthetic_wide_manifest(spark, tmp_path / "wide", n)
    planned = t._plan_distributed(1, None, None, None, [("k", "=", 123456)])
    assert planned is not None  # gate passed: this ran as a Spark job
    sel, _schema, _cols = planned
    # k=123456 lives in exactly file 12345's span [123450, 123459]
    assert [f.path for f in sel] == ["data/synth/0012345.parquet"]
    # driver materialized ONLY the survivor, not the 100k-entry manifest


def test_wide_manifest_partition_prune_distributed(spark, tmp_path):
    n = 60_000
    t = _synthetic_wide_manifest(spark, tmp_path / "wide2", n)
    planned = t._plan_distributed(
        1, "2024-03-01", "2024-03-31", None, [("k", "<", 1000)]
    )
    assert planned is not None
    sel, _, _cols = planned
    # k<1000 -> files 0..99; March partition -> i % 12 == 2
    expect = {f"data/synth/{i:07d}.parquet" for i in range(100) if i % 12 == 2}
    assert {f.path for f in sel} == expect


def test_distributed_read_matches_classic(spark, tmp_path, monkeypatch):
    """End-to-end on REAL files: force the gate down so the distributed
    planner serves a small table, and verify reads (plain, pruned, after
    a tail DV delete and a tail append) are value-identical to the
    classic driver path."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())  # parquet ckpt at current head
    # tail past the checkpoint: an append and a DV delete (changed entries
    # ride the tail as remove + re-add; planning must fold them)
    t.append(
        spark.range(5000, 5050).selectExpr("id AS k", "id % 7 AS v").coalesce(1)
    )
    assert t.delete(where=[("k", "<", 10)]) == 10

    def both(**kw):
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
        classic = sorted(map(tuple, t.read(**kw).collect()))
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert (
            t._plan_distributed(
                None,
                kw.get("partition_min"),
                kw.get("partition_max"),
                kw.get("partitions"),
                kw.get("where"),
            )
            is not None
        )
        dist = sorted(map(tuple, t.read(**kw).collect()))
        assert dist == classic
        return dist

    rows = both()
    assert len(rows) == 1000 - 10 + 50
    assert both(where=[("k", "=", 123)]) == [(123, 123 % 7)]
    assert both(where=[("k", ">=", 5040)]) == [
        (k, k % 7) for k in range(5040, 5050)
    ]
    # deleted keys stay deleted through the distributed plan
    assert both(where=[("k", "<", 10)]) == []


def test_distributed_plan_handles_residual_expr(spark, tmp_path, monkeypatch):
    """A ``("", "expr", sql)`` residual conjunct through the DISTRIBUTED
    planner (round-10): `_prune_manifest_pdf` keeps every file for the
    residual (stats prove nothing about an expression) while sargable
    siblings still prune, and read / bounded DV delete stay value-exact
    vs the classic path."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    where = [("k", ">=", 100), ("", "expr", "k % 10 = 3")]
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    classic = sorted(map(tuple, t.read(where=where).collect()))
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    assert t._plan_distributed(None, None, None, None, where) is not None
    assert sorted(map(tuple, t.read(where=where).collect())) == classic
    assert classic == [(k, k % 7) for k in range(100, 1000) if k % 10 == 3]
    # bounded DV delete with the same mixed where
    n = t.delete(where=where)
    assert n == len(classic)
    assert t.read().count() == 1000 - n


def test_distributed_plan_falls_back_without_parquet_ckpt(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    t = _mk(spark, tmp_path / "t")
    # no checkpoint at all: classic path must serve reads unchanged
    assert t._plan_distributed(None, None, None, None, None) is None
    assert t.read().count() == 1000


def test_manifest_df_matches_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    t.append(spark.range(9000, 9010).selectExpr("id AS k", "id % 7 AS v"))
    t.delete(where=[("k", "=", 5)])
    m = t.snapshot()
    got = {
        r["path"]: (r["rows"], r["dv_rows"], tuple(r["dv_paths"] or []))
        for r in t.manifest_df().collect()
    }
    want = {f.path: (f.rows, f.dv_rows, tuple(f.dv_paths)) for f in m.files}
    assert got == want


def test_streamed_plan_matches_spark_job_plan(spark, tmp_path, monkeypatch):
    """A session-less handle (how the datasource planning worker sees the
    table) must produce the IDENTICAL plan through the streamed-pyarrow
    twin — including DV carriage and tail folding."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    t.append(spark.range(5000, 5050).selectExpr("id AS k", "id % 7 AS v"))
    t.delete(where=[("k", "<", 10)])
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    for where in (None, [("k", "<", 100)], [("k", ">=", 5040)]):
        with_spark = t._plan_distributed(None, None, None, None, where)
        streamed = ManagedTable(None, t.root)._plan_distributed(
            None, None, None, None, where
        )
        assert with_spark is not None and streamed is not None
        key = lambda f: (  # noqa: E731
            f.path, f.partition, f.rows, f.dv_paths, f.dv_rows, f.bloom_path
        )
        assert sorted(map(key, streamed[0])) == sorted(map(key, with_spark[0]))
        assert streamed[1] == with_spark[1]


def test_declarative_partitions_stream_plan_on_wide_manifest(spark, tmp_path):
    """The datasource's partitions() at 100k+ manifest entries: the
    session-less streamed planner must serve it (the gate passes with no
    monkeypatching — proof the REAL declarative path scales), returning
    only the surviving partition."""
    from pyspark.sql import types as T

    from data_warehouse_copy_spark.sources.datasource import (
        ManagedTableBatchReader,
    )

    t = _synthetic_wide_manifest(spark, tmp_path / "wide3", 100_001)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    reader = ManagedTableBatchReader(
        str(t.root),
        {"versionasof": "1", "where": '[["k", "=", 123456]]'},
        schema,
    )
    parts = reader.partitions()
    assert [Path(p.path).name for p in parts] == ["0012345.parquet"]


def test_unselective_read_streams_from_manifest(spark, tmp_path, monkeypatch):
    """VERDICT r6 item 5: a no-predicate read past the gate is
    manifest-DRIVEN — the plan scans the checkpoint and every task opens
    its own files (MapInArrow); the driver never materializes the path
    list. Values must equal the classic JVM scan exactly, including
    deletion vectors, rename and widen."""
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    # rename + DV delete ride the ACTION TAIL past the checkpoint: the
    # manifest-driven scan must fold both
    t.rename_column("v", "val")
    t.delete([("k", "<", 100)])
    df = t.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    classic = t.read()
    assert "MapInArrow" not in classic._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, classic.collect())
    )
    assert df.columns == classic.columns == ["k", "val"]


def test_unselective_read_columns_pushdown(spark, tmp_path, monkeypatch):
    """Catalyst cannot column-prune through the manifest-driven Python
    scan, so read(columns=...) must push the projection into the pyarrow
    reads; values equal the classic projected scan."""
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    df = t.read(columns=["v"])
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    assert df.columns == ["v"]
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    classic = t.read().select("v")
    assert sorted(r.v for r in df.collect()) == sorted(
        r.v for r in classic.collect()
    )


def test_unselective_read_wide_manifest_never_lists_paths(spark, tmp_path):
    """100k+ SYNTHETIC manifest entries whose data files do not exist:
    planning an unselective read must succeed anyway — proof that neither
    a driver-side path-list collect nor a file open happens at plan time
    (the real gate, no monkeypatching). The old path listed every file
    into a Python array here; executing would fail, planning must not."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = _synthetic_wide_manifest(
        spark, tmp_path / "wideu", 100_001, schema_json=schema.json(),
        partitioned=False,
    )
    df = t.read()  # plans only — no action
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert df.columns == ["k", "v"]


def test_bounded_history_matches_full_walk(spark, tmp_path):
    """history(since_version=) replayed from the checkpoint header +
    dictionary-filtered row lookups must equal the full walk's slice —
    including DV re-versions (remove+re-add churn), an overwrite's
    remove_all reset, and metadata-only evolution commits."""
    t = ManagedTable.create(spark, tmp_path / "t")
    for i in range(mt._CKPT_EVERY + 2):
        t.append(
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("id AS k", "id % 7 AS v")
            .coalesce(1)
        )
    t.delete([("k", "<", 5)])        # DV: remove + re-add same path
    t.rename_column("v", "val")      # metadata-only commit
    t.overwrite(
        spark.range(3).selectExpr("id AS k", "id AS val").coalesce(1)
    )                                # past the gate: remove_all marker
    t.append(spark.range(3, 6).selectExpr("id AS k", "id AS val"))
    full = t.history()
    for since in (1, mt._CKPT_EVERY, t._head_version() - 2):
        bounded = t.history(since_version=since)
        assert bounded == [ci for ci in full if ci.version >= since]
    # since past head = empty; since 0 = the full walk itself
    assert t.history(since_version=t._head_version() + 1) == []
    assert t.history(since_version=0) == full


def test_bounded_history_on_wide_manifest(spark, tmp_path):
    """On a 100k-entry synthetic manifest the bounded walk must serve a
    recent-history request from header totals + per-touched-path lookups
    — it cannot page the manifest (the synthetic files don't exist, and
    the full walk would need only the log, so the REAL pin is the
    driver-materialization shape: known-paths dict stays O(touched))."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType())])
    t = _synthetic_wide_manifest(
        spark, tmp_path / "wideh", 100_001, schema_json=schema.json(),
        partitioned=False,
    )
    # a tail of appends on top of the synthetic checkpoint
    for i in range(3):
        t.append(
            spark.range(i * 5, (i + 1) * 5).selectExpr("id AS k").coalesce(1)
        )
    rows = t.history(since_version=2)
    assert [ci.version for ci in rows] == [2, 3, 4]
    assert rows[0].total_rows == 100_001 * 10 + 5
    assert rows[-1].n_files == 100_001 + 3
    assert all(ci.rows_added == 5 for ci in rows)


def test_unselective_scan_on_clone_absolute_paths(spark, tmp_path, monkeypatch):
    """A shallow clone's manifest references SOURCE files by ABSOLUTE
    path; the manifest-driven scan must open them as-is (no root join)
    and still apply source-written deletion vectors."""
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    src = _mk(spark, tmp_path / "src")
    src.delete([("k", "<", 100)])
    clone = src.clone_to(tmp_path / "clone")
    clone._write_checkpoint(clone.snapshot())
    df = clone.read()
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    classic = clone.read()
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, classic.collect())
    )
    assert df.count() == 900


def test_checkpoint_retention_sweeps_old(spark, tmp_path):
    """Only the newest _CKPT_KEEP checkpoint versions survive; every
    historical version still reconstructs (v0 full state + replay)."""
    t = ManagedTable.create(spark, tmp_path / "t")
    df = spark.range(0, 5).selectExpr("id AS k", "id % 7 AS v")
    n_commits = mt._CKPT_EVERY * (mt._CKPT_KEEP + 2)
    for _ in range(n_commits):
        t.append(df.coalesce(1))
    log = (tmp_path / "t" / "_log")
    ck_versions = sorted(
        int(p.name[:20]) for p in log.glob("*.checkpoint.json")
    )
    assert len(ck_versions) == mt._CKPT_KEEP
    assert ck_versions[-1] == n_commits - (n_commits % mt._CKPT_EVERY)
    # parquet twins follow the same retention
    assert len(list(log.glob("*.checkpoint.parquet"))) == mt._CKPT_KEEP
    # an old version BELOW every surviving checkpoint still reconstructs
    old_v = mt._CKPT_EVERY  # its checkpoint was swept
    assert t.snapshot(old_v).total_rows == 5 * old_v
    assert t.snapshot().total_rows == 5 * n_commits


def test_distributed_vacuum_matches_classic(spark, tmp_path, monkeypatch):
    """The Spark-job vacuum must delete exactly what the classic sweep
    deletes (garbage from rewrites/compaction/DV folding) and leave the
    table byte-identical to read."""

    def build(root):
        t = _mk(spark, root)
        t.delete(where=[("k", "<", 100)])   # DV parquet garbage later
        t.compact()                          # folds DVs, orphans originals
        t.append(
            spark.range(5000, 5010).selectExpr("id AS k", "id % 7 AS v")
        )
        t._write_checkpoint(t.snapshot())
        return t

    a = build(tmp_path / "a")
    b = build(tmp_path / "b")
    before = sorted(map(tuple, a.read().collect()))
    n_classic = a.vacuum(retention_seconds=0.0, distributed=False)
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    n_dist = b.vacuum(retention_seconds=0.0)  # auto-selects distributed
    assert n_dist == n_classic > 0
    assert sorted(map(tuple, b.read().collect())) == before
    # leftover files identical in count per directory
    for d in ("data", "_dv", "_bloom"):
        fa = len(list((tmp_path / "a" / d).rglob("*.parquet"))) if (
            tmp_path / "a" / d).exists() else 0
        fb = len(list((tmp_path / "b" / d).rglob("*.parquet"))) if (
            tmp_path / "b" / d).exists() else 0
        assert fa == fb
    # scratch listing cleaned up
    assert not list((tmp_path / "b" / "_staging").glob("vacuum_*"))


def test_distributed_vacuum_respects_retention(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    t.overwrite(spark.range(3).selectExpr("id AS k", "id % 7 AS v"))
    # young garbage is protected by the cutoff
    assert t.vacuum(retention_seconds=3600.0, distributed=True) == 0
    assert t.vacuum(retention_seconds=0.0, distributed=True) > 0
    assert t.read().count() == 3


class TestBoundedDmlCommit:
    """Write-side twin of distributed planning: past the gate, delete()
    plans candidates distributively and commits an action diff without
    ever materializing the full file list."""

    def _mk(self, spark, root):
        t = _mk(spark, root)
        t._write_checkpoint(t.snapshot())
        return t

    def test_bounded_delete_matches_classic(self, spark, tmp_path, monkeypatch):
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        na = a.delete(where=[("k", "<", 10)])  # classic (gate stays high)
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        nb = b.delete(where=[("k", "<", 10)])  # bounded
        assert na == nb == 10
        assert b.snapshot().op == "delete"
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        # re-versioned entries KEPT their stats (pruning power survives)
        m = b.snapshot()
        assert all(f.stats for f in m.files if f.dv_rows)
        assert [r["k"] for r in b.read(where=[("k", "=", 500)]).collect()] == [500]
        # second bounded delete excludes first's dead rows (prior DVs)
        assert b.delete(where=[("k", "<", 15)]) == 5
        assert b.read().count() == 1000 - 15

    def test_bounded_noop_and_eviction(self, spark, tmp_path, monkeypatch):
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert t.delete(where=[("k", "=", 10**9)]) == 0
        assert t.snapshot().op == "delete_noop"
        # gut one whole file (k % 4 == 0): entry must leave the manifest
        t2 = self._mk(spark, tmp_path / "t2")
        n_files_before = len(t2.snapshot().files)
        # file 0 holds k % 4 == 0; delete exactly those rows
        src_keys = [k for k in range(1000) if k % 4 == 0]
        assert t2.delete(where=[("k", "in", src_keys)]) == len(src_keys)
        m = t2.snapshot()
        assert len(m.files) == n_files_before - 1  # evicted outright
        assert t2.read().count() == 1000 - len(src_keys)

    def test_bounded_commit_rebases_disjoint_and_rejects_conflicts(
        self, spark, tmp_path, monkeypatch
    ):
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        base = t._head_version()
        f0 = t.snapshot().files[0]
        # a racer lands base+1 touching a DIFFERENT file
        other = t.snapshot().files[1]
        t._commit_bounded(
            base,
            (mt._dc_replace(other, dv_rows=other.dv_rows),),
            {other.path},
            "delete",
        )
        # our bounded commit from the SAME base must rebase cleanly
        t._commit_bounded(base, (f0,), {f0.path}, "delete")
        assert t._head_version() == base + 2
        # and a commit whose files the racer touched must be rejected
        with pytest.raises(mt.ConcurrentWriteError, match="re-read"):
            t._commit_bounded(base, (f0,), {f0.path}, "delete")

    def test_bounded_then_classic_interleave(self, spark, tmp_path, monkeypatch):
        """Bounded commits replay correctly under classic snapshots and
        vice versa (no cache poisoning, no checkpoint confusion)."""
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        t.delete(where=[("k", "<", 5)])       # bounded
        t.append(spark.range(2000, 2010).selectExpr("id AS k", "id % 7 AS v"))
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
        t.delete(where=[("k", "=", 2005)])    # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert t.read().count() == 1000 - 5 + 10 - 1
        assert t.read(where=[("k", "<", 5)]).count() == 0
        assert {r["k"] for r in t.read(where=[("k", ">=", 2000)]).collect()} == (
            set(range(2000, 2010)) - {2005}
        )

    def test_bounded_update_matches_classic(self, spark, tmp_path, monkeypatch):
        a = self._mk(spark, tmp_path / "ua")
        b = self._mk(spark, tmp_path / "ub")
        na = a.update(where=[("k", "<", 10)], set_exprs={"v": 99})
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        nb = b.update(where=[("k", "<", 10)], set_exprs={"v": 99})
        assert na == nb == 10
        assert b.snapshot().op == "update"
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        # rewritten rows present exactly once with the new value
        assert b.read(where=[("k", "<", 10)]).filter("v = 99").count() == 10
        # bounded noop
        assert b.update(where=[("k", "=", 10**9)], set_exprs={"v": 1}) == 0
        assert b.snapshot().op == "update_noop"
        with pytest.raises(ValueError, match="unknown columns"):
            b.update(where=[("k", "=", 1)], set_exprs={"zz": 1})

    def test_bounded_update_evicts_fully_updated_file(
        self, spark, tmp_path, monkeypatch
    ):
        """An update past the gate that matches every live row of one
        file tombstones it whole: its entry leaves the manifest (removed
        without re-add) while the rewritten rows land in new files, and
        reads equal the classic twin's."""
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        keys = [k for k in range(1000) if k % 4 == 0]  # one file, every row
        where = [("k", "in", keys)]
        na = a.update(where=where, set_exprs={"v": 99})  # classic
        before = {f.path for f in b.snapshot().files}
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        regrown = []
        real = ManagedTable._regrow_planned

        def spy(sel, dv_files, per_file):
            regrown.append(real(sel, dv_files, per_file))
            return regrown[-1]

        monkeypatch.setattr(ManagedTable, "_regrow_planned", staticmethod(spy))
        nb = b.update(where=where, set_exprs={"v": 99})  # bounded
        assert na == nb == len(keys)
        assert b.snapshot().op == "update"
        [(changed, removed)] = regrown
        assert changed == () and len(removed) == 1  # evicted, not re-versioned
        after = {f.path for f in b.snapshot().files}
        assert before - after == removed
        assert all(not f.dv_rows for f in b.snapshot().files)
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        assert b.read().filter("v = 99").count() == len(keys)


def test_bounded_count_matches_snapshot(spark, tmp_path, monkeypatch):
    """count() past the gate folds the checkpoint header total + tail —
    appends, DV deletes (re-versioned entries), and evictions must all
    reconcile exactly with the classic snapshot total."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    t.append(spark.range(5000, 5050).selectExpr("id AS k", "id % 7 AS v"))
    t.delete(where=[("k", "<", 10)])  # DV re-version in the tail
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    assert t.count() == t.snapshot().total_rows == 1000 + 50 - 10
    # gut a whole file: eviction rides the tail as remove-without-readd
    src_keys = [k for k in range(10, 1000) if k % 4 == 0]
    t.delete(where=[("k", "in", src_keys)])
    assert t.count() == t.snapshot().total_rows == 1000 + 50 - 10 - len(src_keys)


def test_folded_head_matches_snapshot_head(spark, tmp_path, monkeypatch):
    """The head record folded from the checkpoint header and the action
    tail (past the gate) equals the snapshot-derived one field by field,
    across a rename, a new constraint, a clustering-spec change and a
    txn-stamped append in the tail."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    t.rename_column("k", "kk")
    t.add_constraint("v_nonneg", "v >= 0")
    t.recluster("kk")
    t.append(
        spark.range(2000, 2005).selectExpr("id AS kk", "id % 7 AS v"),
        txn=("app", 7),
    )
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    folded = t._head()
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    snap = t._head()
    assert folded.manifest is None and snap.manifest is not None
    assert dataclasses.replace(snap, manifest=None) == folded
    # every folded field moved off its checkpoint value
    assert folded.version == t._head_version()
    assert [c["name"] for c in folded.columns] == ["kk", "v"]
    assert folded.constraints and folded.cluster_col
    assert folded.txns == {"app": 7}


def test_dml_past_gate_takes_identity_specs_from_head(
    spark, tmp_path, monkeypatch
):
    """Past the gate every DML plans off the folded head record, and the
    identity check reads its specs there too: no DML call rebuilds the
    full manifest through snapshot(), and assigning an ALWAYS identity
    column still raises."""
    t = _mk(spark, tmp_path / "t")
    t._write_checkpoint(t.snapshot())
    ti = _mk(spark, tmp_path / "ti", n=40)
    ti.set_identity("k")
    ti._write_checkpoint(ti.snapshot())
    src = spark.range(990, 1010).selectExpr("id AS k", "id % 7 AS v")
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    calls = []
    snapshot = ManagedTable.snapshot

    def spy(self, *args, **kwargs):
        calls.append(self.root)
        return snapshot(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "snapshot", spy)
    ops = {
        "delete": lambda: t.delete(where=[("k", "<", 10)]),
        "update": lambda: t.update([("k", "<", 20)], {"v": "v + 1"}),
        "merge_by_key": lambda: t.merge_by_key(src, "k"),
        "merge": lambda: t.merge(src, "k", when_matched_update={"v": "s.v"}),
    }
    counts = {}
    for name, op in ops.items():
        calls.clear()
        op()
        counts[name] = len(calls)
    assert counts == {"delete": 0, "update": 0, "merge_by_key": 0, "merge": 0}
    monkeypatch.setattr(ManagedTable, "snapshot", snapshot)
    assert t.count() == 1000 - 10 + 10

    version = ti._head_version()
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        ti.update([("k", "<", 5)], {"k": "k + 5000"})
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS"):
        ti.merge_by_key(src, "k")
    assert ti._head_version() == version


def test_dml_identity_sync_reads_no_snapshot(spark, tmp_path, monkeypatch):
    """Past the gate, a DML that writes BY DEFAULT identity values
    advances the watermark from the footer stats of the files it wrote,
    with the specs from the head record: an UPDATE assigning the
    column, merge_by_key and merge build no snapshot, and a later
    allocation still clears every written id."""
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.createDataFrame([], "id bigint, k bigint, v bigint"))
    t.set_identity("id", always=False)
    for i in range(2):
        t.append(
            spark.range(i * 50, i * 50 + 50).selectExpr("id AS k", "0 AS v")
        )
    t._write_checkpoint(t.snapshot())
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
    calls = []
    snapshot = ManagedTable.snapshot

    def spy(self, *args, **kwargs):
        calls.append(self.root)
        return snapshot(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "snapshot", spy)
    ops = {
        "update": lambda: t.update([("k", "=", 3)], {"id": 5000}),
        "merge_by_key": lambda: t.merge_by_key(
            spark.createDataFrame(
                [(6000, 4, 1), (6001, 200, 1)], "id bigint, k bigint, v bigint"
            ),
            "k",
        ),
        "merge": lambda: t.merge(
            spark.createDataFrame(
                [(7000, 5, 2), (7001, 201, 2)], "id bigint, k bigint, v bigint"
            ),
            "k",
            when_matched_update={"id": "s.id", "v": "s.v"},
        ),
    }
    counts = {}
    for name, op in ops.items():
        calls.clear()
        op()
        counts[name] = len(calls)
    assert counts == {"update": 0, "merge_by_key": 0, "merge": 0}
    monkeypatch.setattr(ManagedTable, "snapshot", snapshot)
    t.append(spark.createDataFrame([(300, 0)], "k bigint, v bigint"))
    ids = {r.k: r.id for r in t.read().collect()}
    assert ids[3] == 5000 and ids[4] == 6000 and ids[5] == 7000
    assert ids[300] > 7001
    assert len(set(ids.values())) == len(ids) == 103


class TestBoundedIngestCommit:
    """Round-7 item 1: the INGEST commits (append/overwrite/replace_where/
    merge) ride the bounded action-diff path past the gate — the last
    O(live files) driver write path. Bounded results must be value- and
    semantics-identical to the classic snapshot-diff commits."""

    def _mk(self, spark, root):
        t = _mk(spark, root)
        t._write_checkpoint(t.snapshot())
        return t

    def _extra(self, spark):
        return spark.range(5000, 5050).selectExpr(
            "id AS k", "id % 7 AS v"
        ).coalesce(1)

    def test_bounded_append_matches_classic(self, spark, tmp_path, monkeypatch):
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        assert a.append(self._extra(spark)) == 50  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert b.append(self._extra(spark)) == 50  # bounded
        v = b._head_version()
        action = json.loads(
            (b.root / "_log" / f"{v:020d}.json").read_text()
        )
        # pure add-diff: no removes, no truncate marker, schema inherited
        assert action["op"] == "append"
        assert action["remove"] == [] and not action.get("remove_all")
        assert action["schema_json"] is None
        assert len(action["add"]) >= 1
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        assert b.count() == a.count() == 1050

    def test_bounded_append_txn_idempotent(self, spark, tmp_path, monkeypatch):
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert t.append(self._extra(spark), txn=("app", 1)) == 50
        # retried epoch: skipped BEFORE any commit (header+tail txn fold)
        assert t.append(self._extra(spark), txn=("app", 1)) == 0
        assert t.count() == 1050
        assert t.append(self._extra(spark), txn=("app", 2)) == 50
        assert t.count() == 1100

    def test_bounded_overwrite_remove_all(self, spark, tmp_path, monkeypatch):
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        repl = spark.range(0, 7).selectExpr("id AS k", "id % 7 AS v")
        pre_v = b._head_version()
        assert a.overwrite(repl) == 7  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        assert b.overwrite(repl) == 7  # bounded
        v = b._head_version()
        action = json.loads(
            (b.root / "_log" / f"{v:020d}.json").read_text()
        )
        # O(1) truncate marker, not an O(live files) remove list
        assert action.get("remove_all") is True
        assert action["remove"] == []
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        assert b.count() == 7
        # replay paths agree: fresh-handle snapshot, history, manifest_df
        with mt._SNAP_CACHE_GUARD:
            mt._SNAP_CACHE.pop(str(b.root.resolve()), None)
        fresh = ManagedTable(spark, b.root)
        assert fresh.snapshot().total_rows == 7
        h = fresh.history()[-1]
        assert h.op == "overwrite" and h.total_rows == 7
        assert h.rows_removed == 1000
        assert fresh.manifest_df().count() == len(fresh.snapshot().files)
        # commit_deltas expands the truncate to the real removed set
        deltas = fresh.commit_deltas(pre_v, v)
        assert deltas[-1][0] == v
        assert len(deltas[-1][3]) == 4  # the 4 pre-overwrite files
        # time travel below the truncate still sees the old table
        assert fresh.snapshot(pre_v).total_rows == 1000

    def test_bounded_overwrite_conflict_rejected(
        self, spark, tmp_path, monkeypatch
    ):
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        base = t._head_version()
        # racer lands base+1
        t._commit_bounded(base, (), set(), "delete_noop")
        with pytest.raises(mt.ConcurrentWriteError, match="re-read"):
            t._commit_bounded(base, (), set(), "overwrite", remove_all=True)

    def test_bounded_replace_where_matches_classic(
        self, spark, tmp_path, monkeypatch
    ):
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        repl = spark.range(0, 20).selectExpr("id AS k", "CAST(99 AS LONG) v")
        ra = a.replace_where(repl, [("k", "<", 20)])  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        rb = b.replace_where(repl, [("k", "<", 20)])  # bounded
        assert ra == rb == (20, 20)
        assert b.snapshot().op == "replace_where"
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        # constraint still enforced on the bounded path
        bad = spark.range(0, 30).selectExpr("id AS k", "CAST(1 AS LONG) v")
        with pytest.raises(ValueError, match="do not satisfy"):
            b.replace_where(bad, [("k", "<", 20)])

    def test_bounded_merge_matches_classic(self, spark, tmp_path, monkeypatch):
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        src = spark.range(990, 1010).selectExpr(
            "id AS k", "CAST(42 AS LONG) v"
        )
        na = a.merge_by_key(src, "k")  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        nb = b.merge_by_key(src, "k")  # bounded
        assert na == nb == 20
        assert b.snapshot().op == "merge"
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        # updated keys present exactly once with the new value
        assert b.read(where=[("k", ">=", 990)]).filter("v = 42").count() == 20
        assert b.count() == 1010

    def test_bounded_merge_double_key_falls_back(
        self, spark, tmp_path, monkeypatch
    ):
        """A DOUBLE key has no sound span probe (NaN), so the bounded
        probe declines and the key-candidate seam plans from the snapshot
        on the SAME persisted distinct-key frame — the source is
        de-duplicated once — and the merge commits the SAME pending write
        of the source rows — the source is written once — with the same
        rows and return value as the classic merge."""

        def mk(root):
            t = ManagedTable.create(spark, root)
            base = spark.range(0, 400).selectExpr(
                "CAST(id AS DOUBLE) AS k", "id % 7 AS v"
            )
            for i in range(4):
                t.append(base.filter(F.col("k") % 4 == i).coalesce(1))
            t._write_checkpoint(t.snapshot())
            return t

        a = mk(tmp_path / "a")
        b = mk(tmp_path / "b")
        src = spark.range(390, 410).selectExpr(
            "CAST(id AS DOUBLE) AS k", "CAST(42 AS LONG) AS v"
        )
        na = a.merge_by_key(src, "k")  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        seen = []
        writes = []
        written = []
        committed = []
        seam = ManagedTable._key_candidates
        probe = ManagedTable._bounded_span_candidates
        by_stats = ManagedTable._affected_files_by_stats
        write_files = ManagedTable._write_files
        commit = ManagedTable._commit_dml

        def spy_seam(self, head, keys, key):
            seen.append(("seam", keys))
            return seam(self, head, keys, key)

        def spy_probe(self, head, keys, key):
            seen.append(("bounded", keys))
            sel = probe(self, head, keys, key)
            seen.append(("bounded_done", sel))
            return sel

        def spy_stats(self, m, keys, key):
            seen.append(("classic", keys))
            return by_stats(self, m, keys, key)

        def spy_write(self, *args, **kwargs):
            entries = write_files(self, *args, **kwargs)
            writes.append(sum(e.rows for e in entries))
            written.append(entries)
            return entries

        def spy_commit(self, head, candidates, dv, added, op, **kwargs):
            committed.append(added)
            return commit(self, head, candidates, dv, added, op, **kwargs)

        monkeypatch.setattr(ManagedTable, "_key_candidates", spy_seam)
        monkeypatch.setattr(ManagedTable, "_bounded_span_candidates", spy_probe)
        monkeypatch.setattr(ManagedTable, "_affected_files_by_stats", spy_stats)
        monkeypatch.setattr(ManagedTable, "_write_files", spy_write)
        monkeypatch.setattr(ManagedTable, "_commit_dml", spy_commit)
        nb = b.merge_by_key(src, "k")
        assert na == nb == 20
        # one trip through the seam: the bounded probe declines and the
        # snapshot plan runs right there
        assert [tag for tag, _ in seen] == [
            "seam", "bounded", "bounded_done", "classic"
        ]
        assert seen[2][1] is None
        assert seen[1][1] is seen[3][1]  # one key frame for both plans
        assert writes == [20]  # the source rows, written by one call
        assert len(committed) == 1
        assert committed[0] is written[0]  # one pending write, committed
        assert b.snapshot().op == "merge"
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )
        assert b.read().filter("v = 42").count() == 20
        assert b.count() == 410

    def test_bounded_replace_where_after_rename_matches_classic(
        self, spark, tmp_path, monkeypatch
    ):
        """After a rename, files still carry the old physical name. The
        bounded replacement must scan its candidates under the head's
        column mapping, or the predicate sees only NULLs, deletes
        nothing and the slice ends up duplicated."""
        a = self._mk(spark, tmp_path / "a")
        b = self._mk(spark, tmp_path / "b")
        a.rename_column("k", "kk")
        b.rename_column("k", "kk")
        repl = spark.range(0, 20).selectExpr("id AS kk", "CAST(99 AS LONG) v")
        ra = a.replace_where(repl, [("kk", "<", 20)])  # classic
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        rb = b.replace_where(repl, [("kk", "<", 20)])  # bounded
        assert ra == rb == (20, 20)
        assert b.count() == 1000
        assert sorted(map(tuple, b.read().collect())) == sorted(
            map(tuple, a.read().collect())
        )

    @pytest.mark.parametrize("gate", [1, None], ids=["bounded", "classic"])
    def test_merge_by_key_empty_source_commits_noop(
        self, spark, tmp_path, monkeypatch, gate
    ):
        """An empty source commits ``merge_noop`` on either head, returns
        0 and joins the pending write of its (zero) rows, which leaves no
        new directory under ``data/``."""
        t = self._mk(spark, tmp_path / "t")
        if gate is not None:
            monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", gate)
        assert (t._head().manifest is None) == (gate is not None)
        write_files = ManagedTable._write_files
        written = []

        def spy_write(self, *args, **kwargs):
            entries = write_files(self, *args, **kwargs)
            written.append(entries)
            return entries

        monkeypatch.setattr(ManagedTable, "_write_files", spy_write)
        data_dirs = set((t.root / "data").iterdir())
        v0 = t._head_version()
        src = spark.createDataFrame([], "k long, v long")
        assert t.merge_by_key(src, "k") == 0
        assert written == [()]  # the pending write ran to completion
        assert t._head_version() == v0 + 1
        action = json.loads(
            (t.root / "_log" / f"{v0 + 1:020d}.json").read_text()
        )
        assert action["op"] == "merge_noop"
        assert action["add"] == [] and action["remove"] == []
        assert set((t.root / "data").iterdir()) == data_dirs
        assert t.count() == 1000

    def test_streamed_checkpoint_on_bounded_cadence(
        self, spark, tmp_path, monkeypatch
    ):
        """A bounded-only commit sequence crossing the cadence boundary
        re-arms the gate with a STREAMED checkpoint (no O(live files)
        snapshot) whose content replays identically."""
        t = self._mk(spark, tmp_path / "t")
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        df = spark.range(0, 3).selectExpr("id AS k", "id % 7 AS v").coalesce(1)
        target = ((t._head_version() // mt._CKPT_EVERY) + 1) * mt._CKPT_EVERY
        while t._head_version() < target:
            t.append(df)
        n_appended = 3 * (target - 4)  # bounded appends since the _mk base (head=4)
        # both checkpoint formats landed at the cadence version
        assert t._ckpt_parquet_path(target).exists()
        assert t._ckpt_path(target).exists()
        import pyarrow.parquet as pq

        header = json.loads(
            pq.ParquetFile(t._ckpt_parquet_path(target)).schema_arrow.metadata[
                b"dwcs_header"
            ]
        )
        assert header["version"] == target
        assert header["total_rows"] == 1000 + n_appended
        # the streamed JSON checkpoint replays byte-equivalently: evict the
        # cache and force a fresh reconstruction THROUGH the checkpoint
        with mt._SNAP_CACHE_GUARD:
            mt._SNAP_CACHE.pop(str(t.root.resolve()), None)
        fresh = ManagedTable(spark, t.root)
        m = fresh.snapshot(target)
        assert m.total_rows == 1000 + n_appended
        assert fresh._last_log_reads == 1  # one checkpoint read, no replay
        assert fresh.count() == 1000 + n_appended
        assert fresh.read().count() == 1000 + n_appended

    def test_wide_manifest_bounded_ingest(self, spark, tmp_path):
        """VERDICT r7 'done' bar: at >=1e5 manifest entries (REAL gate, no
        monkeypatch) append/overwrite/merge commit without materializing
        the file list — the action payload stays KB-sized."""
        schema_json = (
            spark.range(1).selectExpr("id AS k", "id AS v").schema.json()
        )
        t = _synthetic_wide_manifest(
            spark, tmp_path / "wide", 100_001, schema_json=schema_json,
            partitioned=False,
        )
        base_rows = 100_001 * 10
        assert t.count() == base_rows
        df = spark.range(0, 5).selectExpr("id AS k", "id AS v").coalesce(1)
        assert t.append(df) == 5
        v = t._head_version()
        action_text = (t.root / "_log" / f"{v:020d}.json").read_text()
        assert len(action_text) < 10_000  # O(touched), not O(100k entries)
        assert json.loads(action_text)["op"] == "append"
        assert t.count() == base_rows + 5
        # merge whose keys fall outside every synthetic span: candidates
        # prune to zero via the distributed span probe; only adds commit
        src = spark.range(10**7, 10**7 + 3).selectExpr("id AS k", "id AS v")
        assert t.merge_by_key(src, "k") == 3
        v = t._head_version()
        action = json.loads((t.root / "_log" / f"{v:020d}.json").read_text())
        assert action["op"] == "merge" and action["remove"] == []
        assert t.count() == base_rows + 8
        # overwrite truncates 100k entries with an O(1) marker
        assert t.overwrite(df) == 5
        v = t._head_version()
        action_text = (t.root / "_log" / f"{v:020d}.json").read_text()
        assert len(action_text) < 10_000
        assert json.loads(action_text)["remove_all"] is True
        assert t.count() == 5
        assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3, 4]

    def test_bounded_declarative_writer_roundtrip(
        self, spark, tmp_path, monkeypatch
    ):
        """The session-less datasource commit hooks ride the same bounded
        path: append + overwrite + replaceWhere through
        df.write.format('managed_table') match the native results."""
        from data_warehouse_copy_spark.sources.datasource import register

        register(spark)
        root = tmp_path / "t"
        t = ManagedTable.create(spark, root)
        df = spark.range(0, 100).selectExpr("id AS k", "id % 7 AS v")
        df.write.format("managed_table").mode("append").save(str(root))
        t._write_checkpoint(t.snapshot())
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        # NOTE: the datasource commit hook runs in a session-less python
        # worker subprocess — the monkeypatched gate does NOT reach it, so
        # force the bounded path by checking the NATIVE handle sees the
        # same table the declarative writer produced (the subprocess runs
        # with the real 50k gate and takes the classic path here; the
        # bounded branch itself is covered by calling the commit fn
        # in-process below).
        from data_warehouse_copy_spark.sources.datasource import (
            FileCommit,
            _commit_staged,
            _stage_batches,
        )
        import pyarrow as pa

        schema = df.schema
        # stage one file in-process, then commit through the bounded branch
        batch = pa.record_batch(
            [pa.array([500, 501], pa.int64()), pa.array([1, 2], pa.int64())],
            names=["k", "v"],
        )
        msg = _stage_batches(str(root), iter([batch]))
        _commit_staged(str(root), schema, [msg], "append")
        v = t._head_version()
        action = json.loads((root / "_log" / f"{v:020d}.json").read_text())
        assert action["op"] == "append" and action["remove"] == []
        assert t.count() == 102
        assert t.read(where=[("k", "=", 500)]).count() == 1
        # bounded overwrite through the hook: remove_all marker
        msg2 = _stage_batches(str(root), iter([batch]))
        _commit_staged(str(root), schema, [msg2], "overwrite")
        v = t._head_version()
        action = json.loads((root / "_log" / f"{v:020d}.json").read_text())
        assert action.get("remove_all") is True
        assert t.count() == 2
