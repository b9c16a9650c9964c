"""Merge-on-read deletion vectors (every ManagedTable delete, update,
replace_where and merge_by_key): deleting k rows must write O(k) positions +
metadata — never rewrite a data file — while every read surface (native,
declarative, time travel, compaction, vacuum, restore) stays exact.

Reference anchor: the reference's DML is server-side SQL DELETE/UPDATE
(TableUpdateService.cs:117-134); the lakehouse twin needs an explicit
story for rewrite amplification, which DVs provide (the Delta
deletion-vector / Iceberg position-delete shape).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_warehouse_copy_spark.sources.managed_table import (  # noqa: E402
    ConcurrentWriteError,
    ManagedTable,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _mk(spark, root, n=1000):
    t = ManagedTable.create(spark, root)
    t.append(
        spark.range(0, n).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
    )
    return t


def _file_states(root: Path) -> dict[str, tuple[int, float]]:
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime)
        for p in (root / "data").rglob("*.parquet")
    }


def test_dv_delete_writes_o_k_not_a_rewrite(spark, tmp_path):
    """The headline contract: a k-row delete leaves every data file
    byte-identical (same paths, sizes, mtimes — no rewrite happened) and
    records exactly k positions of DV metadata."""
    t = _mk(spark, tmp_path / "t")
    before = _file_states(tmp_path / "t")
    n = t.delete([("k", ">=", 100), ("k", "<", 110)])
    assert n == 10
    assert _file_states(tmp_path / "t") == before  # zero data-file churn
    m = t.snapshot()
    assert {f.path for f in m.files} == {
        p.replace(str(tmp_path / "t") + "/", "") for p in before
    }
    assert sum(f.dv_rows for f in m.files) == 10
    # the DV parquet itself is O(k): 10 positions, one tiny file
    dv_files = {p for f in m.files for p in f.dv_paths}
    assert dv_files and all((tmp_path / "t" / p).exists() for p in dv_files)
    import pyarrow.parquet as pq

    assert (
        sum(pq.ParquetFile(tmp_path / "t" / p).metadata.num_rows for p in dv_files)
        == 10
    )
    # reads subtract the DV exactly
    assert t.read().count() == 990
    assert t.read().filter((F.col("k") >= 100) & (F.col("k") < 110)).count() == 0
    assert t.count() == 990  # metadata-only count stays effective


def test_dv_accumulates_and_respects_prior_dvs(spark, tmp_path):
    """Back-to-back DV deletes grow the vector; rows already DV'd are
    invisible to later DML (a re-delete of a dead row is a noop)."""
    t = _mk(spark, tmp_path / "t")
    assert t.delete([("k", "<", 10)]) == 10
    assert t.delete([("k", "<", 20)]) == 10  # only the alive half
    assert t.read().count() == 980
    assert t.delete([("k", "<", 20)]) == 0
    assert t.snapshot().op == "delete_noop"
    assert t.read().count() == 980


def test_dv_update_rewrites_only_matched_rows(spark, tmp_path):
    """UPDATE under DV: old positions tombstoned, exactly the k rewritten
    rows land as new files — cardinality constant, originals untouched."""
    t = _mk(spark, tmp_path / "t")
    before = _file_states(tmp_path / "t")
    n = t.update([("k", "<", 5)], {"v": "v + 1000"})
    assert n == 5
    # original data files untouched; exactly one new-file set with 5 rows
    assert all(
        _file_states(tmp_path / "t")[p] == s
        for p, s in before.items()
    )
    m = t.snapshot()
    new = [f for f in m.files if str(tmp_path / "t" / f.path) not in before]
    assert sum(f.rows for f in new) == 5
    assert sum(f.dv_rows for f in m.files) == 5
    out = t.read()
    assert out.count() == 1000
    assert out.filter(F.col("v") >= 1000).count() == 5
    assert out.filter((F.col("k") < 5) & (F.col("v") < 1000)).count() == 0


def test_dv_fully_dead_file_leaves_manifest(spark, tmp_path):
    """Deleting every row of a file drops its entry entirely — a dead file
    must not linger as a scan task forever."""
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(0, 100).select(F.col("id").alias("k")))
    t.append(spark.range(1000, 1100).select(F.col("id").alias("k")))
    n_before = len(t.snapshot().files)
    assert t.delete([("k", ">=", 1000)]) == 100
    m = t.snapshot()
    assert len(m.files) < n_before
    assert all(f.dv_rows < f.rows for f in m.files)
    assert t.read().count() == 100


def test_dv_time_travel_and_restore(spark, tmp_path):
    """A DV commit is a version like any other: the prior version reads
    full, restore() brings the pre-delete state back, and restore of a
    DV'd version requires its DV files (vacuum contract)."""
    t = _mk(spark, tmp_path / "t")
    v1 = t.snapshot().version
    t.delete([("k", "<", 50)])
    v2 = t.snapshot().version
    assert t.read(version=v1).count() == 1000
    assert t.read(version=v2).count() == 950
    t.restore(v1)
    assert t.read().count() == 1000
    t.restore(v2)
    assert t.read().count() == 950


def test_dv_compact_folds_and_vacuum_reaps(spark, tmp_path):
    """compact() rewrites DV'd partitions into clean files (no DV refs),
    and vacuum(0) then reaps both the replaced data files AND the orphaned
    DV parquets."""
    t = _mk(spark, tmp_path / "t")
    t.delete([("k", ">=", 100), ("k", "<", 150)])
    t.update([("k", "<", 5)], {"v": "v + 1000"})
    assert sum(f.dv_rows for f in t.snapshot().files) > 0
    t.compact()
    m = t.snapshot()
    assert all(not f.dv_paths and not f.dv_rows for f in m.files)
    assert t.read().count() == 950
    removed = t.vacuum(retention_seconds=0.0)
    assert removed > 0
    dv_left = list((tmp_path / "t" / "_dv").rglob("*.parquet"))
    assert dv_left == []
    assert t.read().count() == 950  # live data untouched


def test_dv_declarative_reader_matches_native(spark, tmp_path):
    """The Python Data Source's pyarrow scan applies DVs per file (rel-path
    keyed positions) — bit-identical to the JVM anti-join path, including
    after schema evolution put a DV'd file behind the declared schema."""
    from data_warehouse_copy_spark.sources.datasource import register

    register(spark)
    t = _mk(spark, tmp_path / "t")
    t.delete([("k", ">=", 100), ("k", "<", 110)])
    t.update([("k", "<", 5)], {"v": "v + 1000"})
    native = {tuple(r) for r in t.read().collect()}
    decl = {
        tuple(r)
        for r in spark.read.format("managed_table")
        .load(str(tmp_path / "t"))
        .collect()
    }
    assert decl == native
    # pruned declarative read over a DV'd file stays exact
    pruned = (
        spark.read.format("managed_table")
        .option("where", '[["k", "<", 200]]')
        .load(str(tmp_path / "t"))
        .filter(F.col("k") < 200)
    )
    assert pruned.count() == 200 - 10
    assert pruned.filter((F.col("k") >= 100) & (F.col("k") < 110)).count() == 0


def test_dv_with_drifted_column_names_raises(spark, tmp_path):
    """A DV parquet whose columns were renamed reads as NULL join keys
    under the declared DV schema; the anti-join would then return the
    deleted rows. Both native read surfaces must raise instead."""
    import pyarrow.parquet as pq
    from pyspark.errors import SparkRuntimeException

    from data_warehouse_copy_spark.sources.names import NamedCatalog

    t = _mk(spark, tmp_path / "t")
    t.delete([("k", ">=", 100), ("k", "<", 110)])
    c = NamedCatalog(tmp_path / "catalog.json")
    c.register("db.t", tmp_path / "t")
    assert c.table(spark, "db.t").count() == 990  # intact DVs read as before
    (dv,) = {d for f in t.snapshot().files for d in f.dv_paths}
    path = tmp_path / "t" / dv
    tbl = pq.read_table(path)
    assert tbl.num_rows == 10
    pq.write_table(
        tbl.rename_columns([f"drifted_{n}" for n in tbl.column_names]), path
    )
    # Spark's writer left a checksum sidecar the new bytes would fail
    path.with_name(f".{path.name}.crc").unlink(missing_ok=True)
    for df in (t.read(), c.table(spark, "db.t")):
        with pytest.raises(SparkRuntimeException, match="NULL (pos|file_path)"):
            df.collect()


def test_dv_cdc_skips_metadata_readds(spark, tmp_path):
    """A DV commit re-adds its files' paths with grown vectors — bytes
    unchanged. The CDC cursor must NOT replay them (double delivery); an
    update's k rewritten rows ARE its only change."""
    t = _mk(spark, tmp_path / "t", n=100)
    t.delete([("k", ">=", 90)])  # v2: DV only — no new rows
    t.update([("k", "<", 5)], {"k": "k + 1000"})  # v3: 5 rewritten rows
    ch = t.read_changes(1)
    assert ch.count() == 5
    assert ch.filter(F.col("k") >= 1000).count() == 5
    hist = {h.version: h for h in t.history()}
    assert hist[2].rows_added == 0 and hist[2].rows_removed == 10
    assert hist[3].rows_added == 5 and hist[3].rows_removed == 5


def test_dv_concurrent_growth_is_serialized(spark, tmp_path):
    """Two writers growing the SAME file's DV: the path-presence rebase
    would silently drop the first writer's vector — the entry-equality
    guard must reject the stale commit instead. Simulated by replaying a
    commit against a manifest the other writer already advanced."""
    from dataclasses import replace

    t = _mk(spark, tmp_path / "t")
    m0 = t.snapshot()
    t.delete([("k", "=", 1)])  # writer A lands first
    # writer B built its commit against m0 (stale) and grows the DV of the
    # SAME file A just touched
    a_touched = next(f for f in t.snapshot().files if f.dv_rows)
    grown = tuple(
        replace(f, dv_paths=("_dv/deadbeef/part-0.parquet",), dv_rows=1)
        if f.path == a_touched.path
        else f
        for f in m0.files
    )
    with pytest.raises(ConcurrentWriteError, match="re-versioned"):
        t._commit_files(m0, grown, m0.schema_json, "delete")
    # the surviving table still reflects exactly writer A's delete
    assert t.read().count() == 999


def test_dv_on_partitioned_table(spark, tmp_path, lineitem):
    """Partitioned layout: DV DML keeps every partition's files untouched,
    updated rows land in their (possibly new) day partitions, and
    partition-pruned reads subtract DVs."""
    t = ManagedTable.create(spark, tmp_path / "t", partition_date_col="l_shipdate")
    base = lineitem.filter(F.col("l_shipdate").between("1995-01-01", "1995-01-31"))
    t.append(base)
    n0 = base.count()
    before = _file_states(tmp_path / "t")
    n_del = t.delete([("l_quantity", "<=", 5.0), ("l_shipdate", ">=", "1995-01-10")])
    assert n_del > 0
    assert _file_states(tmp_path / "t") == before  # no partition rewritten
    assert t.read().count() == n0 - n_del
    n_upd = t.update(
        [("l_quantity", ">=", 49.0)], {"l_extendedprice": "l_extendedprice * 2"}
    )
    assert n_upd > 0
    assert t.read().count() == n0 - n_del
    # updates keep their day: partition-pruned reads stay exact (old
    # positions DV'd, rewritten rows land back in the same partition)
    one_day = t.read(partition_min="1995-01-05", partition_max="1995-01-05")
    expect = base.filter(
        F.to_date("l_shipdate") == F.lit("1995-01-05").cast("date")
    )
    assert one_day.count() == expect.count()


def test_vacuum_vs_pinned_reader_race(spark, tmp_path):
    """The retention contract (README §Vacuum retention contract): a
    pinned snapshot whose files a zero-retention vacuum removed mid-read
    must fail LOUDLY — a FileNotFound-style scan error — never return
    silent partial data. Covers both read paths: the declarative source
    (version pinned at planning) and a native time-travel read."""
    from data_warehouse_copy_spark.sources.datasource import register

    register(spark)
    t = ManagedTable.create(spark, tmp_path / "t")
    for lo in (0, 1000, 2000):
        t.append(spark.range(lo, lo + 500).select(F.col("id").alias("k")))
    v_old = t.snapshot().version

    # plan a declarative frame NOW: its version (and file list) pin here
    pinned = spark.read.format("managed_table").load(str(tmp_path / "t"))
    # head moves on; the pinned snapshot's files become unreferenced
    t.compact()
    assert t.vacuum(retention_seconds=0.0) > 0

    # the pinned declarative read: full result or a loud error — never less
    try:
        n = pinned.count()
    except Exception as e:  # noqa: BLE001 — asserting on the failure shape
        msg = str(e)
        assert "not exist" in msg or "FileNotFound" in msg or "No such file" in msg
    else:
        assert n == 1500

    # native time travel to the vacuumed version: same contract
    try:
        n = t.read(version=v_old).count()
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        assert "not exist" in msg or "FileNotFound" in msg or "No such file" in msg
    else:
        assert n == 1500

    # the live head is untouched by the race
    assert t.read().count() == 1500
    # and restore() to the vacuumed version refuses cleanly (existence
    # check) instead of committing a head that points at deleted files
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.restore(v_old)
    assert t.read().count() == 1500


def test_dv_merge_by_key_rewrites_nothing(spark, tmp_path):
    """merge_by_key (DV): matched target rows tombstone, source
    rows append — no pre-existing data file rewritten, convergence exact,
    prior DVs honored."""
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    t.append(spark.range(0, 1000).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS v"))
    t.delete([("k", ">=", 100), ("k", "<", 105)])  # prior DV
    before = _file_states(tmp_path / "t")
    src = spark.range(100, 120).selectExpr(
        "id AS k", "CAST(id * 2.0 AS DOUBLE) AS v"
    ).union(
        spark.range(5000, 5010).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v")
    )
    n = t.merge_by_key(src, "k")
    assert n == 30  # distinct keys, the reference's metric
    after = _file_states(tmp_path / "t")
    # every PRE-EXISTING data file is byte-identical (source rows append
    # as new files; nothing rewrites)
    assert all(after[p] == st for p, st in before.items())
    out = t.read()
    assert out.count() == 995 - 15 + 30  # 995 alive - matched 15 + source 30
    assert out.groupBy("k").count().filter("count > 1").count() == 0
    assert out.filter("k >= 100 AND k < 120 AND v = 0.0").count() == 0
    assert out.filter("k >= 5000").count() == 10
    m = t.snapshot()
    assert m.op == "merge"
    # convergence: a second identical merge changes nothing but versions
    t.merge_by_key(src, "k")
    out2 = t.read()
    assert out2.count() == out.count()
    assert out2.groupBy("k").count().filter("count > 1").count() == 0


def test_dv_merge_on_partitioned_table(spark, tmp_path, lineitem):
    """DV merge on a day-partitioned target: source rows land in their
    partitions, matched old rows tombstone wherever they live, and
    partition-pruned reads stay exact."""
    t = ManagedTable.create(spark, tmp_path / "t", partition_date_col="l_shipdate")
    base = lineitem.filter(F.col("l_shipdate").between("1995-01-01", "1995-01-31"))
    t.append(base)
    n0 = base.count()
    before = _file_states(tmp_path / "t")
    # re-send some orders' lines with doubled prices (same keys)
    src = base.filter("l_orderkey % 17 = 0").withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 2
    )
    n_keys = src.select("l_orderkey").distinct().count()
    assert t.merge_by_key(src, "l_orderkey") == n_keys
    after = _file_states(tmp_path / "t")
    assert all(after[p] == st for p, st in before.items())
    out = t.read()
    # merge replaced those orders' rows 1:1 (src is the same line set)
    assert out.count() == n0
    assert out.filter("l_orderkey % 17 = 0").count() == src.count()
    # every surviving row for merged keys carries the doubled price
    doubled = base.filter("l_orderkey % 17 = 0").agg(
        F.sum(F.col("l_extendedprice") * 2).alias("s")
    ).first().s
    got = out.filter("l_orderkey % 17 = 0").agg(
        F.sum("l_extendedprice").alias("s")
    ).first().s
    assert abs(got - doubled) < 1e-6


# ---------------------------------------------------------- replace_where


def test_replace_where_dv_is_atomic_o_k_and_exact(spark, tmp_path):
    """Predicate-scoped overwrite: one commit, matched rows tombstoned
    merge-on-read (zero data-file churn), replacement rows in."""
    t = _mk(spark, tmp_path / "t")  # k 0..999, v = k % 7
    v0 = t.snapshot().version
    before = _file_states(tmp_path / "t")
    repl = spark.range(100, 150).selectExpr("id AS k", "CAST(99 AS long) AS v")
    n_del, n_ins = t.replace_where(
        repl, [("k", ">=", 100), ("k", "<", 200)]
    )
    assert (n_del, n_ins) == (100, 50)
    assert t.snapshot().version == v0 + 1  # ONE commit
    # merge-on-read: every pre-existing data file byte-identical
    assert all(
        _file_states(tmp_path / "t")[p] == st for p, st in before.items()
    )
    out = t.read()
    assert out.count() == 1000 - 100 + 50
    assert out.filter("k >= 100 AND k < 200").count() == 50
    assert out.filter("k >= 100 AND k < 200 AND v != 99").count() == 0
    # untouched slice intact
    assert out.filter("k < 100").count() == 100


def test_replace_where_rejects_rows_outside_predicate(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    bad = spark.range(150, 250).selectExpr("id AS k", "CAST(0 AS long) AS v")
    with pytest.raises(ValueError, match="do not satisfy"):
        t.replace_where(bad, [("k", ">=", 100), ("k", "<", 200)])
    assert t.read().count() == 1000  # nothing committed


def test_replace_where_schema_mismatch_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.replace_where(
            spark.range(5).selectExpr("id AS k"), [("k", "<", 5)]
        )


def test_replace_where_retry_is_idempotent(spark, tmp_path):
    """Running the same backfill twice converges to the same state —
    the constraint exists exactly so retries can't diverge."""
    t = _mk(spark, tmp_path / "t")
    repl = spark.range(0, 10).selectExpr("id AS k", "CAST(42 AS long) AS v")
    t.replace_where(repl, [("k", "<", 100)])
    first = sorted(map(tuple, t.read().collect()))
    n_del, n_ins = t.replace_where(repl, [("k", "<", 100)])
    assert (n_del, n_ins) == (10, 10)  # deletes its own prior insert
    assert sorted(map(tuple, t.read().collect())) == first


def test_replace_where_empty_slice_just_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    repl = spark.range(5000, 5010).selectExpr(
        "id AS k", "CAST(1 AS long) AS v"
    )
    n_del, n_ins = t.replace_where(repl, [("k", ">=", 5000)])
    assert (n_del, n_ins) == (0, 10)
    assert t.read().count() == 1010


def test_replace_where_matches_expected_rows(spark, tmp_path):
    """The slice [200, 300) is replaced by 20 rows: every other row
    survives untouched and nothing else appears."""
    t = _mk(spark, tmp_path / "t")
    repl = spark.range(200, 220).selectExpr("id AS k", "CAST(7 AS long) AS v")
    where = [("k", ">=", 200), ("k", "<", 300)]
    assert t.replace_where(repl, where) == (100, 20)
    expected = [(k, k % 7) for k in range(1000) if not 200 <= k < 300]
    expected += [(k, 7) for k in range(200, 220)]
    assert sorted(map(tuple, t.read().collect())) == sorted(expected)


def test_dv_delete_under_symlinked_root(spark, tmp_path):
    """Regression: with a symlinked table root, Hadoop renders
    _metadata.file_path from os.path.abspath (symlinks KEPT) while
    root.resolve() follows them — _uri_to_rel must relativize against
    both, or per-file DV accounting comes back absolute, matches no
    manifest entry, and delete() reports n rows while the rows survive
    (now also guarded loudly in _grow_dv)."""
    real = tmp_path / "real_tables"
    real.mkdir()
    _mk(spark, real / "t")
    link = tmp_path / "link_tables"
    link.symlink_to(real, target_is_directory=True)
    t = ManagedTable(spark, link / "t")  # opened THROUGH the symlink
    assert t.delete(where=[("k", "<", 10)]) == 10
    assert t.read().count() == 990  # rows actually gone
    m = t.snapshot()
    assert sum(f.dv_rows for f in m.files) == 10  # DV attached to manifest
    # and the real-path handle agrees
    assert ManagedTable(spark, real / "t").read().count() == 990
