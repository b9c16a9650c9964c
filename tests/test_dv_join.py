"""The deletion-vector join (``ManagedTable._dv_join``): reads, DML scans
and the change feed subtract or select deleted positions through one
helper, whose DV side is either an Arrow local relation built on the
driver (DV sets under Spark's broadcast threshold) or a Spark scan of
the DV parquets (the threshold at -1, or a DV set over it). Both sides
must give identical rows, and the driver-side canonical path key must
equal the one Spark's expression computes."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_warehouse_copy_spark.sources import managed_table as mt  # noqa: E402
from data_warehouse_copy_spark.sources.managed_table import (  # noqa: E402
    ManagedTable,
)


def _mk(spark, root, n=200):
    t = ManagedTable.create(spark, root)
    base = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    for i in range(2):
        t.append(base.filter(F.col("k") % 2 == i).coalesce(1))
    return t


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _dml(t):
    """A delete and an UPDATE that each scan files already carrying DVs
    (``_scan_with_pos``), with the counts they report."""
    return [
        t.delete([("k", ">=", 5), ("k", "<", 20)]),  # 5..9 already gone
        t.update([("k", "<", 40)], {"v": "v + 100"}),
        _rows(t.read()),
    ]


def _want(merged=()):
    """The rows :func:`_dml` leaves after the setup delete of k < 10,
    then a merge of the keys ``merged`` with ``v = 1000 + k``."""
    want = {k: k % 7 for k in range(20, 200)}
    want.update({k: k % 7 + 100 for k in range(20, 40)})
    want.update({k: 1000 + k for k in merged})
    return sorted(want.items())


def test_dv_sides_agree_on_dml(spark, tmp_path, dv_scan_side):
    tables = [_mk(spark, tmp_path / side) for side in ("local", "scan")]
    for t in tables:
        t.delete([("k", "<", 10)])
    local = _dml(tables[0])
    with dv_scan_side():
        scan = _dml(tables[1])
    assert local == scan == [10, 20, _want()]
    # the frame every DML, merges included, acts on: the alive rows with
    # their file coordinates
    t = tables[0]
    head = t._head()
    files = list(head.manifest.files)
    alive = _rows(t._scan_with_pos(head, files))
    with dv_scan_side():
        assert _rows(t._scan_with_pos(head, files)) == alive
    assert sorted(r[:2] for r in alive) == _want()


def test_dv_sides_agree_on_reads_and_change_feed(
    spark, tmp_path, dv_scan_side
):
    t = _mk(spark, tmp_path / "t")
    t.delete([("k", "<", 10)])
    _dml(t)
    src = spark.createDataFrame(
        [(k, 1000 + k) for k in (5, 55, 500)], "k long, v long"
    )
    assert t.merge_by_key(src, "k") == 3

    def reads():
        return _rows(t.read(where=[("k", "<", 60)])), _rows(t.read_cdf(2))

    local = reads()
    with dv_scan_side():
        assert reads() == local
    assert local[0] == [(k, v) for k, v in _want((5, 55, 500)) if k < 60]
    feed = local[1]
    # merge_by_key tombstones every key it re-inserts
    assert sorted(r[0] for r in feed if r[2] == "delete") == [*range(20), 55]
    assert sorted(r[0] for r in feed if r[2] == "update_preimage") == list(
        range(20, 40)
    )


def test_dv_sides_agree_under_symlinked_root(spark, tmp_path, dv_scan_side):
    """A DV written through a symlinked root renders different URIs than
    a scan through the real root; both DV sides key them alike."""
    real = tmp_path / "real"
    real.mkdir()
    _mk(spark, real / "t")
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    assert ManagedTable(spark, link / "t").delete([("k", "<", 10)]) == 10
    reads = []
    for side in (None, dv_scan_side):
        for root in (real / "t", link / "t"):
            t = ManagedTable(spark, root)
            if side is None:
                reads.append((_rows(t.read()), _rows(t.read_cdf(2))))
            else:
                with side():
                    reads.append((_rows(t.read()), _rows(t.read_cdf(2))))
    assert all(r == reads[0] for r in reads)
    assert [r[0] for r in reads[0][0]] == list(range(10, 200))
    assert [r[0] for r in reads[0][1]] == list(range(10))


def test_dv_sides_agree_on_a_clone_reading_source_dvs(
    spark, tmp_path, dv_scan_side
):
    """A shallow clone inherits the source's DVs, whose ``file_path``
    is source-relative: only the URI keying matches the clone's
    absolute manifest paths."""
    src = _mk(spark, tmp_path / "src")
    src.delete([("k", ">=", 100), ("k", "<", 130)])
    c = src.clone_to(tmp_path / "clone")
    c.delete([("k", "=", 3)])  # a clone-local DV on a referenced file
    local = _rows(c.read()), _rows(c.read(where=[("k", "<", 150)]))
    with dv_scan_side():
        scan = _rows(c.read()), _rows(c.read(where=[("k", "<", 150)]))
    assert local == scan
    keys = [r[0] for r in local[0]]
    assert keys == [k for k in range(200) if k != 3 and not 100 <= k < 130]


def test_small_dv_set_is_a_local_relation(spark, tmp_path, dv_scan_side):
    t = _mk(spark, tmp_path / "t")
    t.delete([("k", "<", 10)])
    dvs = {str(t.root / d) for f in t.snapshot().files for d in f.dv_paths}

    def executed(df):
        df.collect()
        return (
            df._jdf.queryExecution().executedPlan().toString(),
            {p.removeprefix("file://") for p in df.inputFiles()},
        )

    plan, inputs = executed(t.read(where=[("k", "<", 50)]))
    assert "LocalTableScan [__dwcs_dv_rel" in plan and "LeftAnti" in plan
    assert not inputs & dvs
    with dv_scan_side():
        plan, inputs = executed(t.read(where=[("k", "<", 50)]))
    assert "LocalTableScan" not in plan and "LeftAnti" in plan
    assert dvs <= inputs


def test_apply_dv_plans_in_few_jvm_calls(spark, tmp_path):
    """Building the DV join is a handful of py4j round trips (the
    Column-API form took hundreds), reference releases aside."""
    import py4j.clientserver
    import py4j.java_gateway

    t = _mk(spark, tmp_path / "t")
    for lo in (0, 50, 100):
        t.delete([("k", ">=", lo), ("k", "<", lo + 5)])
    sel = t.snapshot().files
    t._apply_dv(spark.read.parquet(*[str(t.root / f.path) for f in sel]), sel)
    calls = []
    classes = (
        py4j.clientserver.ClientServerConnection,
        py4j.java_gateway.GatewayConnection,
    )
    originals = [c.send_command for c in classes]

    def counted(orig):
        def send(self, command, *a, **kw):
            if not command.startswith("m\nd"):  # a JVM reference release
                calls.append(command)
            return orig(self, command, *a, **kw)

        return send

    scan = spark.read.parquet(*[str(t.root / f.path) for f in sel])
    try:
        for c, orig in zip(classes, originals):
            c.send_command = counted(orig)
        df = t._apply_dv(scan, sel)
    finally:
        for c, orig in zip(classes, originals):
            c.send_command = orig
    assert len(calls) <= 40
    assert df.count() == 200 - 15


@pytest.mark.parametrize(
    "uri",
    [
        "file:{root}/data/a%20b.parquet",
        "file:{root}/data/100%25.parquet",
        "file:{root}/data/a+b.parquet",
        "file:{root}/data/a+b%20c.parquet",
        "file:{root}/data/caf%C3%A9.parquet",
        "file:{root}/data/café.parquet",
        "file:/elsewhere/src/data/x.parquet",
        "file:/elsewhere/src%20tables/data/x%2B1.parquet",
        "/elsewhere/src/data/plain.parquet",
        "file:{root}x/not-under-root.parquet",
    ],
)
def test_driver_key_equals_spark_key(spark, tmp_path, uri):
    t = ManagedTable.create(spark, tmp_path / "t it's")
    root = str(t.root.absolute())
    uri = uri.format(root=root)
    spark_key = (
        spark.createDataFrame([(uri,)], "u string")
        .selectExpr(f"{t._canonicalize_uri('u')} AS key")
        .first()["key"]
    )
    assert mt._canonical_key(uri, root + "/") == spark_key


def test_driver_key_leaves_malformed_escapes_to_spark(tmp_path):
    for uri in ("file:/t/a%2.parquet", "file:/t/a%zz", "file:/t/%C3"):
        assert mt._canonical_key(uri, "/t/") is None
