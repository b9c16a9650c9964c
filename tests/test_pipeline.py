"""End-to-end orchestration tests: fixed execution order, per-table error
isolation vs sproc rethrow, audit bracketing, midnight override — the
reference's BulkCopyManager.Run surface (SURVEY.md §3.1, O11-O18)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

import data_warehouse_copy_spark as dwcs
from data_warehouse_copy_spark.plans import run
from data_warehouse_copy_spark.plans.audit import AuditLog
from data_warehouse_copy_spark.plans.sprocs import SprocRegistry
from data_warehouse_copy_spark.sources.managed_table import ManagedTable


def _cfg(tmp_path, sf_dir, tables, **extra):
    return dwcs.load_config(
        {
            "source": sf_dir,
            "target": str(tmp_path / "tgt"),
            "date_from": "1995-03-01",
            "date_to": "1995-03-07",
            "tables": tables,
            **extra,
        }
    )


def test_run_order_and_outcomes(spark, tmp_path, sf_dir):
    calls = []
    reg = SprocRegistry()
    reg.register(
        "prep_sproc", lambda s, a, b: calls.append(("sproc", a, b))
    )
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {"table_name": "customer", "table_type": "dim"},
            {"table_name": "prep_sproc", "table_type": "sproc"},
            {
                "table_name": "lineitem",
                "table_type": "fact",
                "date_column": "l_shipdate",
            },
        ],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), sprocs=reg)
    # sproc executed first, with the (non-midnight) window
    assert calls == [("sproc", "1995-03-01", "1995-03-07")]
    assert [o.process for o in res.outcomes] == ["Sproc", "Copy", "Copy"]
    assert all(o.status == "Completed" for o in res.outcomes)
    li = ManagedTable(spark, str(tmp_path / "tgt" / "lineitem")).read()
    assert li.count() == res.outcomes[1].records > 0


def test_midnight_override_forces_yesterday_for_sprocs(spark, tmp_path, sf_dir):
    calls = []
    reg = SprocRegistry()
    reg.register("s1", lambda s, a, b: calls.append((a, b)))
    cfg = _cfg(tmp_path, sf_dir, [{"table_name": "s1", "table_type": "sproc"}])
    run(spark, cfg, now=datetime(2026, 8, 13, 0, 5), sprocs=reg, audit=False)
    assert calls == [("2026-08-12", "2026-08-12")]


def test_per_table_error_isolation_continues_run(spark, tmp_path, sf_dir):
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {
                "table_name": "no_such_table",
                "table_type": "fact",
                "date_column": "x",
            },
            {"table_name": "customer", "table_type": "dim"},
        ],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0))
    by_table = {o.table: o for o in res.outcomes}
    assert by_table["no_such_table"].status == "Failed"
    assert by_table["customer"].status == "Completed"
    # audit recorded the failure with an error message
    audit = AuditLog(spark, cfg.audit_table_path).current_status()
    rows = {r["table_name"]: r for r in audit.collect()}
    assert rows["no_such_table"]["status"] == "Failed"
    assert rows["no_such_table"]["error_message"]
    assert rows["customer"]["status"] == "Completed"


def test_sproc_failure_aborts_run(spark, tmp_path, sf_dir):
    reg = SprocRegistry()

    def boom(s, a, b):
        raise RuntimeError("sproc exploded")

    reg.register("bad_sproc", boom)
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {"table_name": "bad_sproc", "table_type": "sproc"},
            {"table_name": "customer", "table_type": "dim"},
        ],
    )
    with pytest.raises(RuntimeError, match="sproc exploded"):
        run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), sprocs=reg, audit=False)
    # the dim never ran — sproc errors rethrow and abort (reference O18)
    assert not ManagedTable(spark, str(tmp_path / "tgt" / "customer")).exists()


def test_unregistered_sproc_raises(spark, tmp_path, sf_dir):
    cfg = _cfg(tmp_path, sf_dir, [{"table_name": "ghost", "table_type": "sproc"}])
    with pytest.raises(KeyError):
        run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)


def test_sql_template_sproc_runs_with_window(spark, tmp_path, sf_dir):
    reg = SprocRegistry()
    spark.sql("DROP TABLE IF EXISTS sproc_out")
    reg.register(
        "mk_view",
        "CREATE OR REPLACE TEMP VIEW sproc_out AS "
        "SELECT DATE '{start}' AS s, DATE '{end}' AS e",
    )
    cfg = _cfg(tmp_path, sf_dir, [{"table_name": "mk_view", "table_type": "sproc"}])
    run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), sprocs=reg, audit=False)
    row = spark.table("sproc_out").collect()[0]
    assert str(row["s"]) == "1995-03-01" and str(row["e"]) == "1995-03-07"


def test_historical_classified_but_never_processed(spark, tmp_path, sf_dir):
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {"table_name": "orders", "table_type": "historical"},
            {"table_name": "customer", "table_type": "dim"},
        ],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    assert [o.table for o in res.outcomes] == ["customer"]
    assert not ManagedTable(spark, str(tmp_path / "tgt" / "orders")).exists()


def test_rerun_same_window_is_idempotent(spark, tmp_path, sf_dir):
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {
                "table_name": "lineitem",
                "table_type": "fact",
                "date_column": "l_shipdate",
            }
        ],
    )
    r1 = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    t = ManagedTable(spark, str(tmp_path / "tgt" / "lineitem"))
    first = sorted(map(tuple, t.read().collect()))
    r2 = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    assert sorted(map(tuple, t.read().collect())) == first
    assert r1.outcomes[0].records == r2.outcomes[0].records


def test_parallel_dims_all_load(spark, tmp_path, sf_dir):
    dims = ["region", "nation", "customer", "supplier", "part"]
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [{"table_name": d, "table_type": "dim"} for d in dims],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    assert sorted(o.table for o in res.outcomes) == sorted(dims)
    for d in dims:
        t = ManagedTable(spark, str(tmp_path / "tgt" / d))
        assert t.read().count() > 0


def test_dual_log_files_written(spark, tmp_path, sf_dir):
    logs = tmp_path / "logs"
    cfg = _cfg(
        tmp_path,
        sf_dir,
        [
            {
                "table_name": "lineitem",
                "table_type": "fact",
                "date_column": "l_shipdate",
            },
            {"table_name": "customer", "table_type": "dim"},
        ],
        log_dir=str(logs),
    )
    run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    month = logs / "2026-08"
    main_logs = list((month / "Main").glob("bulk_copy_log_*.txt"))
    assert len(main_logs) == 1
    content = main_logs[0].read_text()
    assert "Starting bulk copy process" in content
    assert "lineitem" in content
    # per-table logs exist and mention their own table
    for t in ["lineitem", "customer"]:
        files = list((month / t).glob(f"{t}-*.log"))
        assert files, f"missing per-table log for {t}"
        assert t in files[0].read_text()


def test_cli_main_exit_codes(spark, sf_dir, tmp_path, capsys):
    """__main__ mirrors Program.Main: config file in, per-table outcomes
    out, exit 1 iff any table Failed (error isolation keeps the run going)."""
    import json as _json

    from data_warehouse_copy_spark.__main__ import main

    cfg = {
        "source": sf_dir,
        "target": str(tmp_path / "tgt"),
        "tables": [
            {"table_name": "customer", "table_type": "dim"},
            {"table_name": "missing_table", "table_type": "dim"},
        ],
        "date_from": "1995-03-01",
        "date_to": "1995-03-07",
    }
    path = tmp_path / "job.json"
    path.write_text(_json.dumps(cfg))
    rc = main([str(path)], spark=spark)
    out = capsys.readouterr().out
    assert rc == 1
    assert "customer\tCopy\tCompleted" in out
    assert "missing_table\tCopy\tFailed" in out
    # healthy config exits 0; window override accepted
    cfg["tables"] = cfg["tables"][:1]
    path.write_text(_json.dumps(cfg))
    rc = main([str(path), "--date-from", "1995-03-01", "--date-to", "1995-03-02"],
              spark=spark)
    assert rc == 0


def test_engine_loggers_reach_the_run_log(tmp_path):
    """Every engine logger sits under the package logger, so the run's
    main log file captures its records."""
    from data_warehouse_copy_spark.plans.logfiles import (
        setup_run_logging,
        teardown,
    )
    from data_warehouse_copy_spark.sources import sql_dml

    handler = setup_run_logging(tmp_path, datetime(2026, 8, 13, 12, 0))
    try:
        sql_dml._DFP_LOG.warning("dynamic prune probe record")
        sql_dml._MV_LOG.warning("matview probe record")
    finally:
        teardown(handler)
    (main_log,) = (tmp_path / "2026-08" / "Main").glob("bulk_copy_log_*.txt")
    text = main_log.read_text()
    assert "dynamic prune probe record" in text
    assert "matview probe record" in text


def test_parallel_table_logs_are_isolated(tmp_path):
    """Concurrent per-table handlers share the package logger; the
    contextvar filter must keep each table's file free of the other
    table's records (the reference isolates per-table Serilog loggers)."""
    import logging
    import threading

    from data_warehouse_copy_spark.plans.logfiles import PKG_LOGGER, per_table_log

    logger = logging.getLogger(PKG_LOGGER + ".paralleltest")
    logger.setLevel(logging.INFO)
    start = threading.Barrier(2)

    def work(table: str):
        with per_table_log(tmp_path, table):
            start.wait()
            for i in range(50):
                logger.info("record %s from %s", i, table)

    threads = [threading.Thread(target=work, args=(t,)) for t in ("alpha", "beta")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    month = next(p for p in tmp_path.iterdir() if p.is_dir())
    for mine, other in (("alpha", "beta"), ("beta", "alpha")):
        files = list((month / mine).glob(f"{mine}-*.log"))
        assert files, f"missing log for {mine}"
        text = "".join(f.read_text() for f in files)
        assert f"from {mine}" in text
        assert f"from {other}" not in text, f"{mine} log captured {other} records"


def test_cli_maintenance_commands(spark, tmp_path, capsys):
    """maintenance compact/vacuum/history drive ManagedTable upkeep from
    the CLI (lakehouse extension; no reference counterpart)."""
    from pyspark.sql import functions as F

    from data_warehouse_copy_spark.__main__ import main
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    root = str(tmp_path / "t")
    t = ManagedTable.create(spark, root)
    for i in range(3):
        t.append(spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")))
    appended = {f.path for f in t.snapshot().files}

    assert main(["maintenance", "compact", root], spark=spark) == 0
    out = capsys.readouterr().out
    assert "-> 1 files" in out
    assert len(t.snapshot().files) == 1
    # each append writes one file per input partition, so the number the
    # compaction unreferenced depends on the core count
    unreferenced = appended - {f.path for f in t.snapshot().files}
    assert len(unreferenced) >= 3

    # young orphans survive the default retention; --retention-hours 0 reclaims
    assert main(["maintenance", "vacuum", root], spark=spark) == 0
    assert "vacuum\t0 files removed" in capsys.readouterr().out
    assert main(["maintenance", "vacuum", root, "--retention-hours", "0"], spark=spark) == 0
    assert f"vacuum\t{len(unreferenced)} files removed" in capsys.readouterr().out
    assert t.read().count() == 30

    assert main(["maintenance", "history", root], spark=spark) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == t.snapshot().version + 1
    assert "compact" in lines[-1]

    import json as _json

    assert main(["maintenance", "detail", root], spark=spark) == 0
    d = _json.loads(capsys.readouterr().out)
    assert d["total_rows"] == 30 and d["n_files"] == 1 and d["op"] == "compact"

    assert main(["maintenance", "compact", str(tmp_path / "missing")], spark=spark) == 1

    # restore: recommit a live version's contents (v1's files were already
    # vacuumed above — restoring THEM loudly fails, covered in
    # test_managed_table; here restore the current head, which must work)
    v = t.snapshot().version
    assert main(["maintenance", "restore", root, "--version", str(v)], spark=spark) == 0
    assert f"recommitted as v{v + 1}" in capsys.readouterr().out
    assert t.read().count() == 30


def _orders_spec(name):
    return {
        "table_name": name,
        "table_type": "fact",
        "date_column": "o_orderdate",
        "update_date_column": "update_datetime",
        "primary_key": "o_orderkey",
    }


@pytest.fixture()
def upsert_src(spark, tmp_path, sf_dir):
    """A source dir for copy+update facts: ``orders`` and its twin
    ``orders2`` carry the derived ``update_datetime`` (FIXTURES.md),
    beside the fixture's ``lineitem``."""
    src = tmp_path / "src"
    src.mkdir()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "update_datetime",
        F.timestamp_add(
            "DAY", (F.col("o_orderkey") % 40).cast("int"), F.col("o_orderdate")
        ),
    ).coalesce(1)
    for name in ("orders", "orders2"):
        orders.write.parquet(str(src / f"{name}.parquet"))
    (src / "lineitem.parquet").symlink_to(f"{sf_dir}/lineitem.parquet")
    return str(src)


def test_table_chains_run_concurrently(spark, tmp_path, upsert_src, monkeypatch):
    """The orders update waits for the lineitem copy to start: it can only
    see it start when the two tables' chains overlap."""
    import threading

    from data_warehouse_copy_spark.plans import pipeline

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: the pool runs one chain at a time")
    started, waited = threading.Event(), []
    copy, update = pipeline.copy_table, pipeline.update_table

    def spy_copy(src, target, table_name, *rest):
        if table_name == "lineitem":
            started.set()
        return copy(src, target, table_name, *rest)

    def spy_update(*args):
        waited.append(started.wait(10))
        return update(*args)

    monkeypatch.setattr(pipeline, "copy_table", spy_copy)
    monkeypatch.setattr(pipeline, "update_table", spy_update)
    cfg = _cfg(
        tmp_path,
        upsert_src,
        [
            _orders_spec("orders"),
            {
                "table_name": "lineitem",
                "table_type": "fact",
                "date_column": "l_shipdate",
            },
        ],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    assert waited == [True]
    assert [(o.table, o.process, o.status) for o in res.outcomes] == [
        ("orders", "Copy", "Completed"),
        ("orders", "Update", "Completed"),
        ("lineitem", "Copy", "Completed"),
    ]


def test_merge_writer_logs_stay_in_their_table_log(
    spark, tmp_path, upsert_src, monkeypatch
):
    """merge_by_key writes its new rows on a worker thread; that thread's
    records must reach its own table's log and no other."""
    import logging

    from data_warehouse_copy_spark.plans.logfiles import PKG_LOGGER

    marker = logging.getLogger(PKG_LOGGER + ".markertest")
    write_files = ManagedTable._write_files

    def spy(self, *args, **kwargs):
        marker.info("write marker for [%s]", self.root.name)
        return write_files(self, *args, **kwargs)

    monkeypatch.setattr(ManagedTable, "_write_files", spy)
    logs = tmp_path / "logs"
    cfg = _cfg(
        tmp_path,
        upsert_src,
        [_orders_spec("orders"), _orders_spec("orders2")],
        log_dir=str(logs),
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0), audit=False)
    assert [o.status for o in res.outcomes] == ["Completed"] * 4
    month = logs / "2026-08"
    for mine, other in (("orders", "orders2"), ("orders2", "orders")):
        (log_file,) = (month / mine).glob(f"{mine}-*.log")
        text = log_file.read_text()
        assert f"write marker for [{mine}]" in text
        assert f"[{other}]" not in text, f"{mine} log captured {other} records"


def test_failed_chain_audits_once_and_other_chain_completes(
    spark, tmp_path, upsert_src
):
    from collections import Counter

    cfg = _cfg(
        tmp_path,
        upsert_src,
        [_orders_spec("orders"), _orders_spec("no_such_orders")],
    )
    res = run(spark, cfg, now=datetime(2026, 8, 13, 12, 0))
    assert [(o.table, o.process, o.status) for o in res.outcomes] == [
        ("orders", "Copy", "Completed"),
        ("orders", "Update", "Completed"),
        ("no_such_orders", "Copy", "Failed"),
        ("no_such_orders", "Update", "Failed"),
    ]
    events = AuditLog(spark, cfg.audit_table_path).events().collect()
    assert Counter((e.table_name, e.process, e.event) for e in events) == {
        (table, process, event): 1
        for table in ("orders", "no_such_orders")
        for process in ("Copy", "Update")
        for event in ("start", "finish")
    }
