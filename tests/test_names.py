"""NamedCatalog (sources/names.py): the reference addresses tables as
schema_name.table_name against SQL Server's catalog (appsettings.json
TableConfig); here a persistent name→root mapping makes
spark.table("<db>.<name>") and pure SQL resolve ManagedTables by name.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_warehouse_copy_spark.sources.managed_table import ManagedTable  # noqa: E402
from data_warehouse_copy_spark.sources.names import NamedCatalog  # noqa: E402


@pytest.fixture()
def cat(spark, tmp_path):
    c = NamedCatalog(tmp_path / "catalog.json")
    t = ManagedTable.create(spark, tmp_path / "orders")
    t.append(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("v")
        )
    )
    c.register("global_temp.orders", tmp_path / "orders")
    yield c, t
    c.detach(spark)


def test_catalog_roundtrip_persists(spark, tmp_path, cat):
    """register → (re-open the catalog file) → table(): the mapping is the
    persisted JSON, not process state, and the read is live."""
    c, t = cat
    c2 = NamedCatalog(c.path)  # a different process would do exactly this
    assert c2.names() == ["global_temp.orders"]
    assert c2.table(spark, "global_temp.orders").count() == 100
    t.append(spark.range(100, 150).selectExpr("id AS k", "id % 3 AS v"))
    # table() is LIVE: a fresh relation per call sees the new head
    assert c2.table(spark, "global_temp.orders").count() == 150
    t.delete([("k", "<", 10)])
    assert c2.table(spark, "global_temp.orders").count() == 140


def test_spark_table_resolves_names(spark, cat):
    """attach() makes spark.table('<db>.<name>') and raw SQL resolve; the
    view pins the attach-time snapshot and refresh() re-resolves — the
    documented python-DS relation-cache boundary."""
    c, t = cat
    assert c.attach(spark) == ["global_temp.orders"]
    assert spark.table("global_temp.orders").count() == 100
    assert (
        spark.sql(
            "SELECT v, count(*) AS n FROM global_temp.orders GROUP BY v"
        ).count()
        == 3
    )
    t.append(spark.range(100, 120).selectExpr("id AS k", "id % 3 AS v"))
    c.refresh(spark)
    assert spark.table("global_temp.orders").count() == 120


def test_sql_surface_joins_named_tables(spark, tmp_path, cat):
    """The SQL surface over NAMES, not paths: a join across two catalog
    tables matches the same join through the programmatic path."""
    c, t = cat
    dim = ManagedTable.create(spark, tmp_path / "dim")
    dim.append(
        spark.createDataFrame(
            [(0, "zero"), (1, "one"), (2, "two")], "v long, label string"
        )
    )
    c.register("global_temp.dim", tmp_path / "dim")
    c.attach(spark)
    sql_out = spark.sql(
        "SELECT o.k, d.label FROM global_temp.orders o "
        "JOIN global_temp.dim d ON o.v = d.v WHERE o.k < 10 ORDER BY o.k"
    ).collect()
    prog = (
        c.table(spark, "global_temp.orders")
        .alias("o")
        .join(c.table(spark, "global_temp.dim").alias("d"), "v")
        .filter(F.col("k") < 10)
        .select("k", "label")
        .orderBy("k")
        .collect()
    )
    assert [tuple(r) for r in sql_out] == [tuple(r) for r in prog]
    assert len(sql_out) == 10


def test_catalog_guards(spark, tmp_path, cat):
    c, _ = cat
    with pytest.raises(ValueError, match="db.*table"):
        c.register("flatname", tmp_path / "orders")
    with pytest.raises(ValueError, match="no managed table"):
        c.register("global_temp.ghost", tmp_path / "nowhere")
    with pytest.raises(KeyError, match="not in catalog"):
        c.root_of("global_temp.ghost")
    with pytest.raises(KeyError):
        c.drop("global_temp.ghost")
    # names in a foreign db are rejected at attach, not silently rewired
    t2 = ManagedTable.create(spark, tmp_path / "t2")
    t2.append(spark.range(3).selectExpr("id AS k", "id AS v"))
    c.register("bronze.t2", tmp_path / "t2")
    with pytest.raises(ValueError, match="globalTempDatabase"):
        c.attach(spark)
    c.drop("bronze.t2")


def test_dropping_name_keeps_data(spark, cat):
    c, t = cat
    c.drop("global_temp.orders")
    assert c.names() == []
    assert t.read().count() == 100  # the NAME died, the table did not


# ------------------------------------------------- native read by name
# table() serves plain and snapshot-option reads from ManagedTable.read
# (the native parquet scan); the declarative reader stays the reference
# these reads must equal, and the only path for log/change-feed options.


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """A registered 1,000-row table carrying DVs (a delete and an update)
    and a column-mapping rename plus an added column on top."""
    d = tmp_path_factory.mktemp("native_read")
    t = ManagedTable.create(spark, d / "t")
    t.append(
        spark.range(0, 1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            (F.col("id") * 2).alias("w"),
        )
    )
    t.delete([("k", ">=", 100), ("k", "<", 150)])
    t.update([("k", ">=", 600), ("k", "<", 640)], {"v": "v + 100"})
    t.rename_column("w", "w2")
    t.add_column("x", "string")
    c = NamedCatalog(d / "catalog.json")
    c.register("db.t", d / "t")
    return c, t, str(d / "t")


def _ds(spark, root, **options):
    from data_warehouse_copy_spark.sources.datasource import register

    register(spark)
    reader = spark.read.format("managed_table")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(root)


def _same(a, b):
    from collections import Counter

    assert [(f.name, f.dataType, f.nullable) for f in a.schema] == [
        (f.name, f.dataType, f.nullable) for f in b.schema
    ]
    assert Counter(a.collect()) == Counter(b.collect())


def test_table_native_read_equals_declarative_reader(spark, evolved):
    c, t, root = evolved
    assert t.snapshot().files and any(f.dv_paths for f in t.snapshot().files)
    _same(c.table(spark, "db.t"), _ds(spark, root))
    assert c.table(spark, "db.t").count() == 950
    # version 1 is the first append: no DV, no rename
    _same(c.table(spark, "db.t", versionAsOf=1), _ds(spark, root, versionAsOf=1))
    ts = t.history()[2].ts  # the delete's commit
    _same(
        c.table(spark, "db.t", timestampAsOf=ts),
        _ds(spark, root, timestampAsOf=ts),
    )
    assert c.table(spark, "db.t", timestampAsOf=ts).count() == 950
    _same(c.table(spark, "db.t", columns="k,v"), _ds(spark, root, columns="k,v"))
    where = '[["k", ">=", 500]]'
    _same(
        c.table(spark, "db.t", where=where),
        _ds(spark, root, where=where).filter("k >= 500"),
    )
    # stats prune every file: the empty frame keeps the scan's schema
    where = '[["k", ">", 5000]]'
    _same(c.table(spark, "db.t", where=where), _ds(spark, root, where=where))
    # option names match case-insensitively, as reader options do
    assert c.table(spark, "db.t", VERSIONASOF="1").count() == 1000
    with pytest.raises(ValueError, match="outside the table history"):
        c.table(spark, "db.t", versionAsOf=99)


def test_table_plain_read_is_a_native_scan_of_live_files(
    spark, evolved, dv_scan_side
):
    """A plain catalog read is a native parquet scan of the live data
    files. Its small DV set joins as a local relation, so no DV parquet
    is a Spark input; with the broadcast threshold off the DV side is
    a scan of the DV parquets instead."""
    c, t, root = evolved
    ds = _ds(spark, root)
    ds.collect()
    assert "BatchScan managed_table" in ds._jdf.queryExecution().executedPlan().toString()
    files = t.snapshot().files
    live = {str(Path(root) / f.path) for f in files}
    dvs = {str(Path(root) / d) for f in files for d in f.dv_paths}

    def plan_and_inputs():
        df = c.table(spark, "db.t")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchScan managed_table" not in plan
        return plan, {f.removeprefix("file://") for f in df.inputFiles()}

    plan, read = plan_and_inputs()
    assert read == live
    assert "LocalTableScan [__dwcs_dv_rel" in plan
    with dv_scan_side():
        plan, read = plan_and_inputs()
    assert "LocalTableScan" not in plan
    # the live data files, plus the DV parquets the anti-join reads
    assert {p for p in read if "/_dv/" not in p} == live
    assert {p for p in read if "/_dv/" in p} == dvs


def test_table_log_options_still_use_declarative_reader(spark, evolved):
    c, _, root = evolved
    for opts in ({"history": "true"}, {"files": "true"}, {"changesFrom": "0"}):
        got = c.table(spark, "db.t", **opts)
        assert "BatchScan managed_table" in (
            got._jdf.queryExecution().executedPlan().toString()
        )
        _same(got, _ds(spark, root, **opts))


def test_table_of_deleted_root_raises(spark, tmp_path):
    import shutil

    c = NamedCatalog(tmp_path / "catalog.json")
    t = ManagedTable.create(spark, tmp_path / "gone")
    t.append(spark.range(3).selectExpr("id AS k"))
    c.register("db.gone", tmp_path / "gone")
    shutil.rmtree(tmp_path / "gone")
    with pytest.raises(ValueError, match="no managed table"):
        c.table(spark, "db.gone")


# ---------------------------------------------------------------- SQL DML


def test_spark_native_sql_dml_is_unsupported(spark, cat):
    """The boundary that justifies the parse-and-dispatch front-end:
    Spark 4.1 cannot route row-level SQL to a Python Data Source — DML
    against an attached view fails inside Spark's own analyzer. If this
    test ever FAILS (native DML starts working), retire sql_dml.py."""
    c, _t = cat
    c.attach(spark)
    with pytest.raises(Exception, match="does not support deletes|DELETE"):
        spark.sql("DELETE FROM global_temp.orders WHERE k < 5")


def test_sql_dml_parser_units():
    from data_warehouse_copy_spark.sources.sql_dml import (
        SqlDmlError,
        parse_dml,
    )

    st = parse_dml("DELETE FROM db.t WHERE a = 1 AND b >= 2.5 AND c IN ('x', 'y')")
    assert st.kind == "delete" and st.table == "db.t"
    assert st.where == [("a", "=", 1), ("b", ">=", 2.5), ("c", "in", ["x", "y"])]
    st = parse_dml("DELETE FROM db.t")  # truncate form
    assert st.where is None
    st = parse_dml("UPDATE db.t SET a = a * 2, b = 'it''s' WHERE k = 3")
    assert st.kind == "update"
    assert st.set_exprs == {"a": "a * 2", "b": "'it''s'"}
    assert st.where == [("k", "=", 3)]
    st = parse_dml(
        "MERGE INTO db.t AS tgt USING db.src AS st ON tgt.k = st.k "
        "WHEN MATCHED AND st.v > tgt.v THEN UPDATE SET v = st.v + 1 "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert st.kind == "merge" and st.on == ["k"] and st.source == "db.src"
    assert st.matched_clauses == [
        {"condition": "s.v > t.v", "update": {"v": "s.v + 1"}}
    ]  # aliases normalized
    assert st.when_not_matched_insert is True
    # full clause surface: multiple WHEN MATCHED + NOT MATCHED BY SOURCE
    st = parse_dml(
        "MERGE INTO db.t t USING db.src s ON t.k = s.k "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED BY TARGET THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.v > 100 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0"
    )
    assert st.matched_clauses == [
        {"condition": "s.v < 0", "delete": True},
        {"condition": None, "update": {"v": "s.v"}},
    ]
    assert st.by_source_clauses == [
        {"condition": "t.v > 100", "delete": True},
        {"condition": None, "update": {"v": "0"}},
    ]
    assert st.when_not_matched_insert is True
    # first-match-wins ordering: unconditional clause must come LAST
    with pytest.raises(SqlDmlError, match="must be last"):
        parse_dml(
            "MERGE INTO db.t t USING db.s s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v"
        )
    with pytest.raises(SqlDmlError, match="no WHEN clauses"):
        parse_dml("MERGE INTO db.t t USING db.s s ON t.k = s.k")
    # two unconditional INSERT clauses: the first shadows the second
    # (first-match-wins) — rejected like the other clause families
    with pytest.raises(SqlDmlError, match="must be last"):
        parse_dml(
            "MERGE INTO db.t t USING db.s s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # conditional INSERT column/VALUES form parses with aliases normalized
    st = parse_dml(
        "MERGE INTO db.t tt USING db.s ss ON tt.k = ss.k "
        "WHEN NOT MATCHED AND ss.v > 0 THEN INSERT (k, v) "
        "VALUES (ss.k, ss.v * 2) "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (ss.k)"
    )
    assert st.insert_clauses == [
        {"condition": "s.v > 0", "insert": {"k": "s.k", "v": "s.v * 2"}},
        {"condition": None, "insert": {"k": "s.k"}},
    ]
    with pytest.raises(SqlDmlError, match="VALUES expressions"):
        parse_dml(
            "MERGE INTO db.t t USING db.s s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
        )
    # SELECTs are not DML: pass through
    assert parse_dml("SELECT * FROM db.t") is None
    assert parse_dml("  with x as (select 1) select * from x") is None
    # general predicates (round-10): conjuncts outside the sargable
    # subset ride verbatim as ("", "expr", sql) residuals — classified,
    # never misparsed
    st = parse_dml("DELETE FROM db.t WHERE a != 1")
    assert st.where == [("", "expr", "a != 1")]
    st = parse_dml("DELETE FROM db.t WHERE a IS NULL AND b = 2")
    assert st.where == [("", "expr", "a IS NULL"), ("b", "=", 2)]
    # a top-level OR keeps the WHOLE clause one residual (AND-splitting
    # across OR would rewrite precedence)
    st = parse_dml("DELETE FROM db.t WHERE a = 1 OR b = 2")
    assert st.where == [("", "expr", "a = 1 OR b = 2")]
    # BETWEEN's AND is not a conjunction boundary
    st = parse_dml("DELETE FROM db.t WHERE p BETWEEN 1 AND 2 AND k = 3")
    assert st.where == [("", "expr", "p BETWEEN 1 AND 2"), ("k", "=", 3)]
    # redundant parens around a sargable conjunct keep its pruning
    st = parse_dml("DELETE FROM db.t WHERE ((a = 1)) AND (b IN (1, 2))")
    assert st.where == [("a", "=", 1), ("b", "in", [1, 2])]
    with pytest.raises(SqlDmlError, match="same-named"):
        parse_dml("MERGE INTO db.t t USING db.s s ON t.a = s.b "
                  "WHEN NOT MATCHED THEN INSERT *")


def test_sql_dml_general_predicates(spark, tmp_path):
    """Arbitrary WHERE expressions through SQL DELETE/UPDATE (round-10,
    Delta parity): OR / IS NULL / LIKE / BETWEEN / functions all land on
    the same transactional merge-on-read paths, value-exact vs a
    DataFrame twin; predicate-NULL rows survive DELETE and stay
    untouched by UPDATE (SQL three-valued logic)."""
    c = NamedCatalog(tmp_path / "cat.json")
    df = spark.createDataFrame(
        [
            (i, f"c{i % 7}", float(i * 10), None if i % 5 == 0 else f"n{i}")
            for i in range(100)
        ],
        "k int, cat string, price double, note string",
    )
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    t.append(df)
    c.register("db.t", tmp_path / "t")
    res = c.sql(
        spark, "DELETE FROM db.t WHERE note IS NULL OR cat LIKE 'c1%'"
    ).collect()
    exp_deleted = df.filter("note IS NULL OR cat LIKE 'c1%'")
    assert res[0].rows_affected == exp_deleted.count() == 32
    res = c.sql(
        spark,
        "UPDATE db.t SET price = price * 2 "
        "WHERE price BETWEEN 100 AND 300 AND k >= 15 AND length(note) >= 2",
    ).collect()
    assert res[0].rows_affected == 10
    twin = df.filter("NOT (note IS NULL OR cat LIKE 'c1%')").withColumn(
        "price",
        F.when(
            F.expr("price BETWEEN 100 AND 300 AND k >= 15"),
            F.col("price") * 2,
        ).otherwise(F.col("price")),
    )
    assert {(r.k, r.price) for r in t.read().collect()} == {
        (r.k, r.price) for r in twin.collect()
    }
    # predicate-NULL semantics: a comparison against a NULL note is NULL,
    # so those rows must NOT be deleted by a plain comparison...
    before = t.count()
    t2 = ManagedTable.create(spark, tmp_path / "t2")
    t2.append(df)
    c.register("db.t2", tmp_path / "t2")
    res = c.sql(spark, "DELETE FROM db.t2 WHERE note < 'n2'").collect()
    # ...only rows whose note is non-NULL and < 'n2' go
    assert res[0].rows_affected == df.filter("note < 'n2'").count()
    assert t2.count() == 100 - res[0].rows_affected
    assert t.count() == before  # the other table untouched
    c.detach(spark)


def test_sql_dml_mixed_where_keeps_file_skipping(spark, tmp_path):
    """A residual expression conjunct must not widen the candidate set
    beyond what its SARGABLE siblings admit: two disjoint-k-range files,
    DELETE with (k-range tuple + LIKE residual) — the out-of-range file
    ends byte-identical with zero DV rows attached."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    lo = spark.range(0, 50).selectExpr("CAST(id AS int) k", "CONCAT('a', id) s")
    hi = spark.range(50, 100).selectExpr("CAST(id AS int) k", "CONCAT('a', id) s")
    t.append(lo)
    t.append(hi)
    c.register("db.t", tmp_path / "t")
    m0 = t.snapshot()
    assert len(m0.files) >= 2
    res = c.sql(
        spark, "DELETE FROM db.t WHERE k < 50 AND s LIKE 'a1%'"
    ).collect()
    assert res[0].rows_affected == 11  # a1, a10..a19
    m1 = t.snapshot()
    # files whose k-span is entirely >= 50 carry no deletion vector —
    # the sargable conjunct pruned them before the residual ever ran
    hi_files = [f for f in m1.files if f.stats and f.stats["k"][0] >= 50]
    assert hi_files and all(not f.dv_paths for f in hi_files)
    assert t.count() == 89
    c.detach(spark)


def test_sql_table_changes_tvf(spark, tmp_path):
    """``table_changes('db.t', v1 [, v2])`` in pure SQL (round-10): the
    TVF rewrites to ManagedTable.read_cdf with Delta's INCLUSIVE version
    contract; the open-ended form tracks the head; an unregistered name
    raises loudly; a quoted literal containing the TVF text is never
    rewritten."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    df = spark.range(0, 50).selectExpr(
        "CAST(id AS int) k",
        "CAST(id * 10.0 AS double) p",
        "CASE WHEN id % 3 = 0 THEN 'P' ELSE 'O' END st",
    )
    t.append(df)  # v1
    t.delete([("p", "<", 100.0)])  # v2: k 0..9
    t.update([("st", "=", "P")], {"p": "p * 2.0"})  # v3: surviving P rows
    c.register("db.t", tmp_path / "t")
    out = c.sql(
        spark,
        "SELECT _change_type, _commit_version, k, p "
        "FROM table_changes('db.t', 2, 3)",
    )
    got = sorted(map(tuple, out.collect()))
    p_keys = [k for k in range(10, 50) if k % 3 == 0]
    exp = sorted(
        [("delete", 2, k, k * 10.0) for k in range(10)]
        + [("update_preimage", 3, k, k * 10.0) for k in p_keys]
        + [("update_postimage", 3, k, k * 20.0) for k in p_keys]
    )
    assert got == exp
    # inclusive-start: v1 pulls the 50 inserts too; open-ended = head
    assert (
        c.sql(
            spark, "SELECT COUNT(*) AS n FROM table_changes('db.t', 1)"
        ).collect()[0].n
        == 50 + len(exp)
    )
    # composes with plain SQL (joins/aggregates over the feed)
    agg = c.sql(
        spark,
        "SELECT _change_type, COUNT(*) AS n "
        "FROM table_changes('db.t', 2, 2) GROUP BY _change_type",
    ).collect()
    assert [(r._change_type, r.n) for r in agg] == [("delete", 10)]
    with pytest.raises(SqlDmlError, match="not a registered table"):
        c.sql(spark, "SELECT * FROM table_changes('db.nope', 1)")
    # inside a string literal: untouched (passes through to spark.sql)
    lit = c.sql(
        spark, "SELECT 'table_changes(''db.t'', 1)' AS s"
    ).collect()
    assert lit[0].s == "table_changes('db.t', 1)"
    c.detach(spark)


def test_sql_truncate_and_restore_timestamp(spark, tmp_path):
    """TRUNCATE TABLE (standard-SQL spelling of the no-WHERE delete) and
    RESTORE ... TO TIMESTAMP AS OF (resolves through version_at) —
    round-10 parity forms. Old files stay restorable after TRUNCATE."""
    import time
    from datetime import datetime

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(0, 100).selectExpr("id AS k"))  # v1
    time.sleep(0.05)
    mark = datetime.now().isoformat()
    time.sleep(0.05)
    t.append(spark.range(100, 150).selectExpr("id AS k"))  # v2
    c.register("db.t", tmp_path / "t")
    res = c.sql(spark, "TRUNCATE TABLE db.t").collect()
    assert (res[0].operation, res[0].rows_affected) == ("TRUNCATE", 150)
    assert t.count() == 0
    # timestamp restore lands on the state as of `mark` (v1)
    c.sql(spark, f"RESTORE db.t TO TIMESTAMP AS OF '{mark}'")
    assert t.count() == 100
    c.sql(spark, "RESTORE db.t TO VERSION AS OF 2")
    assert t.count() == 150
    # a column NAMED timestamp still parses (not a reserved word)
    c.sql(
        spark,
        "CREATE TABLE db.ts (k int, ts timestamp) USING managed_table",
    )
    c.detach(spark)


def test_round10_review_fixes(spark, tmp_path):
    """Review-pass regressions (round-10): CASE..END ANDs are not
    conjunction boundaries end-to-end; the round-10 statement words stay
    usable as column names; a failed OR REPLACE leaves the compaction
    policy untouched; maxMergeFiles < 2 is refused; IF NOT EXISTS on a
    DEEP clone reports DEEP CLONE."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(
        spark.range(0, 20).selectExpr(
            "id AS k", "id % 3 AS a", "id % 5 AS b"
        )
    )
    c.register("db.t", tmp_path / "t")
    # CASE with internal AND/OR, composed with a sargable conjunct
    res = c.sql(
        spark,
        "DELETE FROM db.t WHERE 1 = CASE WHEN a = 1 AND b = 2 THEN 1 "
        "WHEN a = 0 OR b = 4 THEN 1 ELSE 0 END AND k >= 10",
    ).collect()
    exp = [
        k
        for k in range(10, 20)
        if (k % 3 == 1 and k % 5 == 2) or k % 3 == 0 or k % 5 == 4
    ]
    assert res[0].rows_affected == len(exp)
    # statement words as column names, end-to-end
    c.sql(
        spark,
        f"CREATE TABLE db.w (k int, cluster int, truncate int) "
        f"USING managed_table LOCATION '{tmp_path}/w'",
    )
    c.sql(spark, "INSERT INTO db.w VALUES (1, 2, 3)")
    res = c.sql(
        spark, "UPDATE db.w SET cluster = 9 WHERE truncate = 3"
    ).collect()
    assert res[0].rows_affected == 1
    # failed OR REPLACE: policy untouched, constraints restored
    c.sql(spark, "ALTER TABLE db.w ADD CONSTRAINT k_pos CHECK (k > 0)")
    with pytest.raises(Exception, match="no_such_fn"):
        c.sql(
            spark,
            "CREATE OR REPLACE TABLE db.w USING managed_table "
            "TBLPROPERTIES ('autoCompact' = 'true') "
            "AS SELECT no_such_fn(1) AS z",
        )
    w = ManagedTable(spark, tmp_path / "w")
    assert w.auto_compact_policy() is None  # the failed replace did not enable it
    assert w.snapshot().constraints == {"k_pos": "k > 0"}
    # dead-knob refusal, SQL and Python
    with pytest.raises(ValueError, match="max_merge_files must be >= 2"):
        c.sql(
            spark,
            "ALTER TABLE db.w SET TBLPROPERTIES "
            "('autoCompact.maxMergeFiles' = '0')",
        )
    with pytest.raises(ValueError, match=">= 2"):
        w.set_auto_compact(max_merge_files=1)
    # IF NOT EXISTS deep-clone no-op carries the right label
    c.sql(spark, "CREATE TABLE db.d CLONE db.t")
    res = c.sql(
        spark, "CREATE TABLE IF NOT EXISTS db.d DEEP CLONE db.t"
    ).collect()
    assert res[0].operation == "DEEP CLONE"
    with pytest.raises(SqlDmlError, match="DEEP CLONE source"):
        c.sql(spark, "CREATE TABLE db.x CLONE db.missing")
    # TRUNCATE / ANALYZE of an unregistered name pass through to Spark
    spark.range(4).createOrReplaceTempView("dwcs_r10_plain")
    with pytest.raises(Exception, match="TRUNCATE|NOT_SUPPORTED|TABLE_OR_VIEW"):
        c.sql(spark, "TRUNCATE TABLE dwcs_r10_plain")  # Spark's own error
    c.detach(spark)


def test_sql_general_predicates_under_column_mapping(spark, tmp_path):
    """Mixed WHERE on a RENAMED (column-mapped) table: the residual
    references logical names (the scan renames before the filter), the
    sargable conjunct's stats pruning translates through the physical
    mapping — the two round-10 features compose."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    t.append(
        spark.range(0, 100).selectExpr(
            "CAST(id AS int) AS k", "CONCAT('v', id % 9) AS tag"
        )
    )
    t.rename_column("tag", "label")
    t.rename_column("k", "key")
    c.register("db.t", tmp_path / "t")
    res = c.sql(
        spark, "DELETE FROM db.t WHERE key < 30 AND label LIKE 'v1%'"
    ).collect()
    assert res[0].rows_affected == 4  # ids 1, 10, 19, 28
    res = c.sql(
        spark,
        "UPDATE db.t SET label = upper(label) "
        "WHERE key BETWEEN 90 AND 95 OR label = 'v0'",
    ).collect()
    assert res[0].rows_affected == 17
    got = {x.key: x.label for x in t.read().collect()}
    assert got[90] == "V0" and got[45] == "V0" and got[44] == "v8"
    c.detach(spark)


def test_sql_rename_table(spark, tmp_path):
    """ALTER TABLE ... RENAME TO (round-10): one catalog metadata write
    — the root and its data untouched; duplicate targets and unknown
    sources are loud; RENAME COLUMN keeps parsing beside it."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(5).selectExpr("id AS k"))
    c.register("db.t", tmp_path / "t")
    res = c.sql(spark, "ALTER TABLE db.t RENAME TO db.renamed").collect()
    assert res[0].operation == "ALTER RENAME TO"
    assert c.names() == ["db.renamed"]
    assert c.table(spark, "db.renamed").count() == 5
    assert str(c.root_of("db.renamed")) == str(tmp_path / "t")  # data stays
    with pytest.raises(KeyError):
        c.sql(spark, "ALTER TABLE db.gone RENAME TO db.x")
    c.register("db.other", tmp_path / "t")
    with pytest.raises(ValueError, match="already in catalog"):
        c.sql(spark, "ALTER TABLE db.renamed RENAME TO db.other")
    c.sql(spark, "ALTER TABLE db.renamed RENAME COLUMN k TO key")
    assert c.table(spark, "db.renamed").columns == ["key"]
    c.detach(spark)


def test_sql_deep_clone(spark, tmp_path):
    """CREATE TABLE ... [DEEP] CLONE (round-10; bare CLONE = deep, Delta
    parity): the snapshot re-materializes into INDEPENDENT files under
    the same layout config — it survives a source rewrite + vacuum that
    would strand a shallow clone; VERSION AS OF pins history (and the
    clone's own AS OF parse must not be eaten by the time-travel
    rewrite)."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    t.append(spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))  # v1
    t.append(spark.range(100, 150).selectExpr("id AS k", "id * 2 AS v"))
    c.register("db.t", tmp_path / "t")
    res = c.sql(spark, "CREATE TABLE db.d CLONE db.t").collect()
    assert (res[0].operation, res[0].rows_affected) == ("DEEP CLONE", 150)
    d = ManagedTable(spark, c.root_of("db.d"))
    # independent bytes: manifest paths are clone-local, layout preserved
    assert all(
        not f.path.startswith(str(tmp_path / "t")) for f in d.snapshot().files
    )
    assert d.snapshot().cluster_col == "k"
    # version-pinned deep clone
    res = c.sql(
        spark, "CREATE TABLE db.d1 DEEP CLONE db.t VERSION AS OF 1"
    ).collect()
    assert res[0].rows_affected == 100
    # the deep clone survives a source rewrite + retention-0 vacuum
    t.overwrite(spark.range(0, 5).selectExpr("id AS k", "id * 2 AS v"))
    t.vacuum(retention_seconds=0)
    assert c.table(spark, "db.d").count() == 150
    assert c.table(spark, "db.d1").count() == 100
    # SELECT time travel still rewrites (the clone skip is CREATE-scoped)
    assert (
        c.sql(spark, "SELECT COUNT(*) AS n FROM db.t VERSION AS OF 3")
        .collect()[0]
        .n
        == 5
    )
    c.detach(spark)


def test_sql_alter_cluster_by(spark, tmp_path):
    """ALTER TABLE ... CLUSTER BY (cols) | NONE (round-10): one atomic
    recluster rewrite — the spec flips (str / list / None), future
    writes follow it, and a point lookup on the new key prunes files."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(
        spark.range(0, 2000)
        .selectExpr("CAST(rand(7) * 1000 AS int) AS k", "id AS v")
        .repartition(6)
    )
    c.register("db.t", tmp_path / "t")
    res = c.sql(spark, "ALTER TABLE db.t CLUSTER BY (k)").collect()
    assert res[0].operation == "ALTER CLUSTER BY"
    m = t.snapshot()
    assert m.cluster_col == "k" and m.op == "recluster"
    # the rewrite is range-clustered: at most a sliver of files admits
    # one key (all admit it only if the rewrite landed a single file)
    admitting = [
        f
        for f in m.files
        if f.stats and f.stats["k"][0] <= 500 <= f.stats["k"][1]
    ]
    assert len(admitting) <= max(1, len(m.files) // 2)
    c.sql(spark, "ALTER TABLE db.t CLUSTER BY NONE")
    assert t.snapshot().cluster_col is None
    c.sql(spark, "ALTER TABLE db.t CLUSTER BY (k, v)")
    assert t.snapshot().cluster_col == ["k", "v"]
    c.detach(spark)


def test_sql_create_or_replace_table(spark, tmp_path):
    """CREATE OR REPLACE TABLE ... AS SELECT (round-10, Delta shape):
    a registered name is replaced as ONE atomic overwrite commit —
    schema may change, history stays time-travelable; a fresh name is a
    plain CTAS; layout/location changes and missing AS are refused."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    res = c.sql(
        spark,
        f"CREATE OR REPLACE TABLE db.t USING managed_table "
        f"LOCATION '{tmp_path}/t' "
        f"AS SELECT id AS k, id * 2 AS v FROM range(0, 10)",
    ).collect()
    assert (res[0].operation, res[0].rows_affected) == (
        "CREATE TABLE AS SELECT",
        10,
    )
    t = ManagedTable(spark, tmp_path / "t")
    v_before = t._head_version()
    res = c.sql(
        spark,
        "CREATE OR REPLACE TABLE db.t USING managed_table "
        "AS SELECT id AS k, CONCAT('x', id) AS s FROM range(0, 3)",
    ).collect()
    assert (res[0].operation, res[0].rows_affected) == (
        "CREATE OR REPLACE TABLE",
        3,
    )
    assert c.table(spark, "db.t").columns == ["k", "s"]
    assert t.snapshot().op == "overwrite"  # one atomic commit
    # history survives the replace
    n_old = c.sql(
        spark, f"SELECT COUNT(*) AS n FROM db.t VERSION AS OF {v_before}"
    ).collect()[0].n
    assert n_old == 10
    with pytest.raises(SqlDmlError, match="preserves the existing"):
        c.sql(
            spark,
            "CREATE OR REPLACE TABLE db.t USING managed_table "
            "CLUSTERED BY (k) AS SELECT 1 AS k",
        )
    with pytest.raises(SqlDmlError, match="keeps the existing LOCATION"):
        c.sql(
            spark,
            f"CREATE OR REPLACE TABLE db.t USING managed_table "
            f"LOCATION '{tmp_path}/elsewhere' AS SELECT 1 AS k",
        )
    with pytest.raises(SqlDmlError, match="AS SELECT"):
        c.sql(
            spark,
            "CREATE OR REPLACE TABLE db.t (k int) USING managed_table",
        )
    # OR REPLACE is a full new definition: old constraints do not carry
    # (a stale constraint naming a dropped column would poison writes);
    # a FAILED replace restores them and leaves the data untouched
    c.sql(spark, "ALTER TABLE db.t ADD CONSTRAINT s_nn CHECK (s IS NOT NULL)")
    c.sql(
        spark,
        "CREATE OR REPLACE TABLE db.t USING managed_table "
        "AS SELECT id AS a, id AS b FROM range(0, 4)",
    )
    assert t.snapshot().constraints is None
    c.sql(spark, "ALTER TABLE db.t ADD CONSTRAINT a_pos CHECK (a >= 0)")
    with pytest.raises(Exception, match="no_such_fn"):
        c.sql(
            spark,
            "CREATE OR REPLACE TABLE db.t USING managed_table "
            "AS SELECT no_such_fn(1) AS z",
        )
    assert t.snapshot().constraints == {"a_pos": "a >= 0"}  # restored
    assert c.table(spark, "db.t").count() == 4  # data untouched
    c.detach(spark)


def test_sql_show_create_table_roundtrips(spark, tmp_path):
    """SHOW CREATE TABLE emits DDL that RE-RUNS through this same parser
    (round-10): schema + USING + LOCATION + PARTITIONED BY + inline
    TBLPROPERTIES (now accepted at CREATE, same validated namespace as
    ALTER SET — and maxMergeFiles is settable, closing the SHOW/SET
    asymmetry)."""
    c = NamedCatalog(tmp_path / "cat.json")
    c.sql(
        spark,
        f"CREATE TABLE db.t (k int, s string, ts timestamp) "
        f"USING managed_table LOCATION '{tmp_path}/t' PARTITIONED BY (ts) "
        f"TBLPROPERTIES ('autoCompact' = 'true', "
        f"'autoCompact.maxMergeFiles' = '64')",
    )
    t = ManagedTable(spark, tmp_path / "t")
    assert t.auto_compact_policy()["max_merge_files"] == 64
    stmt = c.sql(spark, "SHOW CREATE TABLE db.t").collect()[0].createtab_stmt
    assert stmt.startswith("CREATE TABLE db.t (")
    assert "PARTITIONED BY (ts)" in stmt and "'autoCompact' = 'true'" in stmt
    # the emitted DDL re-runs verbatim (new name + location)
    c.sql(
        spark,
        stmt.replace(f"{tmp_path}/t", f"{tmp_path}/t2").replace(
            "db.t", "db.t2"
        ),
    )
    t2 = ManagedTable(spark, tmp_path / "t2")
    assert t2.auto_compact_policy() == t.auto_compact_policy()
    assert c.table(spark, "db.t2").columns == ["k", "s", "ts"]
    # SET of the previously show-only knob works now
    c.sql(
        spark,
        "ALTER TABLE db.t SET TBLPROPERTIES "
        "('autoCompact.maxMergeFiles' = '32')",
    )
    assert t.auto_compact_policy()["max_merge_files"] == 32
    c.detach(spark)


def test_sql_insert_replace_where(spark, tmp_path):
    """INSERT INTO ... REPLACE WHERE (round-10, Delta's SQL
    replaceWhere): one atomic commit deletes the predicate's rows and
    lands the new ones; incoming rows outside the predicate are
    rejected; OVERWRITE+REPLACE is refused; mixed (sargable + residual)
    predicates work."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(
        spark.range(0, 100).selectExpr("id AS k", "CAST(id % 7 AS long) AS v")
    )
    c.register("db.t", tmp_path / "t")
    res = c.sql(
        spark,
        "INSERT INTO db.t REPLACE WHERE k < 10 "
        "SELECT id AS k, CAST(100 AS long) AS v FROM range(0, 5)",
    ).collect()
    assert (res[0].operation, res[0].rows_affected) == (
        "INSERT REPLACE WHERE",
        5,
    )
    got = sorted((x.k, x.v) for x in t.read().collect())
    assert len(got) == 95 and got[0] == (0, 100) and got[5] == (10, 3)
    # one atomic commit (not delete-then-insert)
    assert t.snapshot().op == "replace_where"
    with pytest.raises(Exception, match="do not satisfy the predicate"):
        c.sql(
            spark,
            "INSERT INTO db.t REPLACE WHERE k < 10 "
            "SELECT 50 AS k, CAST(1 AS long) AS v",
        )
    with pytest.raises(SqlDmlError, match="exclusive"):
        c.sql(
            spark,
            "INSERT OVERWRITE db.t REPLACE WHERE k < 10 "
            "SELECT 1 AS k, CAST(1 AS long) AS v",
        )
    # residual conjunct in the replace predicate
    res = c.sql(
        spark,
        "INSERT INTO db.t REPLACE WHERE k >= 90 AND v % 2 = 1 "
        "SELECT 95 AS k, CAST(1 AS long) AS v",
    ).collect()
    assert res[0].rows_affected == 1
    assert t.read().filter("k >= 90 AND v % 2 = 1").count() == 1
    c.detach(spark)


def test_sql_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION INTO ... (round-10, Delta grammar):
    extra source columns evolve the target (nullable add, metadata-only)
    and flow through INSERT * / UPDATE; without the clause the schema
    never grows."""
    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"))
    s = ManagedTable.create(spark, tmp_path / "s")
    s.append(
        spark.range(5, 15).selectExpr(
            "id AS k", "id * 3 AS v", "CONCAT('n', id) AS extra"
        )
    )
    c.register("db.t", tmp_path / "t")
    c.register("db.s", tmp_path / "s")
    res = c.sql(
        spark,
        "MERGE WITH SCHEMA EVOLUTION INTO db.t t USING db.s s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v, extra = s.extra "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert res[0].rows_affected == 10
    assert t.read().columns == ["k", "v", "extra"]
    got = {r.k: r.extra for r in t.read().collect()}
    assert got[0] is None and got[7] == "n7" and got[14] == "n14"
    # malformed clause is loud, not misparsed
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="SCHEMA EVOLUTION"):
        c.sql(
            spark,
            "MERGE WITH SCHEMA INTO db.t t USING db.s s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    c.detach(spark)


def test_sql_analyze_and_describe_extended(spark, tmp_path):
    """ANALYZE TABLE ... COMPUTE STATISTICS (round-10): one aggregate
    pass persists version-stamped row/null/min/max/NDV stats; DESCRIBE
    EXTENDED db.t col serves them as (info_name, info_value) rows with
    a staleness flag; the HLL NDV estimate stays within 5% of exact."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    df = spark.createDataFrame(
        [
            (i, None if i % 4 == 0 else f"s{i % 10}", float(i % 37))
            for i in range(1000)
        ],
        "k int, s string, x double",
    )
    t.append(df)
    c.register("db.t", tmp_path / "t")
    res = c.sql(
        spark,
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS k, s",
    ).collect()
    assert (res[0].operation, res[0].rows_affected) == ("ANALYZE", 1000)
    info = {
        r.info_name: r.info_value
        for r in c.sql(spark, "DESCRIBE EXTENDED db.t s").collect()
    }
    assert info["row_count"] == "1000"
    assert info["null_count"] == "250"
    assert (info["min"], info["max"]) == ("s0", "s9")  # i=10 -> s0, non-null
    assert info["max_col_len"] == "2"
    assert info["stale"] == "false"
    # NDV is a sketch: within 5% of the exact distinct count
    assert abs(int(info["distinct_count_est"]) - 10) <= max(1, 10 * 0.05)
    stats = t.table_stats()
    assert abs(stats["columns"]["k"]["ndv"] - 1000) <= 1000 * 0.05
    # FOR ALL COLUMNS covers the schema; a write flips the stale flag
    c.sql(spark, "ANALYZE TABLE db.t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert sorted(t.table_stats()["columns"]) == ["k", "s", "x"]
    t.append(spark.createDataFrame([(5000, "zz", 1.0)], df.schema))
    info = {
        r.info_name: r.info_value
        for r in c.sql(spark, "DESCRIBE EXTENDED db.t s").collect()
    }
    assert info["stale"] == "true"
    # unknown column / never-analyzed column is loud
    with pytest.raises(SqlDmlError, match="no stored statistics"):
        c.sql(spark, "DESCRIBE EXTENDED db.t nope")
    with pytest.raises(ValueError, match="unknown columns"):
        t.analyze(["nope"])
    # non-catalog DESCRIBE EXTENDED forms pass through to spark.sql
    spark.range(3).createOrReplaceTempView("dwcs_anl_plain")
    out = c.sql(spark, "DESCRIBE EXTENDED dwcs_anl_plain")
    assert "col_name" in out.columns  # Spark's own DESCRIBE result
    c.detach(spark)


def test_sql_shallow_clone(spark, tmp_path):
    """CREATE TABLE ... SHALLOW CLONE ... [VERSION AS OF n] (round-10,
    Delta CLONE shape): metadata-only snapshot reference registered
    under the new name; pinned clones take history; clones are anchored
    (later source commits invisible); clone-local DML never touches
    source bytes."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c = NamedCatalog(tmp_path / "cat.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(0, 100).selectExpr("id AS k"))  # v1
    t.append(spark.range(100, 150).selectExpr("id AS k"))  # v2
    c.register("db.t", tmp_path / "t")
    res = c.sql(spark, "CREATE TABLE db.t2 SHALLOW CLONE db.t").collect()
    assert (res[0].operation, res[0].rows_affected) == ("SHALLOW CLONE", 150)
    assert c.table(spark, "db.t2").count() == 150
    # zero bytes copied: the clone's data/ dir holds no files yet
    clone_root = Path(c.root_of("db.t2"))
    assert not any((clone_root / "data").rglob("*.parquet"))
    # version-pinned clone sees only v1
    c.sql(spark, "CREATE TABLE db.t1v SHALLOW CLONE db.t VERSION AS OF 1")
    assert c.table(spark, "db.t1v").count() == 100
    # anchored: a later source append never appears in either clone
    t.append(spark.range(150, 160).selectExpr("id AS k"))
    assert c.table(spark, "db.t2").count() == 150
    # clone-local DML leaves the source untouched
    c.sql(spark, "DELETE FROM db.t2 WHERE k < 50")
    assert c.table(spark, "db.t2").count() == 100
    assert t.count() == 160
    # IF NOT EXISTS no-op; duplicate and unknown source are loud
    assert (
        c.sql(spark, "CREATE TABLE IF NOT EXISTS db.t2 SHALLOW CLONE db.t")
        .collect()[0]
        .rows_affected
        == 0
    )
    with pytest.raises(SqlDmlError, match="already exists"):
        c.sql(spark, "CREATE TABLE db.t2 SHALLOW CLONE db.t")
    with pytest.raises(SqlDmlError, match="not a\\s+registered"):
        c.sql(spark, "CREATE TABLE db.x SHALLOW CLONE db.missing")
    c.detach(spark)


def test_sql_dml_delete_update_roundtrip(spark, cat):
    c, t = cat
    res = c.sql(
        spark, "DELETE FROM global_temp.orders WHERE k < 10"
    ).collect()
    assert [(r.operation, r.rows_affected) for r in res] == [("DELETE", 10)]
    assert t.count() == 90
    res = c.sql(
        spark,
        "UPDATE global_temp.orders SET v = v + 100 WHERE k >= 95",
    ).collect()
    assert res[0].rows_affected == 5
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 90 and min(got) == 10
    assert all(got[k] == k % 3 + 100 for k in range(95, 100))
    assert all(got[k] == k % 3 for k in range(10, 95))
    # non-DML passes through to spark.sql (catalog views not required)
    assert c.sql(spark, "SELECT 1 AS one").collect()[0].one == 1
    # UPDATE without WHERE is refused loudly
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="UPDATE without WHERE"):
        c.sql(spark, "UPDATE global_temp.orders SET v = 0")


def test_sql_dml_truncate_and_merge(spark, tmp_path, cat):
    c, t = cat
    # source table for the MERGE
    src = ManagedTable.create(spark, tmp_path / "src")
    src.append(
        spark.range(90, 110).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v")
        )
    )
    c.register("global_temp.src", tmp_path / "src")
    res = c.sql(
        spark,
        "MERGE INTO global_temp.orders AS t USING global_temp.src AS s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert res[0].operation == "MERGE"
    assert res[0].rows_affected == 20  # 10 updated (k 90..99) + 10 inserted
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 110
    assert all(got[k] == 7 for k in range(90, 110))
    assert all(got[k] == k % 3 for k in range(0, 90))
    # MERGE with a subquery source
    res = c.sql(
        spark,
        "MERGE INTO global_temp.orders t "
        "USING (SELECT 200 AS k, 9 AS v) s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert res[0].rows_affected == 1
    assert t.count() == 111
    # DELETE without WHERE truncates atomically, schema preserved
    res = c.sql(spark, "DELETE FROM global_temp.orders").collect()
    assert res[0].rows_affected == 111
    assert t.count() == 0
    assert t.read().columns == ["k", "v"]


def test_sql_merge_full_clause_surface(spark, tmp_path, cat):
    """Round-7 item 2 end-to-end: a MERGE with two conditional WHEN
    MATCHED clauses (first-match-wins), INSERT *, and WHEN NOT MATCHED
    BY SOURCE UPDATE/DELETE converges the table in ONE atomic commit."""
    c, t = cat  # orders: k 0..99, v = k % 3
    src = ManagedTable.create(spark, tmp_path / "src2")
    src.append(
        spark.range(95, 105).select(
            F.col("id").alias("k"),
            (F.col("id") % 2 - 1).cast("long").alias("v"),  # odd k → v=0, even → v=-1
        )
    )
    c.register("global_temp.src2", tmp_path / "src2")
    v0 = t.snapshot().version
    res = c.sql(
        spark,
        "MERGE INTO global_temp.orders t USING global_temp.src2 s "
        "ON t.k = s.k "
        "WHEN MATCHED AND s.v < 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v + 10 "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 3 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.v = 2 THEN UPDATE SET v = 99",
    ).collect()
    assert res[0].operation == "MERGE"
    assert t.snapshot().version == v0 + 1  # ONE atomic commit
    got = {r.k: r.v for r in t.read().collect()}
    # matched k 95..99: even k (96, 98) had s.v=-1 → deleted (clause 1
    # fires first); odd k (95, 97, 99) s.v=0 → updated to 10
    assert 96 not in got and 98 not in got
    assert got[95] == 10 and got[97] == 10 and got[99] == 10
    # not matched (k 100..104) inserted with source v
    assert got[100] == -1 and got[101] == 0
    # not matched by source: k 0..2 deleted; remaining v==2 rows → 99
    assert 0 not in got and 1 not in got and 2 not in got
    assert got[5] == 99 and got[8] == 99  # k%3==2, k>=3, unmatched
    assert got[4] == 1 and got[3] == 0    # untouched by every clause
    # 100 start − 2 matched-deleted − 3 by-source-deleted + 5 inserted
    assert len(got) == 100


def test_sql_insert_into(spark, cat):
    """INSERT INTO through the catalog: positional VALUES, a column list
    with typed-null backfill, SELECT sources, and atomic appends. The
    rows land through ManagedTable.append (one commit per statement)."""
    c, t = cat
    base = t.count()
    res = c.sql(
        spark, "INSERT INTO global_temp.orders VALUES (500, 1), (501, 2)"
    ).collect()
    assert [(r.operation, r.rows_affected) for r in res] == [("INSERT", 2)]
    assert t.count() == base + 2
    # column list: omitted columns null-backfill typed
    c.sql(spark, "INSERT INTO global_temp.orders (k) VALUES (502)")
    got = {r.k: r.v for r in t.read(where=[("k", ">=", 500)]).collect()}
    assert got == {500: 1, 501: 2, 502: None}
    # SELECT source, arbitrary Spark SQL
    c.sql(
        spark,
        "INSERT INTO global_temp.orders "
        "SELECT 600 + id AS k, CAST(id AS INT) AS v FROM RANGE(3)",
    )
    assert t.count() == base + 6
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="columns for"):
        c.sql(spark, "INSERT INTO global_temp.orders VALUES (1)")
    with pytest.raises(SqlDmlError, match="unknown columns"):
        c.sql(spark, "INSERT INTO global_temp.orders (zzz) VALUES (1)")
    with pytest.raises(SqlDmlError, match="VALUES or SELECT"):
        c.sql(spark, "INSERT INTO global_temp.orders SET k = 1")


def test_sql_describe_history(spark, cat):
    c, t = cat
    base_head = t._head_version()
    c.sql(spark, "INSERT INTO global_temp.orders VALUES (900, 1)")
    c.sql(spark, "DELETE FROM global_temp.orders WHERE k = 900")
    h = c.sql(spark, "DESCRIBE HISTORY global_temp.orders LIMIT 2").collect()
    assert [r.version for r in h] == [base_head + 2, base_head + 1]
    assert h[0].op == "delete" and h[0].rows_removed == 1
    assert h[1].op == "append" and h[1].rows_added == 1
    full = c.sql(spark, "DESCRIBE HISTORY global_temp.orders").collect()
    assert full[-1].version == 0  # newest-first, down to create
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="positive integer"):
        c.sql(spark, "DESCRIBE HISTORY global_temp.orders LIMIT 0")
    # a plain DESCRIBE passes through to spark.sql untouched
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        c.sql(spark, "DESCRIBE nonexistent_table_zzz")


def test_sql_ops_statements(spark, tmp_path):
    """VACUUM / OPTIMIZE [ZORDER BY] / RESTORE through catalog SQL — the
    warehouse-ops statements — dispatch to the transactional maintenance
    methods; a ZORDER on a RENAMED column stores the physical spec so
    files and stats stay consistent."""
    from data_warehouse_copy_spark.sources.names import NamedCatalog
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    t = ManagedTable.create(spark, tmp_path / "t")
    for i in range(4):
        t.append(
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("cast(id as int) as k", "id % 7 AS v")
            .coalesce(1)
        )
    t.rename_column("k", "key")
    c = NamedCatalog(tmp_path / "cat.json")
    c.register("db.t", str(tmp_path / "t"))
    r = c.sql(spark, "OPTIMIZE db.t ZORDER BY (key, v)").first()
    assert r.operation == "OPTIMIZE" and r.rows_affected == 3  # 4 files -> 1
    assert t.snapshot().cluster_col == ["k", "v"]  # physical spec
    assert c.sql(spark, "OPTIMIZE db.t").first().rows_affected == 0
    c.sql(spark, "DELETE FROM db.t WHERE key < 5")
    head = t._head_version()
    res = c.sql(spark, f"RESTORE db.t TO VERSION AS OF {head - 1}").first()
    assert res.operation == "RESTORE" and t.count() == 40
    n = c.sql(spark, "VACUUM db.t RETAIN 0 HOURS").first().rows_affected
    assert n > 0
    assert t.count() == 40  # live data untouched
    with pytest.raises(SqlDmlError, match="non-negative"):
        c.sql(spark, "VACUUM db.t RETAIN -1 HOURS")
    with pytest.raises(SqlDmlError, match="VERSION AS OF"):
        c.sql(spark, "RESTORE db.t TO VERSION AS OF 'x'")


def test_sql_vacuum_dry_run_and_show_partitions(spark, tmp_path):
    """Round-10 parity ops: VACUUM ... DRY RUN counts removable files
    under the same retention/liveness rules WITHOUT unlinking (the audit
    before destroying time travel), and SHOW PARTITIONS lists partition
    values with live file/row counts straight off the manifest — no
    table scan at any size."""
    from data_warehouse_copy_spark.sources.names import NamedCatalog

    t = ManagedTable.create(spark, tmp_path / "t", partition_date_col="d")
    for day in ("2024-03-01", "2024-03-02"):
        for i in range(3):
            t.append(spark.sql(f"SELECT DATE'{day}' AS d, {i} AS v"))
    c = NamedCatalog(tmp_path / "cat.json")
    c.register("db.t", str(tmp_path / "t"))
    rows = c.sql(spark, "SHOW PARTITIONS db.t").collect()
    assert [(r.partition, r.n_files, r.n_rows) for r in rows] == [
        ("2024-03-01", 3, 3),
        ("2024-03-02", 3, 3),
    ]
    # a delete updates the live counts (here the single-row file drops
    # out entirely: a fully-deleted file leaves no survivor entry)
    assert t.delete([("v", "=", 1), ("d", "=", "2024-03-01")]) == 1
    rows = c.sql(spark, "SHOW PARTITIONS db.t").collect()
    assert [(r.partition, r.n_files, r.n_rows) for r in rows] == [
        ("2024-03-01", 2, 2),
        ("2024-03-02", 3, 3),
    ]
    # make garbage: overwrite one day, so its old files become unreferenced
    t.overwrite_range(
        spark.sql("SELECT DATE'2024-03-02' AS d, 99 AS v"),
        "2024-03-02", "2024-03-02",
    )
    files_before = sorted(
        str(p) for p in (t.root / "data").rglob("*.parquet")
    )
    dry = c.sql(spark, "VACUUM db.t RETAIN 0 HOURS DRY RUN").first()
    assert dry.operation == "VACUUM DRY RUN" and dry.rows_affected > 0
    assert sorted(
        str(p) for p in (t.root / "data").rglob("*.parquet")
    ) == files_before  # dry run deleted NOTHING
    real = c.sql(spark, "VACUUM db.t RETAIN 0 HOURS").first()
    assert real.rows_affected == dry.rows_affected  # audit was exact
    # live data untouched: 2 rows left on day1, 1 overwrite row on day2
    assert t.read().count() == 3
    # dry-run parity on the DISTRIBUTED sweep too
    assert t.vacuum(0, distributed=True, dry_run=True) == 0


def test_sql_describe_detail(spark, tmp_path):
    from data_warehouse_copy_spark.sources.names import NamedCatalog

    t = ManagedTable.create(spark, tmp_path / "t", cluster_col="k")
    t.append(spark.range(100).selectExpr("cast(id as int) as k", "id * 1.0 AS v"))
    t.rename_column("v", "val")
    t.add_constraint("v_nn", "val >= 0")
    c = NamedCatalog(tmp_path / "cat.json")
    c.register("db.t", str(tmp_path / "t"))
    r = c.sql(spark, "DESCRIBE DETAIL db.t").first()
    assert r.version == 3 and r.total_rows == 100 and r.num_columns == 2
    assert r.clustering == '"k"' and r.column_mapping is True
    assert "v_nn" in (r.constraints or "")
    assert r.num_files >= 1
    assert r.auto_compact is None  # policy off by default
    t.set_auto_compact(max_files_per_partition=7)
    r = c.sql(spark, "DESCRIBE DETAIL db.t").first()
    assert "max_files_per_partition" in (r.auto_compact or "")
    assert '"max_files_per_partition": 7' in r.auto_compact
    # round-11 metadata columns: comment / generated / retention / floor
    assert r.comment is None and r.generated_columns is None
    assert r.log_retention_hours is None and r.log_floor_version == 0
    t.set_table_comment("detail test")
    t.set_log_retention(720)
    r = c.sql(spark, "DESCRIBE DETAIL db.t").first()
    assert r.comment == "detail test"
    assert r.log_retention_hours == 720.0


def test_sql_show_tables(spark, tmp_path):
    from data_warehouse_copy_spark.sources.names import NamedCatalog

    for nm in ("a", "b"):
        t = ManagedTable.create(spark, tmp_path / nm)
        t.append(spark.range(3).selectExpr("id AS k"))
    c = NamedCatalog(tmp_path / "cat.json")
    c.register("db.a", str(tmp_path / "a"))
    c.register("db.b", str(tmp_path / "b"))
    rows = c.sql(spark, "SHOW TABLES").collect()
    assert [(r.name, r.location) for r in rows] == [
        ("db.a", str(tmp_path / "a")),
        ("db.b", str(tmp_path / "b")),
    ]


def test_sql_time_travel_select(spark, tmp_path, cat):
    """SELECT ... VERSION AS OF / TIMESTAMP AS OF through the catalog:
    pure SQL reads a pre-DML snapshot (round-7 item 6)."""
    c, t = cat  # v1: k 0..99
    c.sql(spark, "DELETE FROM global_temp.orders WHERE k < 50")  # v2
    assert t.count() == 50
    # the head's SQL view is unchanged; the travel reads v1
    rows = c.sql(
        spark,
        "SELECT count(*) AS n FROM global_temp.orders VERSION AS OF 1",
    ).collect()
    assert rows[0].n == 100
    # two travels in one query coexist (fresh pinned views per reference)
    rows = c.sql(
        spark,
        "SELECT a.n - b.n AS deleted FROM "
        "(SELECT count(*) AS n FROM global_temp.orders VERSION AS OF 1) a, "
        "(SELECT count(*) AS n FROM global_temp.orders VERSION AS OF 2) b",
    ).collect()
    assert rows[0].deleted == 50
    # timestamp travel: the v1 commit's ets reads the full table
    hist = t.history()
    ts1 = next(ci.ts for ci in hist if ci.version == 1)
    rows = c.sql(
        spark,
        f"SELECT count(*) AS n FROM global_temp.orders "
        f"TIMESTAMP AS OF '{ts1}'",
    ).collect()
    assert rows[0].n == 100
    # unregistered names pass through untouched (Spark raises its own)
    with pytest.raises(Exception):
        c.sql(spark, "SELECT * FROM nosuch.tbl VERSION AS OF 1").collect()
    # string literals are never rewritten
    got = c.sql(
        spark,
        "SELECT 'global_temp.orders VERSION AS OF 1' AS s",
    ).collect()
    assert got[0].s == "global_temp.orders VERSION AS OF 1"


def test_sql_merge_with_time_travel_source(spark, tmp_path, cat):
    """MERGE USING db.t VERSION AS OF n — re-insert rows a DELETE
    removed, sourcing them from the table's own history."""
    c, t = cat
    c.sql(spark, "DELETE FROM global_temp.orders WHERE k >= 90")
    assert t.count() == 90
    res = c.sql(
        spark,
        "MERGE INTO global_temp.orders t "
        "USING global_temp.orders VERSION AS OF 1 s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()
    assert res[0].rows_affected == 10
    assert t.count() == 100


def test_sql_tblproperties_auto_compact(spark, tmp_path, cat):
    """ALTER TABLE ... SET/UNSET TBLPROPERTIES drives the auto-compaction
    policy through pure SQL (the Delta autoOptimize shape); unknown keys
    raise instead of being recorded-and-ignored."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c, t = cat
    r = c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition' = '3')",
    ).first()
    assert r.operation == "ALTER SET_PROPERTIES"
    assert t.auto_compact_policy() == {
        "max_files_per_partition": 3,
        "max_merge_files": 128,
        "max_file_bytes": 128 << 20,
    }
    # the policy is live: a burst of single-row appends stays bounded
    for i in range(8):
        t.append(spark.createDataFrame([(1000 + i, 0)], "k long, v long"))
    assert len(t.snapshot().files) <= 4 + 1  # base file + bounded burst
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders UNSET TBLPROPERTIES ('autoCompact')",
    )
    assert t.auto_compact_policy() is None
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact' = 'true')",
    )
    assert t.auto_compact_policy()["max_files_per_partition"] == 16
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact' = 'false')",
    )
    assert t.auto_compact_policy() is None
    with pytest.raises(SqlDmlError, match="unsupported table property"):
        c.sql(
            spark,
            "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
            "('delta.someKnob' = '1')",
        )
    with pytest.raises(SqlDmlError, match="integer"):
        c.sql(
            spark,
            "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
            "('autoCompact.maxFilesPerPartition' = 'lots')",
        )


def test_sql_tblproperties_merge_is_order_free(spark, tmp_path, cat):
    """Round-9 (advisor finding): all keys of one SET/UNSET statement
    merge into ONE policy update, so results cannot depend on dict
    order — the old per-key loop let a later 'autoCompact'='true'
    silently reset a knob set earlier in the same statement."""
    c, t = cat
    # the exact breaking order: knob first, enable after
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition' = '8', "
        "'autoCompact' = 'true')",
    )
    p = t.auto_compact_policy()
    assert p["max_files_per_partition"] == 8  # knob survived the enable
    # UNSET of just the knob resets it to default; the policy STAYS on
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders UNSET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition')",
    )
    p = t.auto_compact_policy()
    assert p is not None and p["max_files_per_partition"] == 16
    # a later SET of another knob preserves previously-set ones
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition' = '5')",
    )
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFileBytes' = '1048576')",
    )
    p = t.auto_compact_policy()
    assert p["max_files_per_partition"] == 5
    assert p["max_file_bytes"] == 1048576
    # disable wins over any knob in the same statement, in either order
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition' = '9', "
        "'autoCompact' = 'false')",
    )
    assert t.auto_compact_policy() is None
    # UNSET of a knob while disabled stays a no-op (never resurrects)
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders UNSET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition')",
    )
    assert t.auto_compact_policy() is None


def test_sql_time_travel_views_are_reused_not_leaked(spark, tmp_path, cat):
    """Round-9 (advisor finding): repeated AS OF queries re-point ONE
    deterministic temp view per (table, pin) instead of registering a
    fresh uuid view per statement — a long-lived audit session no
    longer accumulates unbounded temp views."""
    c, t = cat
    before = {
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("dwcs_tt_")
    }
    for _ in range(4):
        c.sql(
            spark,
            "SELECT COUNT(*) AS n FROM global_temp.orders VERSION AS OF 1",
        ).collect()
    after = {
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("dwcs_tt_")
    }
    assert len(after - before) == 1  # one pin -> one view, reused
    # distinct pins still coexist (two travels in one statement)
    t.append(spark.range(100, 120).selectExpr("id AS k", "id % 3 AS v"))
    c.sql(
        spark,
        "SELECT (SELECT COUNT(*) FROM global_temp.orders VERSION AS OF 1)"
        " - (SELECT COUNT(*) FROM global_temp.orders VERSION AS OF 2)"
        " AS d",
    ).collect()
    after2 = {
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("dwcs_tt_")
    }
    assert len(after2 - before) == 2


def test_sql_create_drop_table_and_insert_overwrite(spark, tmp_path, cat):
    """CREATE TABLE / DROP TABLE / INSERT OVERWRITE through the catalog:
    the full table lifecycle in pure SQL (round-8 forward surface)."""
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    c, _t = cat
    r = c.sql(
        spark,
        "CREATE TABLE global_temp.facts "
        "(d date, k bigint, v double) USING managed_table "
        f"LOCATION '{tmp_path}/facts' "
        "PARTITIONED BY (d) CLUSTERED BY (k)",
    ).first()
    assert r.operation == "CREATE TABLE"
    nt = ManagedTable(spark, tmp_path / "facts")
    assert nt.exists()
    m = nt.snapshot()
    assert m.partition_date_col == "d" and m.cluster_col == "k"
    assert nt.read().columns == ["d", "k", "v"]  # declared schema pinned
    # the created table takes DML immediately (schema exists pre-data)
    c.sql(
        spark,
        "INSERT INTO global_temp.facts VALUES "
        "(DATE'2024-01-01', 1, 1.5), (DATE'2024-01-02', 2, 2.5)",
    )
    assert nt.count() == 2
    assert {f.partition for f in nt.snapshot().files} == {
        "2024-01-01", "2024-01-02"
    }
    # INSERT OVERWRITE = atomic truncate-and-load
    r = c.sql(
        spark,
        "INSERT OVERWRITE global_temp.facts VALUES "
        "(DATE'2024-02-01', 9, 9.0)",
    ).first()
    assert r.operation == "INSERT OVERWRITE"
    assert nt.count() == 1
    # guards: double-create and unknown partition column reject loudly
    with pytest.raises(SqlDmlError, match="already exists"):
        c.sql(
            spark,
            "CREATE TABLE global_temp.facts (x int) USING managed_table",
        )
    with pytest.raises(SqlDmlError, match="not declared"):
        c.sql(
            spark,
            "CREATE TABLE global_temp.f2 (x int) USING managed_table "
            f"LOCATION '{tmp_path}/f2' PARTITIONED BY (zz)",
        )
    # DROP TABLE drops the NAME; the data stays (external semantics)
    c.sql(spark, "DROP TABLE global_temp.facts")
    assert "global_temp.facts" not in c.names()
    assert nt.read().count() == 1
    # default LOCATION derives from the catalog directory
    c.sql(spark, "CREATE TABLE global_temp.dflt (a int) USING managed_table")
    assert ManagedTable(
        spark, c.path.parent / "global_temp.dflt"
    ).exists()
    c.sql(spark, "DROP TABLE global_temp.dflt")


def test_sql_create_table_foreign_forms_pass_through(spark, cat):
    """CREATE TABLE shapes that are NOT ours (other providers, CTAS,
    non-dotted names) reach spark.sql untouched — declining is the
    misparse-safe direction for DDL."""
    from data_warehouse_copy_spark.sources.sql_dml import parse_dml

    assert parse_dml("CREATE TABLE x (a INT) USING parquet") is None
    assert parse_dml(
        "CREATE TABLE db.t (a INT, b DOUBLE) USING parquet"
    ) is None
    assert parse_dml("CREATE TABLE db.t AS SELECT 1 AS a") is None
    assert parse_dml(
        "CREATE TABLE db.t (a DECIMAL(10,2)) USING managed_table"
    ) is None  # non-scalar type: Spark's own DDL, never a misparse
    # and a real pass-through executes through spark.sql
    c, _t = cat
    got = c.sql(
        spark, "CREATE OR REPLACE TEMPORARY VIEW ptv AS SELECT 7 AS x"
    )
    assert spark.table("ptv").first().x == 7


def test_sql_ctas_managed_table(spark, tmp_path, cat):
    """Round-9 (verdict item 4): ``CREATE TABLE db.t USING managed_table
    AS SELECT ...`` evaluates the query tail via spark.sql and lands it
    as one atomic append — a warehouse user's second DDL statement."""
    c, t = cat
    c.attach(spark)  # the CTAS tail resolves names through spark.sql
    r = c.sql(
        spark,
        f"CREATE TABLE global_temp.big USING managed_table LOCATION "
        f"'{tmp_path}/big' AS SELECT k, v * 10 AS v10 "
        f"FROM global_temp.orders WHERE k < 40",
    ).first()
    assert r.operation == "CREATE TABLE AS SELECT"
    assert r.rows_affected == 40
    got = c.table(spark, "global_temp.big")
    assert got.count() == 40
    assert got.agg(F.sum("v10").alias("s")).first().s == sum(
        (k % 3) * 10 for k in range(40)
    )
    # CLUSTERED BY from the existing grammar works on the CTAS form
    c.sql(
        spark,
        f"CREATE TABLE global_temp.clus USING managed_table LOCATION "
        f"'{tmp_path}/clus' CLUSTERED BY (k) AS SELECT k, v "
        f"FROM global_temp.orders",
    )
    assert ManagedTable(spark, tmp_path / "clus").snapshot().cluster_col == "k"
    # existing-name guard
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="already exists"):
        c.sql(
            spark,
            f"CREATE TABLE global_temp.big USING managed_table LOCATION "
            f"'{tmp_path}/big2' AS SELECT 1 AS x",
        )
    # a failing query never creates/registers anything
    with pytest.raises(Exception):
        c.sql(
            spark,
            f"CREATE TABLE global_temp.broken USING managed_table LOCATION "
            f"'{tmp_path}/broken' AS SELECT no_such_col FROM "
            f"global_temp.orders",
        )
    assert "global_temp.broken" not in set(c.names())
    import os

    assert not os.path.exists(tmp_path / "broken")


def test_sql_optimize_where_scopes_partitions(spark, tmp_path, cat):
    """Round-10: OPTIMIZE ... WHERE <partition predicate> rewrites ONLY
    the matching partitions (Delta shape) — at 100 TB you fix the hot
    ingest day, never the table. Predicates off the partition column
    are rejected loudly."""
    c, _t = cat
    p = ManagedTable.create(spark, tmp_path / "p", partition_date_col="d")
    for day in ("2024-01-01", "2024-01-02"):
        for i in range(4):  # both days crowded
            p.append(spark.sql(f"SELECT DATE'{day}' AS d, {i} AS v"))
    c.register("global_temp.p", tmp_path / "p")
    per_before = {}
    for f in p.snapshot().files:
        per_before[f.partition] = per_before.get(f.partition, 0) + 1
    assert per_before == {"2024-01-01": 4, "2024-01-02": 4}
    r = c.sql(
        spark,
        "OPTIMIZE global_temp.p WHERE d = '2024-01-01'",
    ).first()
    assert r.operation == "OPTIMIZE" and r.rows_affected == 3
    per = {}
    for f in p.snapshot().files:
        per[f.partition] = per.get(f.partition, 0) + 1
    assert per == {"2024-01-01": 1, "2024-01-02": 4}  # scope held
    assert p.read().count() == 8
    # range predicates compose; untouched scope is a clean no-op
    r = c.sql(
        spark,
        "OPTIMIZE global_temp.p WHERE d >= '2024-01-02' AND d <= '2024-01-02'",
    ).first()
    assert r.rows_affected == 3
    assert len(p.snapshot().files) == 2
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(SqlDmlError, match="partition column"):
        c.sql(spark, "OPTIMIZE global_temp.p WHERE v = 1")
    with pytest.raises(SqlDmlError, match="day-partitioned"):
        c.sql(spark, "OPTIMIZE global_temp.orders WHERE d = '2024-01-01'")
    # WHERE + ZORDER BY: only a restatement of the current clustering
    z = ManagedTable.create(
        spark, tmp_path / "z", partition_date_col="d", cluster_col=["x", "y"]
    )
    for i in range(4):
        z.append(
            spark.sql(f"SELECT DATE'2024-01-01' AS d, {i} AS x, {i*7} AS y")
        )
    c.register("global_temp.z", tmp_path / "z")
    r = c.sql(
        spark,
        "OPTIMIZE global_temp.z WHERE d = '2024-01-01' ZORDER BY (x, y)",
    ).first()
    assert r.rows_affected == 3
    assert z.read().count() == 4
    with pytest.raises(SqlDmlError, match="restate"):
        c.sql(
            spark,
            "OPTIMIZE global_temp.z WHERE d = '2024-01-01' ZORDER BY (y)",
        )


def test_sql_convert_to_managed_table(spark, tmp_path, cat):
    """Round-10: CONVERT TO MANAGED_TABLE '<path>' adopts a flat parquet
    directory IN PLACE — no data copy; footer stats harvested so file
    skipping works from the first read; CDC delivers the adopted rows
    as opening inserts; hive layouts and mixed schemas are rejected
    loudly (reads would corrupt/confuse them silently)."""
    c, _t = cat
    dump = tmp_path / "dump"
    spark.range(1000).selectExpr("id AS k", "id * 2 AS v")\
        .repartitionByRange(4, "k").write.parquet(str(dump))
    n_parquet = len(list(dump.glob("*.parquet")))
    assert n_parquet >= 2
    r = c.sql(
        spark,
        f"CONVERT TO MANAGED_TABLE '{dump}' AS global_temp.conv",
    ).first()
    assert r.operation == "CONVERT TO MANAGED_TABLE"
    assert r.rows_affected == 1000
    t = ManagedTable(spark, dump)
    assert t.exists()
    got = c.table(spark, "global_temp.conv")
    assert got.count() == 1000
    assert sorted(r.k for r in got.collect()) == list(range(1000))
    # the ADOPTED files are the table's files — no copy happened
    assert {f.path for f in t.snapshot().files} == {
        p.name for p in dump.glob("*.parquet")
    }
    # footer stats drive file skipping from the first read
    sel = t.read(where=[("k", "=", 7)])
    assert len(sel.inputFiles()) < n_parquet
    assert sel.count() == 1
    # CDC: adopted rows are the opening inserts (op 'convert' delivers)
    deltas = t.commit_deltas(0)
    assert [op for _v, op, _a, _r in deltas] == ["convert"]
    assert sum(e["rows"] for _v, _op, adds, _r in deltas for e in adds) == 1000
    # and the table keeps working as a normal managed table
    assert t.append(spark.createDataFrame([(5000, 1)], "k long, v long")) == 1
    assert t.count() == 1001
    from data_warehouse_copy_spark.sources.sql_dml import SqlDmlError

    with pytest.raises(ValueError, match="already a managed table"):
        ManagedTable.convert_in_place(spark, dump)
    # hive layout: loud rejection (partition col lives in dir names)
    hive = tmp_path / "hive"
    spark.range(10).selectExpr("id AS k", "id % 2 AS part")\
        .write.partitionBy("part").parquet(str(hive))
    with pytest.raises(ValueError, match="hive-partitioned"):
        ManagedTable.convert_in_place(spark, hive)
    # mixed schemas: loud rejection naming the offender
    mixed = tmp_path / "mixed"
    spark.range(5).selectExpr("id AS k").coalesce(1)\
        .write.parquet(str(mixed / "a"))
    spark.range(5).selectExpr("id AS other", "id AS extra").coalesce(1)\
        .write.parquet(str(mixed / "b"))
    with pytest.raises(ValueError, match="schema mismatch"):
        ManagedTable.convert_in_place(spark, mixed)
    with pytest.raises(ValueError, match="no parquet files"):
        ManagedTable.convert_in_place(spark, tmp_path / "empty_nowhere")
    with pytest.raises(SqlDmlError, match="MANAGED_TABLE"):
        c.sql(spark, f"CONVERT TO MANAGED_TABLE {dump}")  # unquoted path


def test_sql_ctas_failure_preserves_preexisting_subdirs(spark, tmp_path, cat):
    """Round-10 advice fix: a failed CTAS onto a PRE-EXISTING location
    removes only the subdirs this statement created — user content that
    already lived in e.g. ``data/`` (the dir is not a managed table, so
    the exists() guard passes) must survive the cleanup."""
    c, _t = cat
    root = tmp_path / "pre"
    (root / "data").mkdir(parents=True)
    (root / "data" / "keep.txt").write_text("user content")
    with pytest.raises(Exception):
        c.sql(
            spark,
            f"CREATE TABLE global_temp.pre USING managed_table LOCATION "
            f"'{root}' AS SELECT raise_error('boom') AS x",
        )
    assert (root / "data" / "keep.txt").read_text() == "user content"
    assert not (root / "_log").exists()  # created by the statement: gone
    assert "global_temp.pre" not in set(c.names())
    # and the location is reusable afterward
    r = c.sql(
        spark,
        f"CREATE TABLE global_temp.pre USING managed_table LOCATION "
        f"'{root}' AS SELECT 1 AS x",
    ).first()
    assert r.rows_affected == 1
    assert (root / "data" / "keep.txt").exists()


def test_sql_ctas_foreign_provider_passes_through(spark, tmp_path, cat):
    """CTAS without USING managed_table (or with another provider) stays
    Spark's own DDL — the parser declines, Spark handles/rejects it."""
    from data_warehouse_copy_spark.sources.sql_dml import parse_dml

    assert parse_dml(
        "CREATE TABLE db.t AS SELECT 1 AS x"
    ) is None  # default provider: not ours
    assert parse_dml(
        "CREATE TABLE db.t USING parquet AS SELECT 1 AS x"
    ) is None
    st = parse_dml(
        "CREATE TABLE db.t USING managed_table AS SELECT 1 AS x"
    )
    assert st is not None and st.ctas_query == "SELECT 1 AS x"
    # column list + AS = Spark's schema-and-query form: pass through
    assert parse_dml(
        "CREATE TABLE db.t (a int) USING managed_table AS SELECT 1"
    ) is None


def test_sql_show_tblproperties(spark, tmp_path, cat):
    """SHOW TBLPROPERTIES completes the property surface: SET is
    readable back in pure SQL as (key, value) rows; an unset table
    shows an empty result, never an error."""
    c, t = cat
    assert c.sql(spark, "SHOW TBLPROPERTIES global_temp.orders").count() == 0
    c.sql(
        spark,
        "ALTER TABLE global_temp.orders SET TBLPROPERTIES "
        "('autoCompact.maxFilesPerPartition' = '6')",
    )
    got = {
        r.key: r.value
        for r in c.sql(spark, "SHOW TBLPROPERTIES global_temp.orders").collect()
    }
    assert got["autoCompact"] == "true"
    assert got["autoCompact.maxFilesPerPartition"] == "6"
    assert got["autoCompact.maxFileBytes"] == str(128 << 20)
    # round-10 advice fix: the full knob surface round-trips — a policy
    # set via Python with a non-default max_merge_files is visible
    assert got["autoCompact.maxMergeFiles"] == "128"
    t.set_auto_compact(max_merge_files=9)
    got = {
        r.key: r.value
        for r in c.sql(spark, "SHOW TBLPROPERTIES global_temp.orders").collect()
    }
    assert got["autoCompact.maxMergeFiles"] == "9"


def test_sql_merge_insert_columns_values(spark, tmp_path, cat):
    """MERGE's WHEN NOT MATCHED surface beyond INSERT * (round-9):
    INSERT (cols) VALUES (exprs) with expressions over the source,
    typed-NULL backfill for unassigned columns, conditional insert
    clauses first-match-wins."""
    c, t = cat  # orders: k long, v long (k = 0..99)
    src = ManagedTable.create(spark, tmp_path / "src")
    src.append(
        spark.createDataFrame(
            [(98, 5), (200, 7), (300, -1)], "k long, delta long"
        )
    )
    c.register("global_temp.src", tmp_path / "src")
    r = c.sql(
        spark,
        "MERGE INTO global_temp.orders t USING global_temp.src s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.delta "
        "WHEN NOT MATCHED AND s.delta > 0 THEN "
        "INSERT (k, v) VALUES (s.k, s.delta * 10) "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
    ).first()
    assert r.rows_affected == 3  # 1 update + 2 inserts
    rows = {x.k: x.v for x in t.read().collect()}
    assert rows[98] == (98 % 3) + 5   # matched: updated
    assert rows[200] == 70            # conditional insert expression
    assert rows[300] is None          # fallback clause: v typed-NULL
    assert len(rows) == 102
    # python API: clause-list form, unconditional-last enforced
    with pytest.raises(ValueError, match="unconditional"):
        t.merge(
            src.read(),
            on="k",
            when_not_matched_insert=[
                {"condition": None, "insert": "*"},
                {"condition": "s.delta > 0", "insert": "*"},
            ],
        )
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge(
            src.read(),
            on="k",
            when_not_matched_insert=[
                {"condition": None, "insert": {"nope": "s.k"}}
            ],
        )


def test_sql_create_if_not_exists_and_drop_if_exists(spark, tmp_path, cat):
    """The guard-friendly DDL forms every deployment script uses:
    CREATE TABLE IF NOT EXISTS no-ops (never errors, never clobbers)
    when the name is registered; DROP TABLE IF EXISTS no-ops on an
    unregistered name."""
    c, t = cat
    # no-op create against the existing name: data untouched
    r = c.sql(
        spark,
        "CREATE TABLE IF NOT EXISTS global_temp.orders "
        "(x int) USING managed_table",
    ).first()
    assert r.operation == "CREATE TABLE" and r.rows_affected == 0
    assert t.count() == 100  # untouched
    # fresh name still creates
    c.sql(
        spark,
        f"CREATE TABLE IF NOT EXISTS global_temp.fresh (x int) "
        f"USING managed_table LOCATION '{tmp_path}/fresh'",
    )
    assert "global_temp.fresh" in set(c.names())
    # drop-if-exists: present drops, absent no-ops
    assert c.sql(
        spark, "DROP TABLE IF EXISTS global_temp.fresh"
    ).first().operation == "DROP TABLE"
    assert "global_temp.fresh" not in set(c.names())
    assert c.sql(
        spark, "DROP TABLE IF EXISTS global_temp.fresh"
    ).first().rows_affected == 0
    # plain DROP of a missing name still errors
    with pytest.raises(KeyError):
        c.sql(spark, "DROP TABLE global_temp.fresh")


def test_catalog_mutations_survive_cross_process_storm(tmp_path):
    """Round-14 (advice fix): every catalog RMW runs under a sidecar
    flock, so concurrent mutations in SEPARATE PROCESSES neither lose
    each other (the whole-doc os.replace races otherwise) nor regress
    the matview cursor max(). 6 workers x 20 view registrations + 20
    cursor advances each — all 120 views survive, cursor == global
    max."""
    import subprocess
    import sys as _sys

    cat_file = tmp_path / "cat.json"
    cat = NamedCatalog(cat_file)
    cat.register_matview(
        "global_temp.mv",
        {"base": "global_temp.raw", "sql": "SELECT 1", "cursor": 0,
         "location": str(tmp_path / "mv"), "ts_col": "ts"},
    )
    script = (
        "import sys\n"
        "from data_warehouse_copy_spark.sources.names import NamedCatalog\n"
        "cat = NamedCatalog(sys.argv[1]); w = int(sys.argv[2])\n"
        "for i in range(20):\n"
        "    cat.register_view(f'global_temp.v{w}_{i}', 'SELECT 1', [])\n"
        "    cat.set_matview_cursor('global_temp.mv', w * 100 + i)\n"
    )
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", script, str(cat_file), str(w)],
            cwd=str(Path(__file__).resolve().parents[1]),
        )
        for w in range(6)
    ]
    for p in procs:
        assert p.wait(timeout=120) == 0
    views = set(cat.view_names())
    missing = [
        f"global_temp.v{w}_{i}"
        for w in range(6)
        for i in range(20)
        if f"global_temp.v{w}_{i}" not in views
    ]
    assert not missing, f"lost {len(missing)} registrations: {missing[:5]}"
    assert int(cat.matview("global_temp.mv")["cursor"]) == 5 * 100 + 19
