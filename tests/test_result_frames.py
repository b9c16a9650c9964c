"""Frames the engine builds on the driver keep their schema and rows as
JVM local relations: every SQL statement result (SHOW / DESCRIBE /
REFRESH) and ``manifest_df()`` / ``files_df()`` match the field-by-field
schema (names, types, nullability, array element types) they had as
Python-list frames, with rows and with none, and their actions start no
Python worker. An AST check keeps new Python-list ``createDataFrame``
calls out of ``sources/``."""

from __future__ import annotations

import ast
import datetime
import json
from pathlib import Path

import pytest
from pyspark.sql import types as T

from data_warehouse_copy_spark.sources.managed_table import (
    ManagedTable,
    _local_frame,
)
from data_warehouse_copy_spark.sources.names import NamedCatalog

SOURCES = (
    Path(__file__).resolve().parents[1] / "data_warehouse_copy_spark" / "sources"
)

STR, LONG, BOOL = T.StringType(), T.LongType(), T.BooleanType()
STRS = T.ArrayType(T.StringType())


def _schema(*fields) -> T.StructType:
    return T.StructType(
        [T.StructField(n, t, (rest or (False,))[0]) for n, t, *rest in fields]
    )


CREATE_STMT = _schema(("createtab_stmt", STR))
KEY_VALUE = _schema(("key", STR), ("value", STR))
REFRESH_MV = _schema(
    ("operation", STR), ("cursor", LONG), ("refreshed_days", STRS),
    ("rows_deleted", LONG), ("rows_inserted", LONG),
)
SHOW_MVS = _schema(
    ("name", STR), ("base", STR), ("cursor", LONG), ("base_head", LONG),
    ("pending_days", STRS),
)
DETAIL_MV = _schema(
    ("name", STR), ("type", STR), ("view_sql", STR), ("base", STR),
    ("location", STR), ("cursor", LONG), ("base_head", LONG),
    ("pending_days", STRS), ("stale", BOOL),
)
SHOW_VIEWS = _schema(("name", STR), ("view_sql", STR))
DETAIL_VIEW = _schema(
    ("name", STR), ("type", STR), ("view_sql", STR),
    ("base_references", STRS),
)
SHOW_TABLES = _schema(("name", STR), ("location", STR))
SHOW_COLUMNS = _schema(("col_name", STR))
COLUMN_STATS = _schema(("info_name", STR), ("info_value", STR))
DETAIL = _schema(
    ("location", STR), ("version", LONG), ("num_files", LONG),
    ("total_rows", LONG), ("num_columns", LONG),
    ("partition_column", STR, True), ("clustering", STR, True),
    ("bloom_columns", STR, True), ("column_mapping", BOOL),
    ("constraints", STR, True), ("auto_compact", STR, True),
    ("comment", STR, True), ("generated_columns", STR, True),
    ("log_retention_hours", T.DoubleType(), True),
    ("log_floor_version", LONG),
)
HISTORY = _schema(
    ("version", LONG), ("op", STR), ("ts", STR), ("n_files", LONG),
    ("total_rows", LONG), ("rows_added", LONG), ("rows_removed", LONG),
)
MANIFEST = _schema(
    ("path", STR, True), ("partition", STR, True), ("rows", LONG, True),
    ("stats_json", STR, True), ("dv_paths", STRS, True),
    ("dv_rows", LONG, True), ("bloom_path", STR, True),
)
FILES = _schema(
    ("path", STR, True), ("partition", STR, True), ("rows", LONG, True),
    ("stats_json", STR, True), ("dv_rows", LONG, True),
    ("bloom_path", STR, True),
)


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _check(df, schema: T.StructType) -> list[tuple]:
    """``df``'s Python-side and JVM-side schemas both equal ``schema``
    field by field, its plan runs no Python worker; returns its rows."""
    assert "PythonRDD" not in _lineage(df)
    want = [f.jsonValue() for f in schema.fields]
    jvm = T.StructType.fromJson(json.loads(df._jdf.schema().json()))
    assert [f.jsonValue() for f in df.schema.fields] == want
    assert [f.jsonValue() for f in jvm.fields] == want
    return [tuple(r) for r in df.collect()]


def _manifest_rows(t) -> list[tuple]:
    return sorted(
        (
            f.path, f.partition, f.rows,
            json.dumps(f.stats) if f.stats else None,
            list(f.dv_paths), f.dv_rows, f.bloom_path,
        )
        for f in t.snapshot().files
    )


@pytest.mark.parametrize(
    "schema",
    [
        CREATE_STMT, KEY_VALUE, REFRESH_MV, SHOW_MVS, DETAIL_MV, SHOW_VIEWS,
        DETAIL_VIEW, SHOW_TABLES, SHOW_COLUMNS, COLUMN_STATS, DETAIL,
        HISTORY, MANIFEST, FILES,
    ],
)
def test_zero_row_local_frame_keeps_schema(spark, schema):
    assert _check(_local_frame(spark, [], schema), schema) == []


def test_local_frame_reads_values_as_the_list_path(spark):
    """Dates, naive timestamps, decimals, nested and NULL values come back
    exactly as a Python-list frame of the same schema returns them."""
    import decimal

    schema = T.StructType.fromDDL(
        "d date, ts timestamp, ntz timestamp_ntz, amount decimal(10,2), "
        "tags array<string>, kv map<string,bigint>, "
        "pt struct<x: int, y: string>, raw binary"
    )
    rows = [
        (
            datetime.date(1995, 3, 1),
            datetime.datetime(1995, 3, 1, 23, 59, 59, 997000),
            datetime.datetime(2024, 3, 1, 12),
            decimal.Decimal("12.34"),
            ["a", None], {"k": 1}, (1, "p"), bytearray(b"\x00\x01"),
        ),
        (None,) * 8,
    ]
    local = _local_frame(spark, rows, schema)
    assert _check(local, schema) == [
        tuple(r) for r in spark.createDataFrame(rows, schema).collect()
    ]


def test_empty_results_keep_schema(spark, tmp_path):
    c = NamedCatalog(tmp_path / "catalog.json")
    assert _check(c.sql(spark, "SHOW TABLES"), SHOW_TABLES) == []
    assert _check(c.sql(spark, "SHOW VIEWS"), SHOW_VIEWS) == []
    assert _check(c.sql(spark, "SHOW MATERIALIZED VIEWS"), SHOW_MVS) == []
    t = ManagedTable.create(spark, tmp_path / "t")
    c.register("db.t", tmp_path / "t")
    assert _check(c.sql(spark, "SHOW TBLPROPERTIES db.t"), KEY_VALUE) == []
    assert _check(c.sql(spark, "SHOW COLUMNS IN db.t"), SHOW_COLUMNS) == []
    assert _check(t.manifest_df(), MANIFEST) == []
    assert _check(t.files_df(), FILES) == []


def test_table_results_keep_schema_and_rows(spark, tmp_path):
    c = NamedCatalog(tmp_path / "catalog.json")
    t = ManagedTable.create(spark, tmp_path / "t")
    for lo in (0, 20):
        t.append(
            spark.range(lo, lo + 20)
            .selectExpr("id AS k", "id % 3 AS v")
            .coalesce(1)
        )
    c.register("db.t", tmp_path / "t")
    c.sql(spark, "DELETE FROM db.t WHERE k < 5")
    t.set_log_retention(48)

    assert _check(c.sql(spark, "SHOW TABLES"), SHOW_TABLES) == [
        ("db.t", str(c.root_of("db.t")))
    ]
    assert _check(c.sql(spark, "SHOW COLUMNS IN db.t"), SHOW_COLUMNS) == [
        ("k",), ("v",)
    ]
    assert _check(c.sql(spark, "SHOW TBLPROPERTIES db.t"), KEY_VALUE) == [
        ("logRetention.hours", "48")
    ]
    [(stmt,)] = _check(c.sql(spark, "SHOW CREATE TABLE db.t"), CREATE_STMT)
    assert stmt.startswith("CREATE TABLE db.t")
    assert _check(c.sql(spark, "DESCRIBE DETAIL db.t"), DETAIL) == [
        (
            str(t.root), t._head_version(), 2, 35, 2, None, None, None,
            False, None, None, None, None, 48.0, t.log_floor(),
        )
    ]
    assert _check(c.sql(spark, "DESCRIBE HISTORY db.t"), HISTORY) == [
        tuple(ci.__dict__.values()) for ci in reversed(t.history())
    ]
    c.sql(spark, "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS k")
    stats = _check(c.sql(spark, "DESCRIBE EXTENDED db.t k"), COLUMN_STATS)
    assert stats[:5] == [
        ("col_name", "k"), ("row_count", "35"), ("null_count", "0"),
        ("distinct_count_est", "35"), ("min", "5"),
    ]
    manifest = _check(t.manifest_df(), MANIFEST)
    assert sorted(manifest) == _manifest_rows(t)
    assert any(r[4] for r in manifest)  # the DELETE's DV path is listed
    assert sorted(_check(t.files_df(), FILES)) == [
        r[:4] + r[5:] for r in _manifest_rows(t)
    ]


def test_view_and_matview_results_keep_schema_and_rows(spark, tmp_path):
    raw = ManagedTable.create(spark, tmp_path / "raw")
    raw.append(
        spark.createDataFrame(
            [
                (datetime.datetime(2024, 3, 1, h), "click", float(h))
                for h in range(4)
            ],
            "ts timestamp_ntz, event_type string, value double",
        ).coalesce(1)
    )
    c = NamedCatalog(tmp_path / "catalog.json")
    c.register("global_temp.rf_raw", tmp_path / "raw")
    c.attach(spark)
    try:
        c.sql(
            spark,
            "CREATE VIEW global_temp.rf_v AS "
            "SELECT event_type FROM global_temp.rf_raw",
        )
        view_sql = c.view_sql("global_temp.rf_v")
        assert _check(c.sql(spark, "SHOW VIEWS"), SHOW_VIEWS) == [
            ("global_temp.rf_v", view_sql)
        ]
        assert _check(
            c.sql(spark, "DESCRIBE DETAIL global_temp.rf_v"), DETAIL_VIEW
        ) == [("global_temp.rf_v", "VIEW", view_sql, ["global_temp.rf_raw"])]
        assert _check(
            c.sql(spark, "SHOW TBLPROPERTIES global_temp.rf_v"), KEY_VALUE
        ) == []
        assert _check(
            c.sql(spark, "SHOW CREATE VIEW global_temp.rf_v"), CREATE_STMT
        ) == [(f"CREATE OR REPLACE VIEW global_temp.rf_v AS {view_sql}",)]

        c.sql(
            spark,
            f"CREATE MATERIALIZED VIEW global_temp.rf_mv LOCATION "
            f"'{tmp_path / 'mv'}' AS SELECT window.start AS window_start, "
            "event_type, COUNT(*) AS n FROM global_temp.rf_raw "
            "GROUP BY window(ts, '1 hour'), event_type",
        )
        mv = c.matview("global_temp.rf_mv")
        cursor, head = int(mv["cursor"]), raw._head_version()
        assert _check(c.sql(spark, "SHOW MATERIALIZED VIEWS"), SHOW_MVS) == [
            ("global_temp.rf_mv", "global_temp.rf_raw", cursor, head, [])
        ]
        [(ddl,)] = _check(
            c.sql(spark, "SHOW CREATE TABLE global_temp.rf_mv"), CREATE_STMT
        )
        assert ddl.startswith("CREATE MATERIALIZED VIEW global_temp.rf_mv")
        assert _check(
            c.sql(spark, "DESCRIBE DETAIL global_temp.rf_mv"), DETAIL_MV
        ) == [
            (
                "global_temp.rf_mv", "MATERIALIZED VIEW", mv["sql"],
                "global_temp.rf_raw", mv["location"], cursor, head, [],
                False,
            )
        ]
        assert _check(
            c.sql(spark, "REFRESH MATERIALIZED VIEW global_temp.rf_mv"),
            REFRESH_MV,
        ) == [("REFRESH MATERIALIZED VIEW", cursor, [], 0, 0)]
    finally:
        c.detach(spark)


def _list_frame_calls(tree: ast.AST) -> list[int]:
    """Lines of ``createDataFrame`` calls whose data argument is a Python
    list (literal or comprehension)."""
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and node.args
        and isinstance(node.args[0], (ast.List, ast.ListComp))
    ]


def test_sources_build_no_python_list_frames():
    """A ``createDataFrame(<list>, ...)`` frame is a Python RDD: its first
    action starts a Python-worker job. Driver-built frames in ``sources/``
    go through ``_local_frame`` instead (the ``queries.py`` workloads
    live outside ``sources/`` and are not checked)."""
    found = {
        path.name: lines
        for path in sorted(SOURCES.glob("*.py"))
        if (lines := _list_frame_calls(ast.parse(path.read_text())))
    }
    assert found == {}
    # the check sees the shape it forbids
    assert _list_frame_calls(
        ast.parse("spark.createDataFrame([(1,)], 'k long')\n"
                  "spark.createDataFrame([r for r in rows], s)")
    ) == [1, 2]
