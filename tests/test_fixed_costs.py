"""Fixed per-action costs: reads over the manifest's file list start no
Spark listing job, internal empty frames start no Python worker, a range
reload into a fresh window proves its empty end-of-day tail from the
manifest alone, and a SQL statement's one-row result costs no job."""

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_copy_spark.sources.managed_table import ManagedTable
from data_warehouse_copy_spark.sources.names import NamedCatalog


def _jobs(spark) -> int:
    """Jobs submitted so far in this application."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _lineage(df) -> str:
    """The RDD lineage a frame's actions would run (built, not run)."""
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_read_over_many_files_starts_no_job(spark, tmp_path):
    """Past 32 paths Spark's default would list the manifest's files again
    in a distributed job before every scan."""
    t = ManagedTable.create(spark, tmp_path / "t")
    t.append(spark.range(0, 400, 1, 40).select(F.col("id").alias("k")))
    assert len(t.snapshot().files) > 32

    before = _jobs(spark)
    df = t.read()
    assert _jobs(spark) == before
    assert df.count() == 400


def test_count_of_read_pruned_to_zero_files_runs_no_python_task(spark, tmp_path):
    t = ManagedTable.create(spark, tmp_path / "t", partition_date_col="ts")
    t.append(
        spark.createDataFrame(
            [(1, datetime(1995, 1, 10, 12, 0))], "k long, ts timestamp"
        )
    )
    empty = t.read(partitions={"1995-02-01"})
    # same schema as a read that hits files
    assert empty.schema == t.read().schema
    assert "PythonRDD" not in _lineage(empty)
    assert empty.count() == 0


def test_overwrite_range_into_fresh_window_starts_no_job_before_write(
    spark, tmp_path, monkeypatch
):
    """The 23:59:59.997 tail lives in the window's last day; when the
    manifest holds no file for that day there is no tail to keep, and
    proving it takes no Spark action."""
    schema = "k string, ts timestamp"
    t = ManagedTable.create(spark, tmp_path / "t", partition_date_col="ts")
    t.append(
        spark.createDataFrame(
            [("old", datetime(1995, 1, 5, 8, 0)),
             ("old_tail", datetime(1995, 1, 9, 23, 59, 59, 999000))],
            schema,
        )
    )
    window = spark.createDataFrame(
        [("new", datetime(1995, 1, 10, 9, 0)),
         ("new_last_day", datetime(1995, 1, 15, 23, 0))],
        schema,
    )

    jobs_at_write = []
    write_files = t._write_files

    def spy(*args, **kwargs):
        jobs_at_write.append(_jobs(spark))
        return write_files(*args, **kwargs)

    monkeypatch.setattr(t, "_write_files", spy)
    before = _jobs(spark)
    deleted, written = t.overwrite_range(
        window, "1995-01-10", "1995-01-15", date_column="ts"
    )
    assert jobs_at_write == [before]
    assert (deleted, written) == (0, 2)
    assert {r.k for r in t.read().collect()} == {
        "old", "old_tail", "new", "new_last_day"
    }


@pytest.mark.parametrize(
    "stmt, expected",
    [
        ("INSERT INTO db.t VALUES (100, 1)", ("INSERT", 1)),
        ("UPDATE db.t SET v = v + 1 WHERE k < 5", ("UPDATE", 5)),
        ("DELETE FROM db.t WHERE k >= 18", ("DELETE", 2)),
        (
            "MERGE INTO db.t t USING db.s s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *",
            ("MERGE", 10),
        ),
        ("TRUNCATE TABLE db.t", ("TRUNCATE", 20)),
    ],
    ids=["insert", "update", "delete", "merge", "truncate"],
)
def test_sql_dml_result_collects_without_a_job(spark, tmp_path, stmt, expected):
    """The (operation, rows_affected) row is a JVM local relation: a
    Python-list frame started a 4-task Python-worker job per statement."""
    c = NamedCatalog(tmp_path / "catalog.json")
    for name, src in (
        ("t", spark.range(0, 20).selectExpr("id AS k", "id % 5 AS v")),
        ("s", spark.range(15, 25).selectExpr("id AS k", "100L AS v")),
    ):
        ManagedTable.create(spark, tmp_path / name).append(src.coalesce(1))
        c.register(f"db.{name}", tmp_path / name)

    df = c.sql(spark, stmt)
    assert "PythonRDD" not in _lineage(df)
    before = _jobs(spark)
    rows = df.collect()
    assert _jobs(spark) == before
    summary = T.StructType(
        [
            T.StructField("operation", T.StringType(), True),
            T.StructField("rows_affected", T.LongType(), True),
        ]
    )
    assert df.schema == summary
    assert T.StructType.fromJson(json.loads(df._jdf.schema().json())) == summary
    assert [tuple(r) for r in rows] == [expected]
