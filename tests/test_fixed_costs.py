"""Fixed per-action costs on the nightly write path: reads over the
manifest's file list start no Spark listing job, internal empty frames
start no Python worker, and a range reload into a fresh window proves
its empty end-of-day tail from the manifest alone."""

from datetime import datetime

from pyspark.sql import functions as F

from data_warehouse_copy_spark.sources.managed_table import ManagedTable


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
