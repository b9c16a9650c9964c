"""Run orchestration — the reference's ``BulkCopyManager.Run`` (entry point A,
SURVEY.md §3.1) as a pure-Python driver over DataFrame pipelines.

Fixed execution order preserved (``BulkCopyManager.cs:113-197``):

1. stored procedures (with the hour-0 midnight override, O15) — errors
   RETHROW and abort the run;
2. copy+update facts, sequentially: CopyTable then UpdateTable each;
3. normal facts, sequentially;
4. dims in parallel (``Parallel.ForEach`` -> ``ThreadPoolExecutor``; Spark's
   FAIR scheduler interleaves the concurrent jobs);
5. ``historical`` tables are classified but never processed — the
   reference's dead code, kept as observable surface (SURVEY.md §7 risk 5).

Per-table errors in 2-4 are caught, audited as Failed, and the run continues
(reference O18, ``TableCopyService.cs:178-205``).
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

from pyspark.sql import SparkSession

from data_warehouse_copy_spark.config import JobConfig, TableSpec, classify_tables
from data_warehouse_copy_spark.operators.copy import copy_table
from data_warehouse_copy_spark.operators.upsert import update_table
from data_warehouse_copy_spark.plans.audit import AuditLog
from data_warehouse_copy_spark.plans.sprocs import SprocRegistry
from data_warehouse_copy_spark.sources.catalog import load_table
from data_warehouse_copy_spark.sources.managed_table import ManagedTable

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class TableOutcome:
    table: str
    process: str  # Copy | Update | Sproc
    status: str  # Completed | Failed | Skipped
    records: int = 0
    error: str | None = None


@dataclass
class RunResult:
    date_from: str | None
    date_to: str | None
    outcomes: list[TableOutcome] = field(default_factory=list)

    @property
    def failed(self) -> list[TableOutcome]:
        return [o for o in self.outcomes if o.status == "Failed"]


def _is_jdbc(location: str) -> bool:
    return location.lower().startswith("jdbc:")


def target_table_path(config: JobConfig, table_name: str) -> str:
    schema_part = config.target_schema or ""
    return str(Path(config.target) / schema_part / table_name)


def _open_target(spark: SparkSession, config: JobConfig, spec: TableSpec):
    """Open the per-table sink: a :class:`ManagedTable` for filesystem
    targets, a :class:`JdbcTable` for ``jdbc:`` URLs (the reference's
    actual deployment shape — both implement the same write protocol)."""
    if _is_jdbc(config.target):
        from data_warehouse_copy_spark.sources.jdbc_table import JdbcTable

        return JdbcTable(
            spark, config.target, spec.table_name, config.target_schema
        )
    # Facts get day-partitioned targets so the range delete is a metadata
    # operation and the reload touches only the window's partitions (§4
    # forward-looking decision: partition facts by date).
    partition_col = spec.date_column if spec.table_type == "fact" else None
    return ManagedTable.create(
        spark, target_table_path(config, spec.table_name), partition_col
    )


def _load_source(spark: SparkSession, config: JobConfig, table_name: str):
    """Load one source table from a parquet directory or a ``jdbc:`` URL
    (reference O1/O2 — the source is a database in its deployment)."""
    if _is_jdbc(config.source):
        from data_warehouse_copy_spark.sources.catalog import load_jdbc_table

        return load_jdbc_table(
            spark, config.source, table_name, config.source_schema
        )
    return load_table(spark, _source_dir(config), table_name)


def run(
    spark: SparkSession,
    config: JobConfig,
    now: datetime | None = None,
    sprocs: SprocRegistry | None = None,
    audit: bool = True,
    max_dim_workers: int = 5,
) -> RunResult:
    from data_warehouse_copy_spark.plans.logfiles import setup_run_logging, teardown
    from data_warehouse_copy_spark.window import derive_window, midnight_override

    now = now or datetime.now()
    run_handler = setup_run_logging(config.log_dir, now) if config.log_dir else None
    try:
        return _run_inner(spark, config, now, sprocs, audit, max_dim_workers)
    finally:
        if run_handler is not None:
            teardown(run_handler)  # reference Log.CloseAndFlush (Program.cs:39)


def _run_inner(
    spark: SparkSession,
    config: JobConfig,
    now: datetime,
    sprocs: SprocRegistry | None,
    audit: bool,
    max_dim_workers: int,
) -> RunResult:
    from data_warehouse_copy_spark.plans.logfiles import per_table_log
    from data_warehouse_copy_spark.window import derive_window, midnight_override

    date_from, date_to = derive_window(
        config.schedule_mode, config.date_from, config.date_to, now
    )
    classes = classify_tables(list(config.tables))
    audit_log = AuditLog(spark, config.audit_table_path) if audit else None
    result = RunResult(date_from, date_to)

    log.info("Starting bulk copy process...")
    log.info("Date Range: %s to %s", date_from, date_to)
    log.info(
        "Tables to copy: %s", ", ".join(t.table_name for t in config.tables)
    )
    if classes.historical:
        log.info(
            "Historical tables classified but not processed (reference parity): %s",
            ", ".join(t.table_name for t in classes.historical),
        )

    # 1. sprocs first — midnight override, rethrow on failure (O11/O15/O18)
    for spec in classes.sproc:
        eff_from, eff_to = midnight_override(date_from or "", date_to or "", now)
        registry = sprocs if sprocs is not None else SprocRegistry()
        registry.execute(spec.table_name, spark, eff_from, eff_to)
        result.outcomes.append(TableOutcome(spec.table_name, "Sproc", "Completed"))

    def do_copy(spec: TableSpec, use_truncate: bool) -> TableOutcome:
        with per_table_log(config.log_dir, spec.table_name, now):
            log.info("Processing table: %s", spec.table_name)
            return _copy_inner(spec, use_truncate)

    def _copy_inner(spec: TableSpec, use_truncate: bool) -> TableOutcome:
        run_id = (
            audit_log.start(
                spec.table_name,
                "Copy",
                date_from,
                date_to,
                spec.date_column,
                spec.update_date_column,
                spec.primary_key,
            )
            if audit_log
            else None
        )
        try:
            src = _load_source(spark, config, spec.table_name)
            target = _open_target(spark, config, spec)
            res = copy_table(
                src,
                target,
                spec.table_name,
                date_from,
                date_to,
                use_truncate,
                spec.date_column,
                config.excluded_columns,
            )
            if run_id:
                audit_log.finish(
                    run_id, spec.table_name, "Copy", "Completed", res.rows_copied
                )
            return TableOutcome(spec.table_name, "Copy", "Completed", res.rows_copied)
        except Exception as exc:  # per-table isolation (O18)
            log.exception("Copy failed for %s", spec.table_name)
            if run_id:
                audit_log.finish(run_id, spec.table_name, "Copy", "Failed", 0, str(exc))
            return TableOutcome(spec.table_name, "Copy", "Failed", 0, str(exc))

    def do_update(spec: TableSpec) -> TableOutcome:
        with per_table_log(config.log_dir, spec.table_name, now):
            log.info("Updating table: %s", spec.table_name)
            return _update_inner(spec)

    def _update_inner(spec: TableSpec) -> TableOutcome:
        run_id = (
            audit_log.start(
                spec.table_name,
                "Update",
                date_from,
                date_to,
                spec.date_column,
                spec.update_date_column,
                spec.primary_key,
            )
            if audit_log
            else None
        )
        try:
            src = _load_source(spark, config, spec.table_name)
            target = _open_target(spark, config, spec)
            n_keys = update_table(
                src,
                target,
                spec.table_name,
                date_from or "",
                date_to or "",
                spec.date_column or "",
                spec.update_date_column or "",
                spec.primary_key or "",
                config.excluded_columns,
            )
            if run_id:
                audit_log.finish(run_id, spec.table_name, "Update", "Completed", n_keys)
            return TableOutcome(spec.table_name, "Update", "Completed", n_keys)
        except Exception as exc:
            log.exception("Update failed for %s", spec.table_name)
            if run_id:
                audit_log.finish(
                    run_id, spec.table_name, "Update", "Failed", 0, str(exc)
                )
            return TableOutcome(spec.table_name, "Update", "Failed", 0, str(exc))

    # 2. copy+update facts, sequential (BulkCopyManager.cs:137-163)
    for spec in classes.copy_update:
        result.outcomes.append(do_copy(spec, use_truncate=False))
        result.outcomes.append(do_update(spec))

    # 3. normal facts, sequential (:166-179)
    for spec in classes.normal:
        result.outcomes.append(do_copy(spec, use_truncate=False))

    # 4. dims in parallel (:182-195); FAIR scheduler interleaves the jobs
    if classes.truncate:
        with ThreadPoolExecutor(max_workers=max_dim_workers) as pool:
            futures = [
                pool.submit(do_copy, spec, True) for spec in classes.truncate
            ]
            result.outcomes.extend(f.result() for f in futures)

    return result


def _source_dir(config: JobConfig) -> str:
    return (
        str(Path(config.source) / config.source_schema)
        if config.source_schema
        and (Path(config.source) / config.source_schema).exists()
        else config.source
    )
