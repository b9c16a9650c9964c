"""Run orchestration — the reference's ``BulkCopyManager.Run`` (entry point A,
SURVEY.md §3.1) as a pure-Python driver over DataFrame pipelines.

Execution order: sprocs, then every table's chain concurrently.

1. stored procedures first, in config order (with the hour-0 midnight
   override, O15) — errors RETHROW and abort the run;
2. then one chain per target table, all chains on one thread pool:
   a copy+update fact runs CopyTable then UpdateTable on one thread, a
   normal fact its CopyTable, a dim its truncate reload. Specs naming the
   same target share one chain, in config order. Spark's FAIR scheduler
   interleaves the concurrent jobs;
3. ``historical`` tables are classified but never processed — the
   reference's dead code, kept as observable surface (SURVEY.md §7 risk 5).

Documented divergence: the reference runs the facts one after another and
only the dims in parallel (``BulkCopyManager.cs:137-179``). Running every
chain at once is safe because a chain commits only its own target, and
audit appends from concurrent chains CAS-rebase (compare-and-swap) onto
each other. ``RunResult.outcomes`` keeps the reference's order
(copy+update facts, normal facts, dims), whatever order chains finish in.

Per-table errors in 2 are caught, audited as Failed, and the run continues
(reference O18, ``TableCopyService.cs:178-205``); a failed copy is still
followed by its table's update.
"""

from __future__ import annotations

import contextvars
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
) -> RunResult:
    from data_warehouse_copy_spark.plans.logfiles import setup_run_logging, teardown
    from data_warehouse_copy_spark.window import derive_window, midnight_override

    now = now or datetime.now()
    run_handler = setup_run_logging(config.log_dir, now) if config.log_dir else None
    try:
        return _run_inner(spark, config, now, sprocs, audit)
    finally:
        if run_handler is not None:
            teardown(run_handler)  # reference Log.CloseAndFlush (Program.cs:39)


def _run_inner(
    spark: SparkSession,
    config: JobConfig,
    now: datetime,
    sprocs: SprocRegistry | None,
    audit: bool,
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

    def run_step(spec: TableSpec, kind: str) -> list[TableOutcome]:
        if kind == "dim":
            return [do_copy(spec, use_truncate=True)]
        copied = do_copy(spec, use_truncate=False)
        # a copy+update fact's update follows its copy, even a failed one
        return [copied, do_update(spec)] if kind == "copy_update" else [copied]

    def run_chain(chain: list) -> list[tuple[int, list[TableOutcome]]]:
        return [(i, run_step(spec, kind)) for i, spec, kind in chain]

    # 2. one chain per target table, all concurrently. ``i`` is the spec's
    # config position: chains keep config order, outcomes the reference's.
    kinds = (
        ("copy_update", classes.copy_update),
        ("normal", classes.normal),
        ("dim", classes.truncate),
    )
    kind_of = {id(s): kind for kind, specs in kinds for s in specs}
    steps = [
        (i, spec, kind_of[id(spec)])
        for i, spec in enumerate(config.tables)
        if id(spec) in kind_of
    ]
    chains: dict[str, list] = {}
    for step in steps:
        chains.setdefault(
            target_table_path(config, step[1].table_name), []
        ).append(step)
    if chains:
        width = min(len(chains), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=width) as pool:
            futures = [
                pool.submit(contextvars.copy_context().run, run_chain, chain)
                for chain in chains.values()
            ]
            outcomes = dict(pair for f in futures for pair in f.result())
        for kind, _ in kinds:
            for i, _, k in steps:
                if k == kind:
                    result.outcomes.extend(outcomes[i])

    return result


def _source_dir(config: JobConfig) -> str:
    return (
        str(Path(config.source) / config.source_schema)
        if config.source_schema
        and (Path(config.source) / config.source_schema).exists()
        else config.source
    )
