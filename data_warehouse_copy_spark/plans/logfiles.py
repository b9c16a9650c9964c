"""Dual file logging — reference O20 (``Program.cs:18-30``,
``TableCopyService.cs:24-45``, ``TableUpdateService.cs:25-44``).

The reference writes a month-bucketed global log
(``logs/yyyy-MM/Main/bulk_copy_log_{ts}.txt``) plus one log file per table
(``logs/yyyy-MM/{table}/{table}-{ts}.log``). Same layout here on Python
``logging``: a run-scoped root handler and per-table handlers attached to
the package logger for the duration of one table's pipeline.
"""

from __future__ import annotations

import contextvars
import logging
from datetime import datetime
from pathlib import Path

PKG_LOGGER = "data_warehouse_copy_spark"
_FMT = "%(asctime)s [%(levelname)s] %(name)s: %(message)s"

# Which table's pipeline this thread/task is running. Parallel dim reloads
# share the package logger, so without scoping every per-table file would
# receive every concurrent table's records (the reference gives each table
# an isolated Serilog logger — TableCopyService.cs:24-45). A contextvar is
# set inside the worker, so each ThreadPoolExecutor thread sees its own.
_CURRENT_TABLE: contextvars.ContextVar[str | None] = contextvars.ContextVar(
    "dwcs_current_table", default=None
)


class _TableFilter(logging.Filter):
    """Pass only records emitted while this handler's table is current.
    Records from outside any table scope (run-level messages) also pass,
    matching the reference's per-table logs which include their own
    bracketing lines but never another table's."""

    def __init__(self, table_name: str):
        super().__init__()
        self.table_name = table_name

    def filter(self, record: logging.LogRecord) -> bool:
        current = _CURRENT_TABLE.get()
        return current is None or current == self.table_name


def _month_dir(base: str | Path, now: datetime) -> Path:
    return Path(base) / now.strftime("%Y-%m")


def setup_run_logging(
    base_dir: str | Path, now: datetime | None = None
) -> logging.Handler:
    """Attach the global run log handler
    (``logs/yyyy-MM/Main/bulk_copy_log_{ts}.txt``, ``Program.cs:27-30``).
    Returns the handler; call :func:`teardown` when the run finishes
    (the reference's ``Log.CloseAndFlush()``, ``Program.cs:39``)."""
    now = now or datetime.now()
    d = _month_dir(base_dir, now) / "Main"
    d.mkdir(parents=True, exist_ok=True)
    handler = logging.FileHandler(
        d / f"bulk_copy_log_{now.strftime('%Y%m%d_%H%M%S')}.txt", encoding="utf-8"
    )
    handler.setFormatter(logging.Formatter(_FMT))
    logger = logging.getLogger(PKG_LOGGER)
    logger.setLevel(logging.INFO)
    logger.addHandler(handler)
    return handler


def table_log_handler(
    base_dir: str | Path, table_name: str, now: datetime | None = None
) -> logging.Handler:
    """Per-table handler (``logs/yyyy-MM/{table}/{table}-{ts}.log``,
    ``TableCopyService.cs:34-42``)."""
    now = now or datetime.now()
    d = _month_dir(base_dir, now) / table_name
    d.mkdir(parents=True, exist_ok=True)
    handler = logging.FileHandler(
        d / f"{table_name}-{now.strftime('%Y%m%d_%H%M%S')}.log", encoding="utf-8"
    )
    handler.setFormatter(logging.Formatter(_FMT))
    handler.addFilter(_TableFilter(table_name))
    logging.getLogger(PKG_LOGGER).addHandler(handler)
    return handler


def teardown(handler: logging.Handler) -> None:
    logging.getLogger(PKG_LOGGER).removeHandler(handler)
    handler.close()


class per_table_log:
    """Context manager bracketing one table's pipeline with its own log
    file, mirroring the reference's per-table logger lifetime."""

    def __init__(
        self,
        base_dir: str | Path | None,
        table_name: str,
        now: datetime | None = None,
    ):
        self.base_dir = base_dir
        self.table_name = table_name
        self.now = now
        self._handler: logging.Handler | None = None
        self._token: contextvars.Token | None = None

    def __enter__(self):
        self._token = _CURRENT_TABLE.set(self.table_name)
        if self.base_dir is not None:
            self._handler = table_log_handler(
                self.base_dir, self.table_name, self.now
            )
        return self

    def __exit__(self, *exc):
        if self._handler is not None:
            teardown(self._handler)
        if self._token is not None:
            _CURRENT_TABLE.reset(self._token)
        return False
