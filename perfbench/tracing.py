"""Per-layer tracing for ``--trace 1`` runs.

Nothing in the program is changed: the tracer swaps module-level public
functions and ``ManagedTable``/``AuditLog``/``NamedCatalog`` methods for
timing wrappers while the run lasts, and reads Spark's status store for the
jobs each operation started. Every wrapper records a span
``(name, thread, depth, t0, t1)``; :func:`stats.attribute` later splits each
operation's wall time over those spans so the layer times add up to it.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

import stats

#: ManagedTable methods timed as ``mt.<name>``.
MT_METHODS = (
    "overwrite_range", "overwrite", "merge_by_key", "merge", "update",
    "delete", "append", "read", "snapshot",
)


class Tracer:
    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self._spans: list[tuple] = []
        self._restore: list[tuple] = []
        #: per-name extra numbers reported by wrappers (rows, keys, ...)
        self.extra: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``name`` is a
        string or a function of the call's arguments; ``on_result(result)``
        may add numbers to :attr:`extra`."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            stack = tracer._stack()
            depth = len(stack)
            stack.append(label)
            t0 = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                with tracer._lock:
                    tracer._spans.append(
                        (label, threading.get_ident(), depth, t0, t1)
                    )
                    tracer.calls[label] += 1
            if on_result is not None:
                on_result(result)
            return result

        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def take_spans(self) -> list[tuple]:
        """Spans recorded since the last call (the current operation's)."""
        with self._lock:
            out, self._spans = self._spans, []
        return out

    def install_program_wrappers(self) -> None:
        """Wrap the public entry points of each layer the workloads use."""
        from data_warehouse_copy_spark.plans import audit, pipeline
        from data_warehouse_copy_spark.sources import names, sql_dml
        from data_warehouse_copy_spark.sources.managed_table import ManagedTable
        from data_warehouse_copy_spark.streaming import cdf_sync

        def count(key, value=float):
            def on_result(result):
                self.extra[key] += value(result)
            return on_result

        self.wrap(pipeline, "run", "pipeline.run")
        # the pipeline looks these up in its own module namespace
        self.wrap(pipeline, "load_table", "catalog.load_table")
        self.wrap(
            pipeline, "copy_table",
            lambda *a, **k: "copy.truncate" if _arg(a, k, 5, "use_truncate") else "copy.range",
            count("copy.rows", lambda r: r.rows_copied),
        )
        self.wrap(pipeline, "update_table", "upsert.update_table", count("upsert.changed_keys"))
        self.wrap(audit.AuditLog, "start", "audit.call")
        self.wrap(audit.AuditLog, "finish", "audit.call")
        for m in MT_METHODS:
            self.wrap(ManagedTable, m, f"mt.{m}")
        self.wrap(sql_dml, "parse_dml", "sql.parse")
        self.wrap(
            sql_dml, "execute_sql",
            lambda spark, catalog, sql: f"sql.execute.{sql.split()[0].lower()}",
        )
        self.wrap(names.NamedCatalog, "table", "ds.table")
        self.wrap(cdf_sync, "apply_changes", "cdf.apply_changes")


def _arg(args, kwargs, pos, name):
    return kwargs[name] if name in kwargs else (args[pos] if len(args) > pos else None)


class SparkJobs:
    """Jobs, stages and tasks an operation ran, from the status store.

    Job ids are sequential, so an operation's jobs are the ids handed out
    between its start and end. The listener bus is drained before the
    store is read so the last job's completion is recorded."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def collect(self, first_job: int) -> dict:
        self._sc.listenerBus().waitUntilEmpty(30_000)
        last = self.next_job_id()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0, "input_bytes": 0, "intervals": [],
        }
        seen_stages = set()
        for jid in range(first_job, last):
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:  # evicted or never recorded
                continue
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000, done.get().getTime() / 1000)
                )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
        return out


#: streaming progress fields reported per drain, as ``stream.<key>_ms``
PROGRESS_FIELDS = (
    "triggerExecution", "addBatch", "latestOffset", "getBatch",
    "queryPlanning", "walCommit", "commitOffsets",
)


def progress_sums(progress: list[dict]) -> dict:
    """Sums over a query's progress records (``recentProgress``): the
    duration fields, input rows, state-store commit time and batch
    count."""
    sums: dict[str, float] = defaultdict(float)
    for p in progress:
        dur = p.get("durationMs") or {}
        for f in PROGRESS_FIELDS:
            sums[f"{f}_ms"] += dur.get(f, 0)
        sums["input_rows"] += p.get("numInputRows") or 0
        for op in p.get("stateOperators") or []:
            sums["state_commit_ms"] += op.get("commitTimeMs", 0)
        sums["batches"] += 1
    return dict(sums)


def summarize_op(spans, op_start, op_end, jobs: dict, main_thread) -> dict:
    """Layer numbers of one operation: inclusive time per span name,
    exclusive (attributed) time per span name, and the Spark split."""
    inclusive: dict[str, float] = defaultdict(float)
    for name, _, _, t0, t1 in spans:
        inclusive[name] += t1 - t0
    busy, gap = stats.driver_gap(op_end - op_start, jobs["intervals"], op_start)
    return {
        "inclusive": dict(inclusive),
        "exclusive": stats.attribute(spans, op_start, op_end, main_thread),
        "spark": {**{k: v for k, v in jobs.items() if k != "intervals"},
                  "job_busy_s": busy, "driver_gap_s": gap},
    }
