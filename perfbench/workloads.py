"""The perfbench workloads.

Each workload writes its generated inputs once in
:meth:`Workload.prepare_inputs`, builds its starting state from them in
:meth:`Workload.setup` (called several times, each time into a fresh
directory; the last copy is the one measured), warms up, then yields steps
of operations from :meth:`Workload.step`. An operation is
``(cls, label, fn)``: ``cls`` is ``"write"`` or ``"read"``, the two latency
classes every workload reports, or None for an operation timed only for
the per-layer metrics. Every step of a workload has the same shape.
:meth:`Workload.check` runs after the measured window and returns one
message per output that does not match its reference.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pyarrow as pa

from data_warehouse_copy_spark.config import load_config
from data_warehouse_copy_spark.plans import pipeline
from data_warehouse_copy_spark.plans.audit import AuditLog
from data_warehouse_copy_spark.queries import ORACLES, QUERIES
from data_warehouse_copy_spark.sources.managed_table import ManagedTable
from data_warehouse_copy_spark.sources.names import NamedCatalog
from data_warehouse_copy_spark.streaming import cdf_sync

import gen

# Module-level program functions are called through their modules
# (``pipeline.run``, and ``cdf_sync.apply_changes`` inside the replica's
# sink), so the trace wrappers installed on those modules take effect.


class Workload:
    name = ""
    #: builds of the starting state; ``setup_s`` is the median of all but
    #: the first, which runs cold
    setup_reps = 5
    #: progress records (``recentProgress``) of the streaming query a
    #: traced operation ran, if any
    stream_progress: list[dict] | None = None

    def __init__(self, spark, work: Path, seed: int, base: dict[str, pa.Table]):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.base = base
        self.inputs = work / "inputs"
        self.reps: list[Path] = []
        self.failures: list[str] = []

    @property
    def live(self) -> Path:
        """The measured copy of the state (the last one set up)."""
        return self.reps[-1]

    def prepare_inputs(self) -> None:
        """Write the generated inputs every setup reads (once per run,
        outside ``setup_s``: they are never modified)."""

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self, i: int) -> list[tuple]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def table_roots(self) -> list[Path]:
        """Managed tables the measured copy writes (for the storage
        metrics)."""
        return []

    def traced_ops(self) -> list[tuple]:
        """Operations a traced run adds after the measured window, before
        the check: timed for the per-layer metrics only."""
        return []


def _duck(work: Path):
    """A DuckDB connection that spills, if ever, inside the run's directory."""
    return duckdb.connect(config={"temp_directory": str(work / "tmp" / "duckdb")})


def _duck_views(con, tables: dict[str, Path]) -> None:
    for name, path in tables.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def _export(df, path: Path) -> Path:
    """Write a Spark frame as parquet for a DuckDB comparison."""
    df.write.mode("overwrite").parquet(str(path))
    return path / "*.parquet"


def _rows_key(cols: list[str], rows) -> list[tuple]:
    """Rows as an order-independent, exact value: columns by name, floats
    by ``repr`` (the registry entries are built to match their oracles bit
    for bit), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in order)
        for r in rows
    )


def _diff_count(con, left_sql: str, right_sql: str) -> tuple[int, int]:
    """Rows of each side missing from the other, duplicates counted."""
    a = con.execute(f"SELECT count(*) FROM (({left_sql}) EXCEPT ALL ({right_sql}))").fetchone()[0]
    b = con.execute(f"SELECT count(*) FROM (({right_sql}) EXCEPT ALL ({left_sql}))").fetchone()[0]
    return a, b


# ------------------------------------------------------------ nightly_copy

NIGHTLY_DIMS = ("customer", "part", "supplier", "nation", "region")

#: Read-only ``queries.QUERIES`` entries of the morning report, by the
#: layer each measures: a relational query over ``lineitem``, and the
#: dedup, similarity and text functions over the document corpus. None of
#: them commits to a table or starts a stream.
REGISTRY = {
    "q6_forecast_revenue": "queries.relational",
    "dedup_exact": "functions.dedup",
    "similarity_topk_bruteforce": "functions.similarity",
    "text_top_tokens": "functions.text",
}


class NightlyCopy(Workload):
    """One step is one night: a ``pipeline.run`` over the next window into
    one persistent target (``write``), then the morning report (``read``):
    the night's window from both fact targets, an aggregate over the whole
    ``orders`` target, which grows with every upsert, and the
    :data:`REGISTRY` entries in the seed's order."""

    name = "nightly_copy"
    setup_reps = 4

    def __init__(self, *a):
        super().__init__(*a)
        plan = gen.nightly_plan(self.seed, list(REGISTRY))
        self.windows = plan["windows"]
        self.entries = plan["queries"]
        self.done: list[int] = [0]  # window indexes run on the live copy
        self.source = self.inputs / "source"
        #: per registry entry, the ``(columns, rows)`` of every execution
        self.results: dict[str, list[tuple]] = {n: [] for n in REGISTRY}

    def prepare_inputs(self) -> None:
        self.sources = {t: self.base[t] for t in ("lineitem", *NIGHTLY_DIMS)}
        self.sources["orders"] = gen.with_update_datetime(self.base["orders"])
        gen.write_tables({**self.sources, **gen.corpus_tables()}, self.source)

    def _config(self, root: Path, window: tuple[str, str]):
        return load_config({
            "source": str(self.source), "target": str(root / "target"),
            "date_from": window[0], "date_to": window[1],
            "tables": [
                {"table_name": "orders", "table_type": "fact",
                 "date_column": "o_orderdate",
                 "update_date_column": "update_datetime",
                 "primary_key": "o_orderkey"},
                {"table_name": "lineitem", "table_type": "fact",
                 "date_column": "l_shipdate"},
                *({"table_name": d, "table_type": "dim"} for d in NIGHTLY_DIMS),
            ],
        })

    def _run(self, root: Path, w: int) -> None:
        res = pipeline.run(self.spark, self._config(root, self.windows[w]))
        for o in res.failed:
            self.failures.append(f"window {w} {o.table} {o.process}: {o.error}")

    def _entry(self, name: str) -> None:
        df = QUERIES[name](self.spark, str(self.source))
        self.results[name].append((df.columns, df.collect()))

    def _report(self, root: Path, w: int) -> None:
        lo, hi = self.windows[w]
        for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
            ManagedTable(self.spark, root / "target" / table).read(
                where=[(col, ">=", f"{lo} 00:00:00"), (col, "<=", f"{hi} 23:59:59")]
            ).agg({"*": "count"}).collect()
        ManagedTable(self.spark, root / "target" / "orders").read().groupBy("o_orderstatus").agg(
            {"o_totalprice": "sum"}
        ).collect()

    def setup(self, rep: int) -> None:
        """The warehouse's starting state: empty target tables and audit
        log, created the way the pipeline opens them, then the initial
        load, the first night's ``pipeline.run`` into them (a load into
        empty targets differs in kind from the nights after it)."""
        root = self.work / f"rep{rep}"
        self.reps.append(root)
        cfg = self._config(root, self.windows[0])
        for spec in cfg.tables:
            ManagedTable.create(
                self.spark, pipeline.target_table_path(cfg, spec.table_name),
                spec.date_column if spec.table_type == "fact" else None,
            )
        ManagedTable.create(self.spark, cfg.audit_table_path)
        self._run(root, 0)

    def warmup(self) -> None:
        """The first night's morning report on the measured copy."""
        self._report(self.live, 0)
        for name in self.entries:
            self._entry(name)

    def step(self, i: int) -> list[tuple]:
        w = i + 1

        def run():
            self._run(self.live, w)
            self.done.append(w)

        return [
            ("write", "pipeline.run", run),
            ("read", "morning_report", lambda: self._report(self.live, w)),
            *(("read", REGISTRY[n], lambda n=n: self._entry(n)) for n in self.entries),
        ]

    def table_roots(self) -> list[Path]:
        t = self.live / "target"
        return [t / n for n in ("orders", "lineitem", *NIGHTLY_DIMS)] + [
            t / "_audit" / "tbl_dw_copy_logs"
        ]

    def check(self) -> list[str]:
        out = list(self.failures)
        ran = self.done
        if not ran:
            return out + ["no night completed"]
        target = self.live / "target"
        S = self.windows[ran[0]][0]
        E = self.windows[ran[-1]][1]
        con = _duck(self.work)
        _duck_views(con, {
            t: self.source / f"{t}.parquet"
            for t in (*self.sources, "documents", "embeddings")
        })
        exp = {
            "lineitem": f"SELECT * FROM lineitem WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{S}' AND DATE '{E}'",
            # range copies of every window plus the changed keys the
            # upserts brought in (update day inside the covered span)
            "orders": (
                "SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN "
                f"DATE '{S}' AND DATE '{E}' OR CAST(update_datetime AS DATE) "
                f"BETWEEN DATE '{S}' AND DATE '{E}'"
            ),
            **{d: f"SELECT * FROM {d}" for d in NIGHTLY_DIMS},
        }
        for table, sql in exp.items():
            got = _export(
                ManagedTable(self.spark, target / table).read(),
                self.work / "check" / table,
            )
            cols = ", ".join(d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description)
            a, b = _diff_count(con, f"SELECT {cols} FROM read_parquet('{got}')", f"SELECT {cols} FROM ({sql})")
            if a or b:
                out.append(f"target {table}: {a} unexpected rows, {b} missing rows")
        # the audit: every run Completed with the right count
        rows = AuditLog(self.spark, str(target / "_audit" / "tbl_dw_copy_logs")).current_status().collect()
        def n(query):
            return con.execute(query).fetchone()[0]

        expected = {}
        for w in ran:
            lo, hi = self.windows[w]
            win = f"BETWEEN DATE '{lo}' AND DATE '{hi}'"
            expected[(lo, "lineitem", "Copy")] = n(f"SELECT count(*) FROM lineitem WHERE CAST(l_shipdate AS DATE) {win}")
            expected[(lo, "orders", "Copy")] = n(f"SELECT count(*) FROM orders WHERE CAST(o_orderdate AS DATE) {win}")
            expected[(lo, "orders", "Update")] = n(
                f"SELECT count(*) FROM orders WHERE CAST(update_datetime AS DATE) {win} "
                f"AND NOT CAST(o_orderdate AS DATE) {win}"
            )
            for d in NIGHTLY_DIMS:
                expected[(lo, d, "Copy")] = n(f"SELECT count(*) FROM {d}")
        seen = {}
        for r in rows:
            key = (r.start_date_param, r.table_name, r.process)
            seen[key] = seen.get(key, 0) + 1
            if r.status != "Completed" or r.records_copied != expected.get(key):
                out.append(f"audit {key}: {r.status} {r.records_copied} != {expected.get(key)}")
        if seen != {k: 1 for k in expected}:
            out.append(f"audit has {len(rows)} runs for {len(expected)} expected")
        # every execution of a registry entry equals its oracle
        for name, results in self.results.items():
            res = con.execute(ORACLES[name])
            want = _rows_key([d[0] for d in res.description], res.fetchall())
            bad = sum(_rows_key(cols, rows) != want for cols, rows in results)
            if bad or not results:
                out.append(f"{name}: {bad} of {len(results)} results differ from its oracle")
        con.close()
        return out


# --------------------------------------------------------------- dml_stream


class DmlStream(Workload):
    """One step is one cycle of :func:`gen.dml_plan`: SQL MERGE, UPDATE and
    DELETE on ``orders`` through ``NamedCatalog.sql`` (``write``), each
    followed by a read of the same table (``read``: point and aggregate
    reads, half through ``NamedCatalog.table`` and half through
    ``ManagedTable.read(where=)``), and a fourth read.

    The traced run adds a CDF replica: after the measured window it clones
    ``orders`` as it was before the first statement, and
    ``stream_replicate`` catches the clone up on every commit since from
    the change feed; the check then compares the replica with the table.
    Untraced runs leave it out, which keeps them inside the time one
    benchmark run may take (the catch-up starts cold)."""

    name = "dml_stream"

    def __init__(self, *a):
        super().__init__(*a)
        self.plan = gen.dml_plan(self.seed)
        self.executed: list[dict] = []
        self.loaded_version = None  # of the measured ``orders`` before any statement

    def prepare_inputs(self) -> None:
        gen.write_tables(
            {"orders": self.base["orders"],
             "merge_src": gen.merge_sources(self.plan, self.base["orders"])},
            self.inputs,
        )
        self.spark.read.parquet(str(self.inputs / "merge_src.parquet")) \
            .createOrReplaceTempView("pb_merge_src")

    def _catalog(self, root: Path):
        return NamedCatalog(root / "catalog.json")

    def setup(self, rep: int) -> None:
        """``orders`` created, loaded from the source file and registered
        under its catalog name."""
        root = self.work / f"rep{rep}"
        self.reps.append(root)
        mt = ManagedTable.create(self.spark, root / "orders")
        mt.append(self.spark.read.parquet(str(self.inputs / "orders.parquet")))
        self._catalog(root).register("db.orders", root / "orders")

    @staticmethod
    def sql(op: dict) -> str:
        if op["kind"] == "merge":
            return (
                "MERGE INTO db.orders AS t USING (SELECT o_orderkey, o_custkey, "
                "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                f"FROM pb_merge_src WHERE batch = {op['batch']}) AS s "
                "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET "
                "o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        if op["kind"] == "update":
            return (
                f"UPDATE db.orders SET o_orderstatus = '{op['status']}', "
                "o_totalprice = o_totalprice + 1.5 "
                f"WHERE o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}"
            )
        return f"DELETE FROM db.orders WHERE o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}"

    def _do(self, root: Path, op: dict) -> None:
        kind = op["kind"]
        if kind in ("merge", "update", "delete"):
            self._catalog(root).sql(self.spark, self.sql(op)).collect()
            return
        if kind == "point_read":
            where = [("o_orderkey", "=", op["key"])]
        else:
            where = [("o_orderkey", ">=", op["lo"]), ("o_orderkey", "<", op["hi"])]
        if op["path"] == "catalog":
            df = self._catalog(root).table(self.spark, "db.orders")
            for c, o, v in where:
                df = df.filter(f"{c} {o} {v}")
        else:
            df = ManagedTable(self.spark, root / "orders").read(where=where)
        if kind == "agg_read":
            df = df.agg({"*": "count", "o_totalprice": "sum"})
        df.collect()

    def _clone(self) -> None:
        ManagedTable(self.spark, self.live / "orders").clone_to(
            self.live / "replica", version=self.loaded_version
        )

    def _catch_up(self) -> None:
        """Run the replication query from the commit after the clone until
        it has caught up, then stop it."""
        root = self.live
        q = cdf_sync.stream_replicate(
            self.spark, str(root / "orders"), str(root / "replica"),
            str(root / "ckpt"), key_cols="o_orderkey",
            startingVersion=str(self.loaded_version + 1),
        )
        try:
            q.processAllAvailable()
            self.stream_progress = q.recentProgress
        finally:
            q.stop()

    def warmup(self) -> None:
        """The statements and reads of the plan's last cycle, on the first
        copy."""
        for op in self.plan["cycles"][-1]:
            self._do(self.reps[0], op)
        self.loaded_version = ManagedTable(self.spark, self.live / "orders").snapshot().version

    def step(self, i: int) -> list[tuple]:
        ops = []
        for op in self.plan["cycles"][i % len(self.plan["cycles"])]:
            write = op["kind"] in ("merge", "update", "delete")
            label = op["kind"] if write else f"{op['kind']}.{op['path']}"

            def fn(op=op, write=write):
                self._do(self.live, op)
                if write:
                    self.executed.append(op)

            ops.append(("write" if write else "read", label, fn))
        return ops

    def traced_ops(self) -> list[tuple]:
        return [(None, "replica_clone", self._clone),
                (None, "replica_catchup", self._catch_up)]

    def table_roots(self) -> list[Path]:
        return [self.live / "orders", self.live / "replica"]

    def check(self) -> list[str]:
        """Replay the executed statements in DuckDB on the source file and
        compare the final table with it, then the replica with the
        table."""
        out = []
        con = _duck(self.work)
        con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.inputs / 'orders.parquet'}')")
        con.execute(f"CREATE VIEW merge_src AS SELECT * FROM read_parquet('{self.inputs / 'merge_src.parquet'}')")
        for op in self.executed:
            if op["kind"] == "merge":
                src = f"(SELECT * EXCLUDE (batch) FROM merge_src WHERE batch = {op['batch']})"
                con.execute(
                    "UPDATE orders SET o_totalprice = s.o_totalprice, o_orderstatus = s.o_orderstatus "
                    f"FROM {src} s WHERE orders.o_orderkey = s.o_orderkey"
                )
                con.execute(
                    f"INSERT INTO orders SELECT * FROM {src} s "
                    "WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM orders)"
                )
            else:
                con.execute(self.sql(op).replace("db.", ""))
        cols = ", ".join(self.base["orders"].column_names)
        for name in ("orders", "replica") if self.stream_progress is not None else ("orders",):
            got = _export(ManagedTable(self.spark, self.live / name).read(), self.work / "check" / name)
            a, b = _diff_count(con, f"SELECT {cols} FROM read_parquet('{got}')", f"SELECT {cols} FROM orders")
            if a or b:
                out.append(f"{name}: {a} unexpected rows, {b} missing rows after {len(self.executed)} statements")
        con.close()
        return out


WORKLOADS = {w.name: w for w in (NightlyCopy, DmlStream)}
