"""Named-table catalog: ``spark.table("bronze.lineitem")`` over ManagedTable.

The reference addresses tables by (schema, name) against SQL Server's
catalog (``TableConfig`` rows name ``schema_name.table_name``,
``appsettings.json``); this repo's tables are path-addressed. The
:class:`NamedCatalog` closes that gap with a PERSISTENT name → root
mapping (one JSON file, atomically rewritten) plus two access surfaces:

- :meth:`NamedCatalog.table` — the canonical programmatic path: a FRESH
  read per call, so every lookup is a live, snapshot-isolated read of the
  current head (exactly the semantics ``spark.table`` has on Delta). A
  plain read, and one with only the snapshot options ``versionAsOf``,
  ``timestampAsOf``, ``where`` or ``columns``, is
  :meth:`ManagedTable.read` — Spark's native parquet scan (column
  pruning, filter pushdown, size statistics for broadcast decisions, no
  Python-worker crossing per row). The log and change-feed options
  (``history``, ``files``, ``changesFrom``/``changesTo``, ``changeFeed``)
  go through ``spark.read.format("managed_table")``, their only
  implementation.
- :meth:`NamedCatalog.attach` — the pure-SQL path: registers every entry
  as a GLOBAL TEMPORARY VIEW, making ``spark.table("<db>.<name>")`` and
  ``SELECT ... FROM <db>.<name>`` resolve for any session of the app.

Why views and not ``CREATE TABLE ... USING managed_table`` in the session
catalog: Spark 4.1 accepts that DDL (the provider resolves and the CREATE
validates), but at scan time the Python Data Source V2 glue constructs the
reader with EMPTY options — the stored table properties (including
``path``) never reach ``DataSource.reader()`` — so a persistent catalog
table cannot locate its data (verified empirically; a JVM TableProvider
can read ``getTable(properties)``, the Python bridge does not forward
them). The global-temp-view layer is the honest workaround.

Known boundary, documented rather than hidden: an ATTACHED view pins the
snapshot resolved when the view was created — Spark caches the planned
python-DS read per relation (the same relation-scoped cache that rules
out ``pushFilters`` pruning, see ``datasource.py``), so later commits are
invisible to the view until :meth:`refresh` re-registers it.
:meth:`table` never has this problem (new relation per call). SQL
sessions that need read-your-writes call ``refresh`` after writes, the
same way Delta SQL users ``REFRESH TABLE`` after out-of-band changes.

Naming: entries are ``<db>.<name>``. ``attach`` registers into Spark's
global-temp database, whose NAME is the static conf
``spark.sql.globalTempDatabase`` (default ``global_temp``) — set it to
e.g. ``bronze`` at session build for reference-style names, and the
catalog validates that its entries' db matches at attach time so a name
never silently resolves elsewhere.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: reader options :meth:`NamedCatalog.table` serves from the native scan
#: (lower-cased, as Spark matches reader options)
_SNAPSHOT_OPTIONS = frozenset({"versionasof", "timestampasof", "where", "columns"})


class NamedCatalog:
    """Persistent ``db.table`` → ManagedTable-root mapping."""

    def __init__(self, catalog_file: "str | Path"):
        self.path = Path(catalog_file)

    # ------------------------------------------------------------- storage

    def _doc(self) -> dict:
        if not self.path.exists():
            return {"tables": {}, "views": {}, "matviews": {}}
        doc = json.loads(self.path.read_text())
        doc.setdefault("tables", {})
        doc.setdefault("views", {})
        doc.setdefault("matviews", {})
        return doc

    def _load(self) -> dict:
        return self._doc()["tables"]

    def _store(self, tables: dict) -> None:
        doc = self._doc()
        doc["tables"] = tables
        self._store_doc(doc)

    def _store_doc(self, doc: dict) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(f".tmp.{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(doc, indent=1, sort_keys=True))
        os.replace(tmp, self.path)  # atomic: readers see old or new, whole

    @contextlib.contextmanager
    def _mutate(self):
        """Cross-PROCESS exclusive section for every read-modify-write
        catalog mutation (round-14, advice fix): the whole-doc
        ``os.replace`` is atomic per write but two interleaved RMWs
        still lose one of them — e.g. two concurrent REFRESHes could
        regress each other's cursor, or a concurrent ``register`` could
        vanish. A sidecar ``flock`` serializes the RMW; non-POSIX
        platforms fall back to the atomic-replace-only guarantee."""
        self.path.parent.mkdir(parents=True, exist_ok=True)
        f = open(self.path.with_suffix(".lock"), "a+")
        try:
            try:
                import fcntl

                fcntl.flock(f, fcntl.LOCK_EX)
            except Exception:
                pass
            yield
        finally:
            f.close()  # close releases the flock

    # ------------------------------------------------------------- mapping

    @staticmethod
    def _split(name: str) -> tuple[str, str]:
        parts = name.split(".")
        if len(parts) != 2 or not all(p.strip() for p in parts):
            raise ValueError(
                f"catalog names are '<db>.<table>', got {name!r}"
            )
        return parts[0], parts[1]

    def register(self, name: str, root: "str | Path") -> None:
        """Map ``db.table`` to a table root (idempotent upsert). The root
        must already hold a managed table — a catalog must never hand out
        names that resolve to nothing."""
        from data_warehouse_copy_spark.sources.managed_table import ManagedTable

        self._split(name)
        if not ManagedTable(None, root).exists():
            raise ValueError(
                f"no managed table at {root!r}; create it before "
                f"registering {name!r}"
            )
        with self._mutate():
            doc = self._doc()
            if name in doc["matviews"]:
                raise ValueError(
                    f"{name!r} is a MATERIALIZED VIEW in catalog "
                    f"{self.path} — DROP MATERIALIZED VIEW it first"
                )
            if name in doc["views"]:
                raise ValueError(
                    f"{name!r} is a VIEW in catalog {self.path} — DROP "
                    f"VIEW it before registering a table under the name"
                )
            doc["tables"][name] = {"root": str(root)}
            self._store_doc(doc)

    def drop(self, name: str) -> None:
        """Remove a mapping (the table's data is untouched — dropping a
        NAME must never delete what other names/paths may reference)."""
        with self._mutate():
            tables = self._load()
            if name not in tables:
                raise KeyError(f"{name!r} not in catalog {self.path}")
            del tables[name]
            self._store(tables)

    def rename(self, old: str, new: str) -> None:
        """Rename a mapping (ALTER TABLE ... RENAME TO): ONE catalog
        write — pure name metadata, the table root and its data are
        untouched (external-table semantics, same as drop)."""
        self._split(new)
        with self._mutate():
            tables = self._load()
            if old not in tables:
                raise KeyError(f"{old!r} not in catalog {self.path}")
            if new in tables:
                raise ValueError(f"{new!r} already in catalog {self.path}")
            tables[new] = tables.pop(old)
            self._store(tables)

    def names(self) -> list[str]:
        return sorted(self._load())

    def root_of(self, name: str) -> str:
        return self._root_in(self._load(), name)

    def _root_in(self, tables: dict, name: str) -> str:
        if name not in tables:
            raise KeyError(
                f"{name!r} not in catalog {self.path} "
                f"(have: {sorted(tables)})"
            )
        return tables[name]["root"]

    # -------------------------------------------------------------- views

    def register_view(
        self, name: str, sql: str, refs: "list[str] | None" = None
    ) -> None:
        """Persist ``db.view`` → SELECT text (``CREATE [OR REPLACE]
        VIEW``'s storage half; the validation/inlining half lives in
        ``sql_dml``). ``refs`` records which catalog names the body
        references so later use can fail LOUDLY when a base table was
        dropped, instead of resolving against a stale attached temp
        view. A view is pure catalog metadata — one JSON write, no data
        anywhere."""
        self._split(name)
        with self._mutate():
            doc = self._doc()
            if name in doc["tables"]:
                raise ValueError(
                    f"{name!r} is a TABLE in catalog {self.path} — a "
                    f"view cannot shadow it"
                )
            if name in doc["matviews"]:
                raise ValueError(
                    f"{name!r} is a MATERIALIZED VIEW in catalog "
                    f"{self.path} — a view cannot shadow it"
                )
            doc["views"][name] = {"sql": sql, "refs": sorted(refs or [])}
            self._store_doc(doc)

    # --------------------------------------------------- materialized views

    def register_matview(self, name: str, meta: dict) -> None:
        """Persist ``db.mv`` → materialized-view metadata (round-13:
        ``CREATE MATERIALIZED VIEW``'s storage half): the stored SELECT
        text, base table, rollup store location, event-time column and
        the CDC refresh cursor. One JSON write, like views."""
        self._split(name)
        with self._mutate():
            doc = self._doc()
            if name in doc["tables"] or name in doc["views"]:
                raise ValueError(
                    f"{name!r} already names a table or view in catalog "
                    f"{self.path}"
                )
            doc["matviews"][name] = dict(meta)
            self._store_doc(doc)

    def drop_matview(self, name: str) -> None:
        with self._mutate():
            doc = self._doc()
            if name not in doc["matviews"]:
                raise KeyError(
                    f"materialized view {name!r} not in catalog "
                    f"{self.path}"
                )
            del doc["matviews"][name]
            self._store_doc(doc)

    def matview_names(self) -> list[str]:
        return sorted(self._doc()["matviews"])

    def matview(self, name: str) -> dict:
        mvs = self._doc()["matviews"]
        if name not in mvs:
            raise KeyError(
                f"materialized view {name!r} not in catalog {self.path}"
            )
        return dict(mvs[name])

    def set_matview_cursor(self, name: str, cursor: int) -> None:
        """MONOTONIC cursor advance: two concurrent REFRESHes both
        converge the data (day overwrites are idempotent), but the
        slower one must not regress the cursor — that would re-flag its
        racer's days as forever-pending work. The max() holds across
        PROCESSES too (round-14, advice fix): the whole read-max-write
        runs under the catalog's cross-process ``_mutate`` flock, so a
        slow racer can no longer interleave its stale read past the
        fast one's write."""
        with self._mutate():
            doc = self._doc()
            if name not in doc["matviews"]:
                raise KeyError(
                    f"materialized view {name!r} not in catalog "
                    f"{self.path}"
                )
            cur = int(doc["matviews"][name].get("cursor", 0))
            doc["matviews"][name]["cursor"] = max(int(cursor), cur)
            self._store_doc(doc)

    def set_matview_dim_cursors(self, name: str, cursors: dict) -> None:
        """Persist the per-dim version cursors of a star-join MV
        (round-14): the dim versions the store's contents were computed
        against. MONOTONIC per dim under the same cross-process lock as
        the base cursor — a slow racing refresh must not regress a dim
        cursor either."""
        with self._mutate():
            doc = self._doc()
            if name not in doc["matviews"]:
                raise KeyError(
                    f"materialized view {name!r} not in catalog "
                    f"{self.path}"
                )
            cur = dict(doc["matviews"][name].get("dim_cursors") or {})
            for d, v in cursors.items():
                cur[d] = max(int(v), int(cur.get(d, 0)))
            doc["matviews"][name]["dim_cursors"] = cur
            self._store_doc(doc)

    def set_matview_auto_refresh(self, name: str, enabled: bool) -> None:
        """Persist the ``matview.autoRefresh`` policy (round-14): when
        true, every mutating catalog-SQL statement best-effort refreshes
        this MV after its own commit (reads stay exact either way — the
        policy only bounds how much re-aggregation a later read pays)."""
        with self._mutate():
            doc = self._doc()
            if name not in doc["matviews"]:
                raise KeyError(
                    f"materialized view {name!r} not in catalog "
                    f"{self.path}"
                )
            doc["matviews"][name]["auto_refresh"] = bool(enabled)
            self._store_doc(doc)

    def drop_view(self, name: str) -> None:
        with self._mutate():
            doc = self._doc()
            if name not in doc["views"]:
                raise KeyError(f"view {name!r} not in catalog {self.path}")
            del doc["views"][name]
            self._store_doc(doc)

    def view_names(self) -> list[str]:
        return sorted(self._doc()["views"])

    def view_sql(self, name: str) -> str:
        views = self._doc()["views"]
        if name not in views:
            raise KeyError(f"view {name!r} not in catalog {self.path}")
        return views[name]["sql"]

    def view_refs(self, name: str) -> list[str]:
        views = self._doc()["views"]
        if name not in views:
            raise KeyError(f"view {name!r} not in catalog {self.path}")
        return list(views[name].get("refs", []))

    # ------------------------------------------------------------- access

    def table(self, spark: SparkSession, name: str, **options) -> DataFrame:
        """Live read of ``db.table``: a fresh read per call —
        snapshot-isolated at the CURRENT head, like ``spark.table`` on
        Delta.

        With no options, or only the snapshot options ``versionAsOf``,
        ``timestampAsOf``, ``where`` (the declarative reader's JSON
        triples) and ``columns`` (``"a,b"``), the read is
        :meth:`ManagedTable.read` — Spark's native parquet scan, with
        column pruning, filter pushdown and size statistics, and no
        Python-worker crossing. ``where`` is applied exactly here (the
        declarative reader only prunes files by it). Any other option
        (``history``, ``files``, ``changesFrom``/``changesTo``,
        ``changeFeed``, ...) goes through ``spark.read.format(
        "managed_table")``, the only implementation of the log and
        change-feed reads. Option names match case-insensitively, as
        reader options do. A VIEW name resolves through the same
        inlining SQL reads use (reader options don't apply — a view has
        no relation of its own)."""
        from data_warehouse_copy_spark.sources.datasource import (
            _parse_columns_option,
            _parse_where_option,
            _require_table,
            register,
        )

        doc = self._doc()
        if name in doc["matviews"]:
            if options:
                raise ValueError(
                    f"{name!r} is a materialized view — reader options "
                    f"like {sorted(options)} apply to tables"
                )
            from data_warehouse_copy_spark.streaming.matview import (
                MaterializedView,
            )

            return MaterializedView(spark, self, name).read()
        if name in doc["views"]:
            if options:
                raise ValueError(
                    f"{name!r} is a view — reader options like "
                    f"{sorted(options)} apply to tables; put predicates "
                    f"in SQL over the view instead"
                )
            from data_warehouse_copy_spark.sources.sql_dml import (
                _resolve_matviews,
                resolve_view_text,
            )

            self.attach(spark)  # the inlined body reads attached names
            return spark.sql(
                _resolve_matviews(
                    spark, self,
                    resolve_view_text(spark, self, doc["views"][name]["sql"]),
                )
            )
        root = self._root_in(doc["tables"], name)
        opts = {k.lower(): v for k, v in options.items()}
        if set(opts) <= _SNAPSHOT_OPTIONS:
            from data_warehouse_copy_spark.sources.managed_table import (
                ManagedTable,
            )

            _require_table(root)
            v = opts.get("versionasof")
            return ManagedTable(spark, root).read(
                version=int(v) if v is not None else None,
                timestamp=opts.get("timestampasof"),
                where=_parse_where_option(opts) or None,
                columns=_parse_columns_option(opts),
            )
        register(spark)
        reader = spark.read.format("managed_table")
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load(root)

    def sql(self, spark: SparkSession, query: str) -> DataFrame:
        """Catalog-aware SQL: ``DELETE``/``UPDATE``/``MERGE INTO`` on a
        registered ``db.table`` dispatch to the ManagedTable
        transactional methods (atomic commit, merge-on-read DV, stats+
        bloom file skipping — the predicate subset maps 1:1 onto the
        manifest pruning tiers) and return a one-row ``(operation,
        rows_affected)`` frame; every other statement passes through to
        ``spark.sql`` untouched. This parse-and-dispatch front-end
        exists because Spark 4.1's Python Data Source cannot intercept
        row-level SQL (JVM-only DSv2 interfaces; the native failure is
        pinned in tests/test_names.py) — see ``sources/sql_dml.py`` for
        the supported grammar."""
        from data_warehouse_copy_spark.sources.sql_dml import execute_sql

        return execute_sql(spark, self, query)

    def attach(self, spark: SparkSession) -> list[str]:
        """Register every catalog entry as a GLOBAL TEMPORARY VIEW so pure
        SQL (and ``spark.table``) resolves ``<db>.<name>`` in any session
        of this app. Returns the registered qualified names. Views pin the
        attach-time snapshot (module docstring); call :meth:`refresh`
        after writes that SQL readers must see."""
        from data_warehouse_copy_spark.sources.datasource import register

        register(spark)
        gdb = spark.conf.get(
            "spark.sql.globalTempDatabase", "global_temp"
        )
        out = []
        for name in self.names():
            db, tbl = self._split(name)
            if db != gdb:
                raise ValueError(
                    f"catalog entry {name!r} names database {db!r} but this "
                    f"session's global-temp database is {gdb!r} — build the "
                    f"session with spark.sql.globalTempDatabase={db} (static "
                    f"conf) or register the table as '{gdb}.{tbl}'"
                )
            root = self.root_of(name).replace("'", "''")
            # ANALYZE-driven broadcast hint (round-12): a Python-DS
            # relation reports no size, so Spark never auto-broadcasts
            # it — joins against provably tiny dims fall to sort-merge.
            # When FRESH stats say the table is small, the public view
            # wraps the raw relation in a BROADCAST hint (hints resolve
            # through views to the subtree), so every SQL join against
            # it picks the hash-broadcast plan. Stale/absent stats keep
            # the plain registration — never hint on a guess.
            if self._fresh_small(name):
                spark.sql(
                    f"CREATE OR REPLACE GLOBAL TEMPORARY VIEW "
                    f"`__dwcs_raw_{tbl}` "
                    f"USING managed_table OPTIONS (path '{root}')"
                )
                spark.sql(
                    f"CREATE OR REPLACE GLOBAL TEMPORARY VIEW `{tbl}` AS "
                    f"SELECT /*+ BROADCAST */ * FROM "
                    f"{gdb}.`__dwcs_raw_{tbl}`"
                )
            else:
                spark.sql(
                    f"CREATE OR REPLACE GLOBAL TEMPORARY VIEW `{tbl}` "
                    f"USING managed_table OPTIONS (path '{root}')"
                )
            out.append(f"{db}.{tbl}")
        # catalog views ride the same global-temp surface: the body
        # inlines view-on-view references first, so registration order
        # never matters and plain spark.sql resolves them too
        from data_warehouse_copy_spark.sources.sql_dml import (
            _resolve_matviews,
            resolve_view_text,
        )

        for name in self.view_names():
            db, vname = self._split(name)
            if db != gdb:
                raise ValueError(
                    f"catalog view {name!r} names database {db!r} but "
                    f"this session's global-temp database is {gdb!r}"
                )
            body = _resolve_matviews(
                spark, self,
                resolve_view_text(spark, self, self.view_sql(name)),
            )
            spark.sql(
                f"CREATE OR REPLACE GLOBAL TEMPORARY VIEW `{vname}` "
                f"AS {body}"
            )
            out.append(f"{db}.{vname}")
        return out

    def refresh(self, spark: SparkSession) -> list[str]:
        """Re-resolve every attached view at the current heads (the SQL
        surface's read-your-writes knob)."""
        return self.attach(spark)

    # dims at or under this many ANALYZEd rows get the BROADCAST-hint
    # wrapper on attach (conservative: ~25 MB at 100 B/row, well inside
    # executor memory at any realistic width)
    BROADCAST_MAX_ROWS = 250_000

    def _fresh_small(self, name: str) -> bool:
        from data_warehouse_copy_spark.sources.managed_table import (
            ManagedTable,
        )

        try:
            t = ManagedTable(None, self.root_of(name))
            s = t.table_stats()
            if s is not None and s.get("version") == t._head_version():
                n = s.get("row_count", 1 << 62)
            else:
                # round-13: the MANIFEST row total is exact at head and
                # free — a provably tiny dim gets the broadcast hint
                # without anyone ever running ANALYZE
                n = t.snapshot().total_rows
            return n <= self.BROADCAST_MAX_ROWS
        except Exception:
            return False

    def detach(self, spark: SparkSession) -> None:
        for name in self.names() + self.view_names():
            _, tbl = self._split(name)
            spark.catalog.dropGlobalTempView(tbl)
            spark.catalog.dropGlobalTempView(f"__dwcs_raw_{tbl}")
