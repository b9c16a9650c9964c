"""SQL DML front-end for :class:`NamedCatalog` tables (VERDICT r6 item 3).

A warehouse user's first mutation attempt is ``spark.sql("DELETE FROM
db.t WHERE ...")``. Spark 4.1 cannot route that to a Python Data Source:
row-level operations (``SupportsRowLevelOperations`` /
``SupportsDelete``) are JVM-DSv2-only interfaces the Python bridge does
not implement, so DML against an attached view fails inside Spark's own
analyzer ("Table does not support deletes: managed_table") — the same class of
boundary as the ``CREATE TABLE ... USING`` property-forwarding gap
documented in ``names.py``, and pinned by a test the same way
(``tests/test_names.py::test_spark_native_sql_dml_is_unsupported``).

So the catalog ships the honest workaround: :func:`execute_sql` (exposed
as ``NamedCatalog.sql``) PARSES the statement; DML on a registered name
dispatches to :class:`ManagedTable`'s transactional methods (the same
atomic-commit, merge-on-read paths the Python API uses), anything else
passes through to ``spark.sql`` untouched. Parsing is deliberately
CONSERVATIVE: a statement outside the supported grammar raises with the
unsupported fragment named — it never silently misparses into a wrong
mutation.

Supported grammar (case-insensitive keywords)::

    DELETE FROM db.tbl [WHERE <pred-mixed>]
        -- no WHERE = full truncate (Delta semantics), one atomic commit
    UPDATE db.tbl SET col = <expr> [, col = <expr>]... WHERE <pred-mixed>
        -- <pred-mixed> is ANY Spark SQL boolean expression (Delta
        -- parity: OR / NOT / BETWEEN / LIKE / IS NULL / functions...).
        -- Top-level AND conjuncts in the sargable <pred> subset below
        -- keep manifest-stats + bloom FILE SKIPPING; the rest applies
        -- as an exact residual row filter after pruning
        -- <expr> is any Spark SQL scalar expression over the row
    MERGE [WITH SCHEMA EVOLUTION] INTO db.tbl [AS] t
        USING (db2.tbl2 | (<subquery>)) [AS] s
        ON t.k = s.k [AND t.k2 = s.k2]...
        [WHEN MATCHED [AND <cond>] THEN (UPDATE SET col = <expr>, ... | DELETE)]...
        [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
            (INSERT * | INSERT (col [, col]...) VALUES (<expr> [, ...]))]...
        [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
            (UPDATE SET col = <expr>, ... | DELETE)]...
        -- multiple conditional WHEN MATCHED / BY SOURCE clauses are
        -- first-match-wins per row (Delta semantics); an unconditional
        -- clause must come last

    VACUUM db.tbl [RETAIN n HOURS] [LOG RETENTION n HOURS] [DRY RUN]
        -- reap unreferenced files (Delta syntax; default 168h retention);
        -- LOG RETENTION additionally trims commit-log records +
        -- superseded checkpoints older than n hours (logRetentionDuration
        -- model: pre-floor time travel then fails loudly)
    OPTIMIZE db.tbl [ZORDER BY (c1 [, c2]...)]
        -- compact small files; ZORDER re-lays-out under the new spec
    RESTORE db.tbl TO (VERSION AS OF n | TIMESTAMP AS OF 'ts')
        -- roll back as a NEW audited commit (timestamp resolves
        -- through the commit log's version_at)
    TRUNCATE TABLE db.tbl
        -- standard-SQL spelling of DELETE without WHERE: one atomic
        -- empty overwrite, old files stay for time travel / vacuum
    SHOW TABLES
        -- every registered name with its root, one row each
    SHOW CREATE TABLE db.tbl
        -- the reconstructable DDL, one createtab_stmt row: schema +
        -- USING + LOCATION + PARTITIONED/CLUSTERED BY + TBLPROPERTIES
    SHOW TBLPROPERTIES db.tbl
        -- the table's recorded property surface as (key, value) rows
        -- (empty when no property is set)
    INSERT INTO db.tbl BY NAME (SELECT ... | VALUES ...)
        -- by-name binding (Spark parity): source columns bind to
        -- same-named table columns in any order; omitted columns
        -- null-backfill (generated ones compute)
    SHOW COLUMNS (IN | FROM) db.tbl
        -- one col_name row per live logical column, schema order
    COMMENT ON TABLE db.tbl IS ('txt' | NULL)
    COMMENT ON COLUMN db.tbl.col IS ('txt' | NULL)
        -- table comment rides a _log sidecar (clones carry it); column
        -- comments live in the schema's field metadata (the Delta slot)
        -- so they survive rename/widen/evolution and time travel; both
        -- emit from SHOW CREATE TABLE. ALTER TABLE t ALTER COLUMN c
        -- COMMENT 'txt' is the ALTER spelling of the column form.
    CREATE TABLE db.t2 LIKE db.t1 [LOCATION 'path']
        -- new EMPTY table copying t1's schema (comments included),
        -- layout, CHECK constraints and table properties
    CREATE TABLE db.t (..., c type GENERATED ALWAYS AS (expr), ...)
        -- Delta generated columns: writes that OMIT c compute it from
        -- expr; writes that PROVIDE it are validated by an automatic
        -- gen_c CHECK constraint (c <=> expr) on EVERY write path.
        -- The expression rides the schema's field metadata (clones,
        -- time travel, SHOW CREATE re-run all carry it).
    DESCRIBE DETAIL db.tbl
        -- one metadata row: version, files, rows, layout, constraints
    DESCRIBE HISTORY db.tbl [LIMIT n]
        -- commit log newest-first; LIMIT n replays only the last n
        -- commits from the nearest checkpoint (bounded at any table size)
    ANALYZE TABLE db.tbl COMPUTE STATISTICS
        [FOR COLUMNS c1 [, c2]... | FOR ALL COLUMNS]
        -- one distributed aggregate pass: row count + per-column null
        -- count / min / max / HLL++ NDV / max string length, persisted
        -- version-stamped under _log (advisory metadata, Delta posture)
    DESCRIBE EXTENDED db.tbl col
        -- the stored column statistics as (info_name, info_value) rows
        -- (Spark's column-stats surface), with a staleness flag
    INSERT INTO db.tbl [(col [, col]...)] (VALUES <rows> | SELECT ...)
        -- the VALUES/SELECT tail is evaluated by spark.sql verbatim;
        -- a column list realigns (and typed-null-backfills) the frame,
        -- the append is one atomic commit
    INSERT OVERWRITE db.tbl [(col...)] (VALUES <rows> | SELECT ...)
        -- same row-source surface, atomic truncate-and-load landing
    INSERT INTO db.tbl [(col...)] REPLACE WHERE <pred-mixed>
        (VALUES <rows> | SELECT ...)
        -- Delta's SQL replaceWhere: ONE atomic commit deletes the
        -- predicate's rows and lands the new ones; every incoming row
        -- must satisfy the predicate (retry-safe backfills)
    CREATE TABLE [IF NOT EXISTS] db.tbl (col type [, ...]) [USING managed_table]
        [LOCATION 'path'] [PARTITIONED BY (dayCol)]
        [CLUSTERED BY (c1 [, c2]...)]
        -- creates + registers; the declared schema is pinned before
        -- any data so constraints/INSERT lists work immediately.
        -- Non-managed_table providers / CTAS / non-dotted names pass
        -- through to spark.sql untouched (misparse-safe for DDL)
    CREATE OR REPLACE TABLE db.tbl USING managed_table AS SELECT ...
        -- a registered name is REPLACED as one atomic overwrite commit
        -- (layout/location preserved — refused loudly otherwise);
        -- a fresh name is a plain CTAS
    CREATE TABLE [IF NOT EXISTS] db.t2 [SHALLOW | DEEP] CLONE db.t1
        [VERSION AS OF n] [LOCATION 'path']
        -- SHALLOW: metadata-only snapshot reference (zero bytes
        -- copied); DEEP (also the bare-CLONE default, Delta parity):
        -- the snapshot re-materialized into independent files under
        -- the same layout config — a later source vacuum can never
        -- strand it. Either way the clone is anchored at the source's
        -- head — or the pinned version — and registered atomically-last
    DROP TABLE [IF EXISTS] db.tbl
        -- drops the NAME; data stays (external-table semantics)
    ALTER TABLE db.tbl RENAME TO db.new
        -- catalog-level name rename, one metadata write; data untouched
    ALTER TABLE db.tbl RENAME COLUMN old TO new
    ALTER TABLE db.tbl ALTER COLUMN c (TYPE | SET DATA TYPE) <type>
    ALTER TABLE db.tbl ALTER COLUMN c (SET NOT NULL | DROP NOT NULL)
        -- Delta nullability via the CHECK machinery (constraint
        -- nn_<col>): existing rows validated at SET, later writes
        -- prove their rows
    ALTER TABLE db.tbl ADD COLUMN c <type>
    ALTER TABLE db.tbl ADD COLUMNS (c1 <type> [, c2 <type>]...)
    ALTER TABLE db.tbl DROP COLUMN c
        -- all four are METADATA-ONLY commits (column mapping / native
        -- parquet widen / tombstoned drop) at any table size
    ALTER TABLE db.tbl CLUSTER BY ((c1 [, c2]...) | NONE)
        -- re-layout under a new clustering spec as ONE atomic rewrite
        -- (range-clustered for one column, Z-ORDER for several); future
        -- writes and compactions follow it; NONE de-clusters
    ALTER TABLE db.tbl ADD CONSTRAINT nm CHECK ( <any spark sql boolean> )
    ALTER TABLE db.tbl DROP CONSTRAINT nm
        -- CHECK constraints: existing data validated at ADD, every
        -- row-introducing write proves its rows afterwards
    ALTER TABLE db.tbl (SET | UNSET) TBLPROPERTIES ('k' [= 'v'], ...)
        -- supported namespace: 'autoCompact' ('true'|'false') /
        -- 'autoCompact.maxFilesPerPartition' (int) — the opt-in
        -- post-commit compaction policy; unknown keys raise
    COPY INTO db.tbl FROM '<path>' [FILEFORMAT = PARQUET]
        [PATTERN = '<glob>'] [FORCE = TRUE|FALSE]
        -- idempotent file-level bulk ingestion: loads only files the
        -- table's ledger has never seen, one atomic commit; the loaded
        -- paths ride the commit action itself (exactly-once retries)
    SELECT ... FROM db.tbl VERSION AS OF n | TIMESTAMP AS OF 'ts' ...
        -- time travel over registered names: the reference rewrites to
        -- a version-pinned view, the rest of the statement runs as-is
        -- (MERGE may source from history the same way)
    SELECT ... FROM table_changes('db.tbl', v1 [, v2]) ...
        -- row-level change data feed (Delta's CDF TVF): every data
        -- column plus _change_type / _commit_version for commits
        -- v1..v2 INCLUSIVE (v2 omitted = head); rewrites to a view
        -- over ManagedTable.read_cdf

    <conj> ::= <pred> [AND <pred>]...
    <pred> ::= col (= | < | <= | > | >=) <literal>
             | col IN ( <literal> [, <literal>]... )
    <literal> ::= number | 'string' | TRUE | FALSE

The WHERE subset is exactly the ``(column, op, value)`` conjunction
``ManagedTable.read/delete/update`` consume — so every SQL predicate
keeps manifest stats + bloom FILE SKIPPING, not just row filtering.
``UPDATE``/``MERGE`` assignment right-hand sides are forwarded verbatim
as Spark SQL expressions (arbitrary scalar SQL is fine there; they run
under ``F.expr`` inside the transactional rewrite).
"""

from __future__ import annotations

import json
import logging
import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_warehouse_copy_spark.sources.managed_table import _local_frame

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<string>'(?:[^']|'')*')
    | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_$]*(?:\.[A-Za-z_][A-Za-z0-9_$]*)*)
    | (?P<punct><=|>=|<>|!=|=|<|>|\(|\)|,|\*|\+|-|/|%|\|\|)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "delete", "update", "merge", "from", "into", "using", "set", "where",
    "and", "on", "when", "matched", "not", "then", "insert", "values",
    "as", "in", "true", "false",
    "alter", "table", "rename", "column", "to", "type", "drop", "add",
    "data", "describe", "history", "limit",
    "vacuum", "retain", "hours", "optimize", "zorder", "by", "restore",
    "version", "of", "constraint", "check", "detail", "show", "tables",
    "source", "target", "tblproperties", "unset",
    "create", "location", "partitioned", "clustered", "overwrite", "using",
    "copy", "fileformat", "pattern", "force", "if", "exists",
    "convert", "dry", "run", "partitions",
    # NOTE: the round-10 statement words (shallow / clone / deep /
    # truncate / replace / cluster / analyze / compute / statistics /
    # for / all / extended / columns / timestamp / null / none / case /
    # end / or / between / like) are deliberately NOT keywords — they
    # are plausible column names, and a word in this set is rejected by
    # _expect_ident everywhere. The parser matches them by RAW TEXT
    # (_word / _at_word / _expect_word) at their grammar positions.
}


class SqlDmlError(ValueError):
    """Statement is DML-shaped but outside the supported grammar."""


@dataclass
class _Tok:
    kind: str  # string | number | ident | punct
    text: str


def _tokenize(sql: str) -> list[_Tok]:
    out, pos = [], 0
    s = sql.strip().rstrip(";")
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise SqlDmlError(
                f"cannot tokenize SQL at: {s[pos:pos + 30]!r}"
            )
        pos = m.end()
        for kind in ("string", "number", "ident", "punct"):
            t = m.group(kind)
            if t is not None:
                out.append(_Tok(kind, t))
                break
    return out


@dataclass
class DmlStatement:
    kind: str  # delete | update | merge
    table: str
    where: "list[tuple] | None" = None
    set_exprs: "dict[str, str] | None" = None
    # merge fields
    source: str | None = None          # catalog name of the source, or
    source_query: str | None = None    # ... a subquery text
    on: "list[str]" = field(default_factory=list)
    # ordered clause dicts ({"condition": str|None, "update": {...}} or
    # {"condition": str|None, "delete": True}) — the merge() shapes
    matched_clauses: "list[dict]" = field(default_factory=list)
    by_source_clauses: "list[dict]" = field(default_factory=list)
    when_not_matched_insert: bool = False
    # alter fields (kind == "alter")
    alter_op: str | None = None        # rename | widen | drop | add
    column: str | None = None
    to_name: str | None = None
    to_type: str | None = None
    # insert fields (kind == "insert")
    insert_columns: "list[str] | None" = None
    insert_query: str | None = None    # the VALUES/SELECT tail, verbatim
    insert_by_name: bool = False       # INSERT INTO t BY NAME SELECT ...
    # history fields (kind == "history")
    limit: int | None = None
    # ops fields (vacuum / optimize / restore)
    retain_hours: float | None = None
    log_retain_hours: float | None = None  # VACUUM ... LOG RETENTION n HOURS
    zorder_cols: "list[str] | None" = None
    to_version: int | None = None
    to_timestamp: str | None = None   # RESTORE ... TO TIMESTAMP AS OF
    default_expr: str | None = None   # ALTER COLUMN ... SET DEFAULT
    cascade: bool = False             # RENAME/DROP COLUMN ... CASCADE
    # constraint fields (alter_op add_constraint / drop_constraint)
    check_expr: str | None = None
    # COMMENT ON / ALTER COLUMN ... COMMENT / CREATE ... COMMENT
    comment: str | None = None
    # CREATE TABLE db.t LIKE db.src
    like_source: str | None = None
    # table properties (alter_op set_properties / unset_properties)
    properties: "dict[str, str | None] | None" = None
    # insert mode (kind == "insert")
    insert_overwrite: bool = False
    # create-table fields (kind == "create_table")
    create_columns: "list[tuple[str, str]] | None" = None
    location: str | None = None
    part_col: str | None = None
    cluster_cols: "list[str] | None" = None
    ctas_query: str | None = None      # CTAS: the SELECT tail, verbatim
    # DDL modifiers
    if_exists: bool = False        # DROP TABLE IF EXISTS
    if_not_exists: bool = False    # CREATE TABLE IF NOT EXISTS
    # merge not-matched INSERT clauses (ordered; {"condition","insert"})
    insert_clauses: "list[dict]" = field(default_factory=list)
    # vacuum audit mode (kind == "vacuum")
    vacuum_dry: bool = False
    # SHALLOW / DEEP CLONE (kind == "create_clone")
    clone_source: str | None = None
    clone_version: int | None = None
    clone_deep: bool = False
    # ANALYZE TABLE (kind == "analyze")
    analyze_columns: "list[str] | None" = None
    analyze_all: bool = False
    # MERGE WITH SCHEMA EVOLUTION (kind == "merge")
    merge_evolve: bool = False
    # INSERT INTO ... REPLACE WHERE (kind == "insert")
    replace_where: "list[tuple] | None" = None
    # ALTER TABLE ... ADD COLUMNS (plural form)
    add_columns: "list[tuple] | None" = None
    # CREATE OR REPLACE TABLE (kind == "create_table")
    or_replace: bool = False
    # copy-into fields (kind == "copy_into")
    copy_source: str | None = None
    copy_format: str = "parquet"
    copy_pattern: str = "*.parquet"
    copy_force: bool = False


def _try_subset(toks: "list[_Tok]") -> "tuple | None":
    """Parse ``toks`` as EXACTLY one sargable predicate (whole-conjunct
    consumption required), or None — the classifier `_where_mixed` uses
    to decide tuple (file-skipping) vs residual expression. Redundant
    wrapping parens are stripped first so ``(a = 1) AND ...`` keeps the
    pruning its unwrapped form would get."""
    toks = list(toks)
    while (
        len(toks) >= 2
        and toks[0].kind == "punct" and toks[0].text == "("
        and toks[-1].kind == "punct" and toks[-1].text == ")"
    ):
        depth = 0
        matched = True
        for i, t in enumerate(toks):
            if t.kind == "punct":
                depth += t.text == "("
                depth -= t.text == ")"
            if depth == 0 and i < len(toks) - 1:
                matched = False  # e.g. "(a = 1) IN (...)": outer ≠ pair
                break
        if not matched:
            break
        toks = toks[1:-1]
    p = _Parser.__new__(_Parser)
    p.toks = list(toks)
    p.i = 0
    try:
        pred = p._subset_pred()
    except SqlDmlError:
        return None
    return pred if p.i == len(p.toks) else None


class _Parser:
    def __init__(self, sql: str):
        self.toks = _tokenize(sql)
        self.i = 0

    # ------------------------------------------------------------ plumbing

    def _peek(self, ahead: int = 0) -> "_Tok | None":
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def _kw(self, tok: "_Tok | None") -> str | None:
        if tok is not None and tok.kind == "ident" and tok.text.lower() in _KEYWORDS:
            return tok.text.lower()
        return None

    def _take(self) -> _Tok:
        if self.i >= len(self.toks):
            raise SqlDmlError("unexpected end of statement")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _expect_kw(self, *words: str) -> str:
        t = self._take()
        kw = self._kw(t)
        if kw not in words:
            raise SqlDmlError(
                f"expected {'/'.join(w.upper() for w in words)}, "
                f"got {t.text!r}"
            )
        return kw

    def _expect_ident(self) -> str:
        t = self._take()
        if t.kind != "ident" or self._kw(t):
            raise SqlDmlError(f"expected identifier, got {t.text!r}")
        return t.text

    def _expect_punct(self, p: str) -> None:
        t = self._take()
        if t.kind != "punct" or t.text != p:
            raise SqlDmlError(f"expected {p!r}, got {t.text!r}")

    def _at_kw(self, *words: str) -> bool:
        return self._kw(self._peek()) in words

    # Raw-TEXT matching for statement words that must NOT become
    # reserved (they are plausible column names — a word in _KEYWORDS
    # is rejected by _expect_ident everywhere, so reserving e.g. "all"
    # or "cluster" would break existing tables using it as a column).

    def _word(self, tok: "_Tok | None") -> "str | None":
        return (
            tok.text.lower()
            if tok is not None and tok.kind == "ident"
            else None
        )

    def _at_word(self, *words: str) -> bool:
        return self._word(self._peek()) in words

    def _expect_word(self, *words: str) -> str:
        t = self._take()
        w = self._word(t)
        if w not in words:
            raise SqlDmlError(
                f"expected {'/'.join(x.upper() for x in words)}, "
                f"got {t.text!r}"
            )
        return w

    # ------------------------------------------------------------ literals

    def _literal(self):
        t = self._take()
        if t.kind == "number":
            txt = t.text
            return float(txt) if ("." in txt or "e" in txt.lower()) else int(txt)
        if t.kind == "string":
            return t.text[1:-1].replace("''", "'")
        kw = self._kw(t)
        if kw == "true":
            return True
        if kw == "false":
            return False
        raise SqlDmlError(f"expected a literal, got {t.text!r}")

    # --------------------------------------------------------- conjunction

    def _subset_pred(self) -> tuple:
        """One predicate of the sargable subset:
        ``col (= | < | <= | > | >=) literal`` or ``col IN (lit, ...)``."""
        col = self._expect_ident()
        nxt = self._peek()
        if self._kw(nxt) == "in":
            self._take()
            self._expect_punct("(")
            vals = [self._literal()]
            while self._peek() is not None and self._peek().text == ",":
                self._take()
                vals.append(self._literal())
            self._expect_punct(")")
            return (col, "in", vals)
        t = self._take()
        if t.kind != "punct" or t.text not in ("=", "<", "<=", ">", ">="):
            raise SqlDmlError(
                f"unsupported operator {t.text!r} in WHERE (supported:"
                f" = < <= > >= IN; use the Python API for richer"
                f" predicates)"
            )
        return (col, t.text, self._literal())

    def _where_conj(self) -> list[tuple]:
        """The ``(col, op, value)`` conjunction ManagedTable consumes —
        file-skipping-preserving by construction (OPTIMIZE's partition
        scope keeps this strict form: a predicate it cannot map to
        partitions must fail loudly, not degrade to a row filter)."""
        preds = [self._subset_pred()]
        while self._at_kw("and"):
            self._take()
            preds.append(self._subset_pred())
        return preds

    def _where_mixed(self, stop_texts: tuple = ()) -> list[tuple]:
        """WHERE for DELETE / UPDATE: ANY Spark SQL boolean expression
        (Delta parity). Top-level AND conjuncts that fit the sargable
        subset become ``(col, op, value)`` tuples — manifest-stats +
        bloom FILE SKIPPING exactly as before; every other conjunct
        rides verbatim as a ``("", "expr", <sql>)`` residual the scan
        applies row-wise (``F.expr``) after pruning. A top-level OR
        makes the WHOLE clause one residual — splitting on AND across
        an OR would rewrite ``a AND b OR c`` as ``a AND (b OR c)``."""
        region: list[_Tok] = []
        depth = 0
        while True:
            t = self._peek()
            if t is None:
                break
            if (
                depth == 0
                and t.kind == "ident"
                and t.text.lower() in stop_texts
            ):
                break  # caller's tail (e.g. REPLACE WHERE's SELECT/VALUES)
            if t.kind == "punct":
                if t.text == ")" and depth == 0:
                    break  # caller's paren — malformed here; _done() raises
                depth += t.text == "("
                depth -= t.text == ")"
            region.append(self._take())
        if not region:
            raise SqlDmlError("empty WHERE clause")

        def text(toks: "list[_Tok]") -> str:
            return " ".join(t.text for t in toks)

        pieces: list[list] = []
        cur: list[_Tok] = []
        depth, case_depth, has_or, pending_between = 0, 0, False, 0
        for t in region:
            if t.kind == "punct":
                depth += t.text == "("
                depth -= t.text == ")"
            low = t.text.lower() if t.kind == "ident" else None
            # CASE ... END nests like parens: its WHEN conditions hold
            # ANDs/ORs that are NOT conjunction boundaries of the WHERE
            if low == "case":
                case_depth += 1
            elif low == "end" and case_depth:
                case_depth -= 1
            top = depth == 0 and case_depth == 0
            if top and low == "between":
                # BETWEEN lo AND hi: its AND is part of the predicate,
                # not a conjunction boundary
                pending_between += 1
            if top and low == "or":
                has_or = True
            if top and low == "and":
                if pending_between:
                    pending_between -= 1
                    cur.append(t)
                    continue
                if not cur:
                    raise SqlDmlError("dangling AND in WHERE clause")
                pieces.append(cur)
                cur = []
                continue
            cur.append(t)
        if not cur:
            raise SqlDmlError("dangling AND in WHERE clause")
        pieces.append(cur)
        if has_or:
            return [("", "expr", text(region))]
        preds = []
        for ct in pieces:
            sub = _try_subset(ct)
            preds.append(sub if sub is not None else ("", "expr", text(ct)))
        return preds

    # --------------------------------------------------------- expressions

    def _expr_text(self, stop_kws: set, aliases: "dict[str, str] | None" = None) -> str:
        """Collect tokens into a Spark SQL expression string until a
        top-level comma or one of ``stop_kws`` at paren depth 0.
        ``aliases`` rewrites ``<alias>.col`` prefixes (MERGE's t./s.)."""
        parts, depth = [], 0
        while True:
            t = self._peek()
            if t is None:
                break
            if depth == 0 and (
                (t.kind == "punct" and t.text == ",")
                or self._kw(t) in stop_kws
            ):
                break
            t = self._take()
            text = t.text
            if t.kind == "punct":
                depth += text == "("
                depth -= text == ")"
                if depth < 0:
                    self.i -= 1  # closing paren belongs to the caller
                    break
            if aliases and t.kind == "ident" and "." in text:
                head, rest = text.split(".", 1)
                if head.lower() in aliases:
                    text = f"{aliases[head.lower()]}.{rest}"
            parts.append(text)
        if not parts:
            raise SqlDmlError("empty expression")
        return " ".join(parts)

    def _assignments(self, stop_kws: set, aliases=None) -> dict:
        out: dict[str, str] = {}
        while True:
            col = self._expect_ident()
            if "." in col:  # "SET t.col = ..." — strip the target alias
                col = col.split(".", 1)[1]
            self._expect_punct("=")
            out[col] = self._expr_text(stop_kws, aliases)
            if self._peek() is not None and self._peek().text == ",":
                self._take()
                continue
            return out

    # ---------------------------------------------------------- statements

    def parse(self) -> "DmlStatement | None":
        head = self._kw(self._peek())
        if head == "copy" and self._kw(self._peek(1)) == "into":
            # COPY INTO db.t FROM '<path>' [FILEFORMAT = PARQUET]
            # [PATTERN = '<glob>'] [FORCE = TRUE|FALSE] — idempotent
            # file-level bulk ingestion (ManagedTable.copy_into)
            self._take()
            self._take()
            st = DmlStatement("copy_into", self._expect_ident())
            self._expect_kw("from")
            t = self._take()
            if t is None or t.kind != "string":
                raise SqlDmlError("COPY INTO expects FROM '<path>'")
            st.copy_source = t.text[1:-1].replace("''", "'")
            st.copy_format = "parquet"
            st.copy_pattern = "*.parquet"
            st.copy_force = False
            seen_opts: set = set()
            while self._peek() is not None:
                kw = self._expect_kw("fileformat", "pattern", "force")
                if kw in seen_opts:
                    # last-wins on a repeated option would silently mask
                    # a typo; the rest of the grammar errors loudly
                    raise SqlDmlError(
                        f"duplicate COPY INTO option {kw.upper()}"
                    )
                seen_opts.add(kw)
                self._expect_punct("=")
                if kw == "fileformat":
                    st.copy_format = self._expect_ident().lower()
                elif kw == "pattern":
                    t = self._take()
                    if t is None or t.kind != "string":
                        raise SqlDmlError("PATTERN expects a quoted glob")
                    st.copy_pattern = t.text[1:-1].replace("''", "'")
                else:
                    v = self._take()
                    low = (v.text if v is not None else "").lower()
                    if low not in ("true", "false"):
                        raise SqlDmlError(
                            f"FORCE takes TRUE or FALSE, got "
                            f"{v.text if v else None!r}"
                        )
                    st.copy_force = low == "true"
            self._done()
            return st
        if head == "delete":
            self._take()
            self._expect_kw("from")
            st = DmlStatement("delete", self._expect_ident())
            if self._at_kw("where"):
                self._take()
                st.where = self._where_mixed()
            self._done()
            return st
        if head == "update":
            self._take()
            st = DmlStatement("update", self._expect_ident())
            self._expect_kw("set")
            st.set_exprs = self._assignments({"where"})
            if self._at_kw("where"):
                self._take()
                st.where = self._where_mixed()
            self._done()
            return st
        if head == "merge":
            self._take()
            evolve = False
            nxt = self._peek()
            if (
                nxt is not None
                and nxt.kind == "ident"
                and nxt.text.lower() == "with"
            ):
                # MERGE WITH SCHEMA EVOLUTION INTO ... (Delta grammar);
                # matched by raw text so "schema"/"evolution" stay valid
                # column names everywhere else
                self._take()
                for w in ("schema", "evolution"):
                    tk = self._take()
                    if tk.kind != "ident" or tk.text.lower() != w:
                        raise SqlDmlError(
                            f"expected WITH SCHEMA EVOLUTION, got {tk.text!r}"
                        )
                evolve = True
            self._expect_kw("into")
            st = self._merge()
            st.merge_evolve = evolve
            return st
        if head == "alter":
            self._take()
            self._expect_kw("table")
            return self._alter()
        if head == "insert":
            self._take()
            kw = self._expect_kw("into", "overwrite")
            st = self._insert()
            if kw == "overwrite":
                # INSERT OVERWRITE = atomic truncate-and-load with the
                # same row-source/column-list surface as INSERT INTO
                if st.replace_where is not None:
                    raise SqlDmlError(
                        "INSERT OVERWRITE and REPLACE WHERE are exclusive"
                        " (REPLACE WHERE is already an overwrite, scoped"
                        " to its predicate)"
                    )
                st.insert_overwrite = True
            return st
        if head == "create" and self._kw(self._peek(1)) == "table":
            self._take()
            self._take()
            return self._create_table()
        if (
            head == "create"
            and self._word(self._peek(1)) == "or"
            and self._word(self._peek(2)) == "replace"
            and self._kw(self._peek(3)) == "table"
        ):
            # CREATE OR REPLACE TABLE ... AS SELECT (Delta shape): an
            # existing registered table is REPLACED atomically (one
            # overwrite commit — readers flip between complete states,
            # history stays time-travelable); a fresh name is a plain
            # CTAS. Parsed by the same _create_table body.
            self._take()
            self._take()
            self._take()
            self._take()
            st = self._create_table()
            if st is not None:
                if st.ctas_query is None:
                    raise SqlDmlError(
                        "CREATE OR REPLACE TABLE requires an AS SELECT "
                        "tail (USING managed_table)"
                    )
                if st.if_not_exists:
                    raise SqlDmlError(
                        "IF NOT EXISTS and OR REPLACE are exclusive"
                    )
                st.or_replace = True
            return st
        if head == "drop" and self._kw(self._peek(1)) == "table":
            self._take()
            self._take()
            if_exists = False
            if (
                self._at_kw("if")
                and self._kw(self._peek(1)) == "exists"
            ):
                self._take()
                self._take()
                if_exists = True
            st = DmlStatement("drop_table", self._expect_ident())
            st.if_exists = if_exists
            self._done()
            return st
        if head == "vacuum":
            self._take()
            st = DmlStatement("vacuum", self._expect_ident())
            if self._at_kw("retain"):
                self._take()
                n = self._literal()
                if not isinstance(n, (int, float)) or n < 0:
                    raise SqlDmlError("RETAIN expects a non-negative number")
                self._expect_kw("hours")
                st.retain_hours = float(n)
            if self._at_word("log"):
                # VACUUM ... LOG RETENTION n HOURS — trim the commit log
                # too (Delta's logRetentionDuration riding VACUUM).
                # "log"/"retention" are raw-text matched, staying valid
                # column names everywhere else.
                self._take()
                self._expect_word("retention")
                n = self._literal()
                if not isinstance(n, (int, float)) or n < 0:
                    raise SqlDmlError(
                        "LOG RETENTION expects a non-negative number"
                    )
                self._expect_kw("hours")
                st.log_retain_hours = float(n)
            if self._at_kw("dry"):
                # VACUUM ... DRY RUN (Delta shape, round 10): count what
                # would be removed, unlink nothing — the audit before
                # destroying time travel
                self._take()
                self._expect_kw("run")
                st.vacuum_dry = True
            self._done()
            return st
        if head == "convert":
            # CONVERT TO MANAGED_TABLE '<path>' [AS db.name] — adopt a
            # flat parquet directory in place (no data copy); see
            # ManagedTable.convert_in_place
            self._take()
            self._expect_kw("to")
            prov = self._expect_ident()
            if prov.lower() != "managed_table":
                raise SqlDmlError(
                    f"CONVERT TO supports MANAGED_TABLE here, got {prov!r}"
                )
            t = self._take()
            if t is None or t.kind != "string":
                raise SqlDmlError(
                    "CONVERT TO MANAGED_TABLE expects a quoted '<path>'"
                )
            st = DmlStatement("convert", "")
            st.location = t.text[1:-1].replace("''", "'")
            if self._at_kw("as"):
                self._take()
                st.table = self._expect_ident()
            self._done()
            return st
        if head == "optimize":
            self._take()
            st = DmlStatement("optimize", self._expect_ident())
            if self._at_kw("where"):
                # OPTIMIZE ... WHERE <partition predicate> (Delta shape):
                # scope the rewrite to matching partitions — at 100 TB
                # you fix the hot day, never rewrite the table
                self._take()
                st.where = self._where_conj()
            if self._at_kw("zorder"):
                self._take()
                self._expect_kw("by")
                self._expect_punct("(")
                cols = [self._expect_ident()]
                while True:
                    t = self._take()
                    if t.text == ")":
                        break
                    if t.text != ",":
                        raise SqlDmlError(
                            f"expected ',' or ')' in ZORDER BY, got {t.text!r}"
                        )
                    cols.append(self._expect_ident())
                st.zorder_cols = cols
            self._done()
            return st
        if head == "restore":
            self._take()
            st = DmlStatement("restore", self._expect_ident())
            self._expect_kw("to")
            kt = self._take()
            kw = kt.text.lower() if kt.kind == "ident" else None
            if kw not in ("version", "timestamp"):
                raise SqlDmlError(
                    f"expected VERSION/TIMESTAMP, got {kt.text!r}"
                )
            self._expect_kw("as")
            self._expect_kw("of")
            if kw == "version":
                n = self._literal()
                if not isinstance(n, int) or n < 0:
                    raise SqlDmlError(
                        "VERSION AS OF expects a non-negative integer"
                    )
                st.to_version = n
            else:
                ts = self._take()
                if ts.kind != "string":
                    raise SqlDmlError(
                        "TIMESTAMP AS OF expects a quoted timestamp"
                    )
                st.to_timestamp = ts.text[1:-1].replace("''", "'")
            self._done()
            return st
        if (
            self._word(self._peek()) == "truncate"
            and self._kw(self._peek(1)) == "table"
        ):
            # TRUNCATE TABLE db.t — same one-atomic-empty-overwrite as
            # DELETE without WHERE (old files stay for time travel /
            # vacuum), standard-SQL spelling
            self._take()
            self._take()
            st = DmlStatement("truncate", self._expect_ident())
            self._done()
            return st
        if head == "show" and self._kw(self._peek(1)) == "partitions":
            # SHOW PARTITIONS db.t — partition values with live file and
            # row counts, straight off the manifest (metadata-as-data;
            # no table scan at any size)
            self._take()
            self._take()
            st = DmlStatement("show_partitions", self._expect_ident())
            self._done()
            return st
        if head == "show" and self._kw(self._peek(1)) == "create":
            # SHOW CREATE TABLE db.t — the reconstructable DDL (Spark/
            # Delta auditor surface): schema + USING + LOCATION +
            # PARTITIONED/CLUSTERED BY + TBLPROPERTIES
            self._take()
            self._take()
            self._expect_kw("table")
            st = DmlStatement("show_create", self._expect_ident())
            self._done()
            return st
        if head == "show" and self._kw(self._peek(1)) == "tables":
            self._take()
            self._take()
            st = DmlStatement("show_tables", "")
            self._done()
            return st
        if head == "show" and self._kw(self._peek(1)) == "tblproperties":
            self._take()
            self._take()
            st = DmlStatement("show_properties", self._expect_ident())
            self._done()
            return st
        if head == "show" and self._word(self._peek(1)) == "columns":
            # SHOW COLUMNS (IN | FROM) db.t — one col_name row per live
            # logical column, schema order (Spark's SHOW COLUMNS shape)
            self._take()
            self._take()
            self._expect_kw("in", "from")
            st = DmlStatement("show_columns", self._expect_ident())
            self._done()
            return st
        if self._word(self._peek()) == "comment":
            # COMMENT ON TABLE db.t IS 'txt' | COMMENT ON COLUMN
            # db.t.c IS 'txt' — IS NULL clears (Spark semantics).
            # "comment"/"is" are raw-text matched, staying valid column
            # names.
            self._take()
            self._expect_kw("on")
            what = self._expect_kw("table", "column")
            name = self._expect_ident()
            if what == "column":
                tbl, _, col = name.rpartition(".")
                if "." not in tbl:
                    raise SqlDmlError(
                        "COMMENT ON COLUMN expects db.table.column, got "
                        f"{name!r}"
                    )
                st = DmlStatement("comment_column", tbl)
                st.column = col
            else:
                st = DmlStatement("comment_table", name)
            self._expect_word("is")
            nxt = self._peek()
            if (
                nxt is not None
                and nxt.kind == "ident"
                and nxt.text.lower() == "null"
            ):
                self._take()
                st.comment = None
            else:
                v = self._literal()
                if not isinstance(v, str):
                    raise SqlDmlError(
                        "COMMENT ... IS expects a quoted string or NULL"
                    )
                st.comment = v
            self._done()
            return st
        if head == "describe" and self._kw(self._peek(1)) == "detail":
            self._take()
            self._take()
            st = DmlStatement("detail", self._expect_ident())
            self._done()
            return st
        if head == "describe" and self._kw(self._peek(1)) == "history":
            self._take()
            self._take()
            st = DmlStatement("history", self._expect_ident())
            if self._at_kw("limit"):
                self._take()
                n = self._literal()
                if not isinstance(n, int) or n < 1:
                    raise SqlDmlError("LIMIT expects a positive integer")
                st.limit = n
            self._done()
            return st
        if (
            head == "describe"
            and self._word(self._peek(1)) == "extended"
        ):
            # DESCRIBE EXTENDED db.t col — Spark's column-statistics
            # surface, served from the last ANALYZE's stored stats.
            # A non-dotted name (or missing column) passes through to
            # spark.sql (its own DESCRIBE EXTENDED).
            nm = self._peek(2)
            col = self._peek(3)
            if (
                nm is not None
                and nm.kind == "ident"
                and "." in nm.text
                and col is not None
                and col.kind == "ident"
            ):
                self._take()
                self._take()
                st = DmlStatement("describe_column", self._expect_ident())
                st.column = self._expect_ident()
                self._done()
                return st
            return None
        if (
            self._word(self._peek()) == "analyze"
            and self._kw(self._peek(1)) == "table"
        ):
            self._take()
            self._take()
            st = DmlStatement("analyze", self._expect_ident())
            self._expect_word("compute")
            self._expect_word("statistics")
            if self._at_word("for"):
                self._take()
                kw = self._expect_word("columns", "all")
                if kw == "all":
                    self._expect_word("columns")
                    st.analyze_all = True
                else:
                    cols = [self._expect_ident()]
                    while (
                        self._peek() is not None
                        and self._peek().text == ","
                    ):
                        self._take()
                        cols.append(self._expect_ident())
                    st.analyze_columns = cols
            self._done()
            return st
        return None  # not DML: pass through to spark.sql

    def _create_table(self) -> "DmlStatement | None":
        """``CREATE TABLE db.t (col type, ...) [USING managed_table]
        [LOCATION 'path'] [PARTITIONED BY (dayCol)] [CLUSTERED BY
        (c1[, c2...])]`` — or the CTAS form (round-8 verdict item 4)
        ``CREATE TABLE db.t USING managed_table [LOCATION ...]
        [PARTITIONED BY ...] [CLUSTERED BY ...] AS SELECT ...`` (the
        SELECT tail is handed to ``spark.sql`` verbatim, full Spark SQL
        power for the row source, one atomic commit for the landing).
        Returns None — pass the statement through to ``spark.sql``
        untouched — whenever the form is NOT ours: a non-dotted name,
        another provider in USING, a CTAS WITHOUT an explicit ``USING
        managed_table`` (the default-provider CTAS stays Spark's), or
        types outside the scalar set. Pass-through is the misparse-safe
        direction here (this parser never EXECUTES a wrong mutation by
        declining; Spark then handles or rejects its own DDL), unlike
        DML where declining would silently drop a mutation."""
        if_not_exists = False
        if (
            self._at_kw("if")
            and self._kw(self._peek(1)) == "not"
            and self._kw(self._peek(2)) == "exists"
        ):
            self._take()
            self._take()
            self._take()
            if_not_exists = True
        name_tok = self._peek()
        if (
            name_tok is None
            or name_tok.kind != "ident"
            or "." not in name_tok.text
        ):
            return None
        try:
            st = DmlStatement("create_table", self._expect_ident())
            st.if_not_exists = if_not_exists
            is_deep_kw = (
                self._word(self._peek()) == "deep"
                and self._word(self._peek(1)) == "clone"
            )
            if self._at_word("shallow", "clone") or is_deep_kw:
                # CREATE TABLE db.t2 (SHALLOW | DEEP | <bare>) CLONE db.t1
                #   [VERSION AS OF n] [LOCATION 'path']
                # (Delta CLONE shapes): SHALLOW = metadata-only snapshot
                # reference, zero bytes copied (clone_to); DEEP — also
                # the bare-CLONE default, Delta parity — re-materializes
                # the snapshot into independent files (deep_clone_to)
                st.clone_deep = not self._at_word("shallow")
                if not self._at_word("clone"):
                    self._take()  # SHALLOW or DEEP
                self._expect_word("clone")
                st.kind = "create_clone"
                st.clone_source = self._expect_ident()
                if self._at_kw("version"):
                    self._take()
                    self._expect_kw("as")
                    self._expect_kw("of")
                    v = self._literal()
                    if not isinstance(v, int) or v < 0:
                        raise SqlDmlError(
                            "VERSION AS OF expects a non-negative integer"
                        )
                    st.clone_version = v
                if self._at_kw("location"):
                    self._take()
                    t = self._take()
                    if t is None or t.kind != "string":
                        raise SqlDmlError("LOCATION expects a quoted path")
                    st.location = t.text[1:-1].replace("''", "'")
                self._done()
                return st
            if self._at_word("like"):
                # CREATE TABLE db.t2 LIKE db.t1 [LOCATION 'p'] — a new
                # EMPTY table copying the source's schema, layout,
                # constraints, comments and table properties (Spark's
                # CREATE TABLE LIKE). "like" is raw-text matched: still
                # a valid column name everywhere else.
                self._take()
                st.kind = "create_like"
                st.like_source = self._expect_ident()
                if self._at_kw("location"):
                    self._take()
                    t = self._take()
                    if t is None or t.kind != "string":
                        raise SqlDmlError("LOCATION expects a quoted path")
                    st.location = t.text[1:-1].replace("''", "'")
                self._done()
                return st
            nxt = self._peek()
            if nxt is not None and nxt.kind == "punct" and nxt.text == "(":
                self._take()
                cols: list = []
                while True:
                    cname = self._expect_ident()
                    ctype = self._type_name()
                    ccomment = None
                    genexpr = None
                    extra = None  # ("default", expr) | ("identity", s, p)
                    while True:
                        if self._at_word("comment") and ccomment is None:
                            # c INT COMMENT 'txt' — raw-text matched so
                            # "comment" stays a valid column name
                            self._take()
                            v = self._literal()
                            if not isinstance(v, str):
                                raise SqlDmlError(
                                    "column COMMENT expects a quoted string"
                                )
                            ccomment = v
                        elif self._at_word("default") and extra is None:
                            # c INT DEFAULT <literal | (expr)> — computed
                            # for INSERTs/appends that omit the column
                            self._take()
                            nx = self._peek()
                            if (
                                nx is not None
                                and nx.kind == "punct"
                                and nx.text == "("
                            ):
                                self._take()
                                depth, parts = 1, []
                                while depth:
                                    tk = self._take()
                                    if tk.kind == "punct":
                                        depth += tk.text == "("
                                        depth -= tk.text == ")"
                                        if not depth:
                                            break
                                    parts.append(tk.text)
                                if not parts:
                                    raise SqlDmlError(
                                        "DEFAULT (...) needs an expression"
                                    )
                                extra = ("default", " ".join(parts))
                            else:
                                # unparenthesized forms (round-13):
                                # signed numerics (DEFAULT -1) and
                                # niladic functions
                                # (DEFAULT CURRENT_TIMESTAMP()) parse
                                # too — anything richer must be
                                # parenthesized
                                tk = self._take()
                                sign = ""
                                if (
                                    tk is not None
                                    and tk.kind == "punct"
                                    and tk.text in ("-", "+")
                                ):
                                    sign = tk.text
                                    tk = self._take()
                                    if tk is None or tk.kind != "number":
                                        raise SqlDmlError(
                                            "signed DEFAULT expects a "
                                            "numeric literal"
                                        )
                                if tk is None or tk.kind not in (
                                    "number", "string", "ident"
                                ):
                                    raise SqlDmlError(
                                        "DEFAULT expects a literal or a "
                                        "parenthesized expression"
                                    )
                                text = sign + tk.text
                                nx2 = self._peek()
                                if (
                                    tk.kind == "ident"
                                    and nx2 is not None
                                    and nx2.kind == "punct"
                                    and nx2.text == "("
                                ):
                                    self._take()
                                    cl = self._take()
                                    if (
                                        cl is None
                                        or cl.kind != "punct"
                                        or cl.text != ")"
                                    ):
                                        raise SqlDmlError(
                                            "bare DEFAULT f() takes no "
                                            "arguments — parenthesize "
                                            "the whole expression: "
                                            "DEFAULT (f(...))"
                                        )
                                    text = tk.text + "()"
                                extra = ("default", text)
                        elif (
                            self._at_word("generated")
                            and genexpr is None
                            and extra is None
                        ):
                            # c INT GENERATED ALWAYS AS (expr) — Delta's
                            # generated columns — or GENERATED
                            # (ALWAYS | BY DEFAULT) AS IDENTITY
                            # [(START WITH n [INCREMENT BY m])]
                            self._take()
                            always = True
                            if self._at_word("by"):
                                self._take()
                                self._expect_word("default")
                                always = False
                            else:
                                self._expect_word("always")
                            self._expect_kw("as")
                            if not always and not self._at_word(
                                "identity"
                            ):
                                raise SqlDmlError(
                                    "GENERATED BY DEFAULT is only valid "
                                    "AS IDENTITY (generated-expression "
                                    "columns are ALWAYS)"
                                )
                            if self._at_word("identity"):
                                self._take()
                                start, step = 1, 1
                                nx = self._peek()
                                if (
                                    nx is not None
                                    and nx.kind == "punct"
                                    and nx.text == "("
                                ):
                                    self._take()
                                    self._expect_word("start")
                                    self._expect_word("with")
                                    start = self._literal()
                                    if self._at_word("increment"):
                                        self._take()
                                        self._expect_kw("by")
                                        step = self._literal()
                                    self._expect_punct(")")
                                    if not isinstance(start, int) or not (
                                        isinstance(step, int) and step >= 1
                                    ):
                                        raise SqlDmlError(
                                            "IDENTITY START WITH expects an "
                                            "integer and INCREMENT BY a "
                                            "positive integer"
                                        )
                                extra = (
                                    "identity", start, step, always
                                )
                                continue
                            self._expect_punct("(")
                            depth, parts = 1, []
                            while depth:
                                tk = self._take()
                                if tk is None:
                                    raise SqlDmlError(
                                        "unterminated GENERATED ALWAYS "
                                        "AS (...) expression"
                                    )
                                if tk.kind == "punct":
                                    depth += tk.text == "("
                                    depth -= tk.text == ")"
                                    if not depth:
                                        break
                                parts.append(tk.text)
                            if not parts:
                                raise SqlDmlError(
                                    "GENERATED ALWAYS AS (...) needs an "
                                    "expression"
                                )
                            genexpr = " ".join(parts)
                        else:
                            break
                    cols.append((cname, ctype, ccomment, genexpr, extra))
                    t = self._take()
                    if t is not None and t.text == ")":
                        break
                    if t is None or t.text != ",":
                        raise SqlDmlError(
                            "expected ',' or ')' in the column list"
                        )
                st.create_columns = cols
            saw_provider = False
            while self._peek() is not None:
                kw = self._kw(self._peek())
                if kw == "using":
                    self._take()
                    prov = self._expect_ident()
                    if prov.lower() != "managed_table":
                        return None  # another provider's DDL
                    saw_provider = True
                elif kw == "location":
                    self._take()
                    t = self._take()
                    if t is None or t.kind != "string":
                        raise SqlDmlError(
                            "LOCATION expects a quoted path"
                        )
                    st.location = t.text[1:-1].replace("''", "'")
                elif kw == "partitioned":
                    self._take()
                    self._expect_kw("by")
                    self._expect_punct("(")
                    st.part_col = self._expect_ident()
                    self._expect_punct(")")
                elif kw == "clustered":
                    self._take()
                    self._expect_kw("by")
                    self._expect_punct("(")
                    cl = [self._expect_ident()]
                    while True:
                        t = self._take()
                        if t is not None and t.text == ")":
                            break
                        if t is None or t.text != ",":
                            raise SqlDmlError(
                                "expected ',' or ')' in CLUSTERED BY"
                            )
                        cl.append(self._expect_ident())
                    st.cluster_cols = cl
                elif kw == "tblproperties":
                    # inline TBLPROPERTIES (round-10): applied via the
                    # same validated namespace as ALTER ... SET
                    # TBLPROPERTIES, so SHOW CREATE TABLE's emitted DDL
                    # round-trips
                    self._take()
                    st.properties = self._tblproperties_list(
                        with_values=True
                    )
                elif kw is None and self._word(self._peek()) == "comment":
                    # table-level COMMENT 'txt' (Spark DDL position)
                    self._take()
                    v = self._literal()
                    if not isinstance(v, str):
                        raise SqlDmlError(
                            "table COMMENT expects a quoted string"
                        )
                    st.comment = v
                elif kw == "as" and st.create_columns is None:
                    # CTAS tail: verbatim to spark.sql. A column-list +
                    # AS combination falls to pass-through below (Spark
                    # rejects its own schema-and-query form).
                    self._take()
                    q = self._peek()
                    if q is None or not (
                        (q.kind == "ident" and q.text.lower() in ("select", "with"))
                        or (q.kind == "punct" and q.text == "(")
                    ):
                        return None
                    st.ctas_query = " ".join(
                        tk.text for tk in self.toks[self.i:]
                    )
                    self.i = len(self.toks)
                else:
                    return None  # TBLPROPERTIES/...: Spark's own DDL
            if st.create_columns is None:
                # column-less forms are ours ONLY as an explicit
                # managed_table CTAS
                if st.ctas_query is None or not saw_provider:
                    return None
            return st
        except SqlDmlError:
            return None

    def _insert(self) -> "DmlStatement":
        st = DmlStatement("insert", self._expect_ident())
        cols: "list[str] | None" = None
        t = self._peek()
        if t is not None and t.kind == "punct" and t.text == "(":
            self._take()
            cols = [self._expect_ident()]
            while True:
                t = self._take()
                if t.text == ")":
                    break
                if t.text != ",":
                    raise SqlDmlError(
                        f"expected ',' or ')' in column list, got {t.text!r}"
                    )
                cols.append(self._expect_ident())
        st.insert_columns = cols
        if (
            self._at_kw("by")
            and self._word(self._peek(1)) == "name"
        ):
            # INSERT INTO db.t BY NAME SELECT ... (Spark's by-name
            # binding): source columns bind to SAME-NAMED table columns,
            # any order; omitted columns null-backfill (generated ones
            # compute). Exclusive with an explicit column list — that IS
            # already a name binding.
            if cols is not None:
                raise SqlDmlError(
                    "INSERT BY NAME does not take a column list (the "
                    "source's own names are the binding)"
                )
            self._take()
            self._take()
            st.insert_by_name = True
        if (
            self._at_word("replace")
            and self._kw(self._peek(1)) == "where"
        ):
            # INSERT INTO db.t REPLACE WHERE <pred> (Delta's SQL
            # replaceWhere): predicate-scoped atomic overwrite — one
            # commit deletes matching rows and lands the new ones; every
            # incoming row must satisfy the predicate (retry safety)
            self._take()
            self._expect_kw("where")
            st.replace_where = self._where_mixed(
                stop_texts=("select", "values")
            )
        nxt = self._peek()
        kw = self._kw(nxt)
        if kw == "values" or (
            nxt is not None
            and nxt.kind == "ident"
            and nxt.text.lower() == "select"
        ):
            # hand the tail to spark.sql verbatim — full Spark SQL power
            # for the row source, transactional append for the landing
            st.insert_query = " ".join(
                tk.text for tk in self.toks[self.i:]
            )
            self.i = len(self.toks)
        else:
            raise SqlDmlError(
                "INSERT INTO expects VALUES or SELECT after the target"
            )
        return st

    def _alter(self) -> "DmlStatement":
        st = DmlStatement("alter", self._expect_ident())
        if self._at_word("sync"):
            # ALTER TABLE t SYNC IDENTITY (Delta): advance every identity
            # column's watermark to the data's max — the recovery for
            # tables whose rows predate the identity marking
            self._take()
            self._expect_word("identity")
            st.alter_op = "sync_identity"
            self._done()
            return st
        if self._at_word("cluster"):
            self._take()
            op = "cluster"
        else:
            op = self._expect_kw(
                "rename", "alter", "drop", "add", "set", "unset"
            )
        if op == "cluster":
            # ALTER TABLE t CLUSTER BY (c1 [, c2]) | CLUSTER BY NONE —
            # re-layout the table under a new clustering spec as ONE
            # atomic rewrite (ManagedTable.recluster); future writes and
            # compactions follow the new spec. NONE de-clusters.
            self._expect_kw("by")
            nxt = self._peek()
            if (
                nxt is not None
                and nxt.kind == "ident"
                and nxt.text.lower() == "none"
            ):
                self._take()
                st.alter_op = "cluster_by"
                st.cluster_cols = []
                self._done()
                return st
            self._expect_punct("(")
            cl = [self._expect_ident()]
            while True:
                tk = self._take()
                if tk.kind == "punct" and tk.text == ")":
                    break
                if tk.kind != "punct" or tk.text != ",":
                    raise SqlDmlError(
                        f"expected ',' or ')' in CLUSTER BY, got {tk.text!r}"
                    )
                cl.append(self._expect_ident())
            st.alter_op = "cluster_by"
            st.cluster_cols = cl
            self._done()
            return st
        if op in ("set", "unset"):
            # ALTER TABLE db.t (SET|UNSET) TBLPROPERTIES ('k' [= 'v'], ...)
            # — the Delta table-property surface; the supported key set
            # is validated at EXECUTION (conservative: unknown keys
            # raise, never silently record)
            self._expect_kw("tblproperties")
            props = self._tblproperties_list(with_values=op == "set")
            st.alter_op = (
                "set_properties" if op == "set" else "unset_properties"
            )
            st.properties = props
            self._done()
            return st
        if op == "add" and self._at_kw("constraint"):
            self._take()
            st.alter_op = "add_constraint"
            st.column = self._expect_ident()  # the constraint NAME
            self._expect_kw("check")
            self._expect_punct("(")
            # capture the raw expression between the balanced parens and
            # hand it to Spark verbatim — full SQL power for the check
            depth, parts = 1, []
            while depth:
                t = self._take()
                if t.kind == "punct" and t.text == "(":
                    depth += 1
                elif t.kind == "punct" and t.text == ")":
                    depth -= 1
                    if not depth:
                        break
                parts.append(t.text)
            if not parts:
                raise SqlDmlError("CHECK ( ) requires an expression")
            st.check_expr = " ".join(parts)
            self._done()
            return st
        if op == "drop" and self._at_kw("constraint"):
            self._take()
            st.alter_op = "drop_constraint"
            st.column = self._expect_ident()
            self._done()
            return st
        if op == "rename":
            if self._at_kw("to"):
                # ALTER TABLE db.t RENAME TO db.t2 — catalog-level name
                # rename, one metadata write; data/root untouched
                self._take()
                st.alter_op = "rename_table"
                st.to_name = self._expect_ident()
                self._done()
                return st
            self._expect_kw("column")
            st.alter_op = "rename"
            st.column = self._expect_ident()
            self._expect_kw("to")
            st.to_name = self._expect_ident()
        elif op == "alter":
            self._expect_kw("column")
            st.column = self._expect_ident()
            if self._at_word("comment"):
                # ALTER TABLE t ALTER COLUMN c COMMENT 'txt' | NULL
                self._take()
                nxt = self._peek()
                if (
                    nxt is not None
                    and nxt.kind == "ident"
                    and nxt.text.lower() == "null"
                ):
                    self._take()
                    st.comment = None
                else:
                    v = self._literal()
                    if not isinstance(v, str):
                        raise SqlDmlError(
                            "COMMENT expects a quoted string or NULL"
                        )
                    st.comment = v
                st.alter_op = "comment_column"
                self._done()
                return st
            # Spark's TYPE, the SQL-standard SET DATA TYPE, and the
            # Delta nullability forms SET NOT NULL / DROP NOT NULL
            kw = self._expect_kw("type", "set", "drop")
            if kw == "drop":
                if self._at_word("default"):
                    # ALTER TABLE t ALTER COLUMN c DROP DEFAULT
                    self._take()
                    st.alter_op = "drop_default"
                    self._done()
                    return st
                self._expect_kw("not")
                tk = self._take()
                if tk.kind != "ident" or tk.text.lower() != "null":
                    raise SqlDmlError(
                        f"expected NULL after DROP NOT, got {tk.text!r}"
                    )
                st.alter_op = "drop_not_null"
                self._done()
                return st
            if kw == "set":
                nxt = self._kw(self._peek())
                if self._word(self._peek()) == "default":
                    # ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> —
                    # the remaining tokens verbatim (literal or any SQL
                    # expression; applies to future INSERTs only)
                    self._take()
                    rest = [tk.text for tk in self.toks[self.i:]]
                    if not rest:
                        raise SqlDmlError(
                            "SET DEFAULT expects an expression"
                        )
                    self.i = len(self.toks)
                    st.alter_op = "set_default"
                    st.default_expr = " ".join(rest)
                    self._done()
                    return st
                if nxt == "not":
                    self._take()
                    tk = self._take()
                    if tk.kind != "ident" or tk.text.lower() != "null":
                        raise SqlDmlError(
                            f"expected NULL after SET NOT, got {tk.text!r}"
                        )
                    st.alter_op = "set_not_null"
                    self._done()
                    return st
                self._expect_kw("data")
                self._expect_kw("type")
            st.alter_op = "widen"
            st.to_type = self._type_name()
        elif op == "drop":
            self._expect_kw("column")
            st.alter_op = "drop"
            st.column = self._expect_ident()
        else:  # add
            kw = self._expect_word("column", "columns")
            if kw == "columns":
                # ALTER TABLE t ADD COLUMNS (a int, b string) — the
                # Spark/Delta plural form; each add is its own
                # metadata-only commit, applied in order
                self._expect_punct("(")
                cols = []
                while True:
                    cname = self._expect_ident()
                    ctype = self._type_name()
                    cols.append((cname, ctype))
                    tk = self._take()
                    if tk.kind == "punct" and tk.text == ")":
                        break
                    if tk.kind != "punct" or tk.text != ",":
                        raise SqlDmlError(
                            f"expected ',' or ')' in ADD COLUMNS, got "
                            f"{tk.text!r}"
                        )
                st.alter_op = "add_columns"
                st.add_columns = cols
                self._done()
                return st
            st.alter_op = "add"
            st.column = self._expect_ident()
            st.to_type = self._type_name()
        if self._at_word("cascade"):
            # RENAME/DROP COLUMN ... CASCADE (round-13): also drop the
            # dependent catalog views the bare form refuses to break
            if st.alter_op not in ("rename", "drop"):
                raise SqlDmlError(
                    "CASCADE applies to RENAME COLUMN / DROP COLUMN only"
                )
            self._take()
            st.cascade = True
        self._done()
        return st

    def _tblproperties_list(self, with_values: bool) -> dict:
        """Parse ``('k' [= 'v'], ...)`` — shared by ALTER SET/UNSET
        TBLPROPERTIES and CREATE TABLE's inline TBLPROPERTIES clause."""
        self._expect_punct("(")
        props: dict = {}
        while True:
            kt = self._take()
            if kt is None or kt.kind != "string":
                raise SqlDmlError("TBLPROPERTIES keys are string literals")
            key = kt.text[1:-1].replace("''", "'")
            if with_values:
                self._expect_punct("=")
                vt = self._take()
                if vt is None or vt.kind not in ("string", "number"):
                    raise SqlDmlError(
                        f"TBLPROPERTIES value for {key!r} must be a "
                        f"string or number literal"
                    )
                props[key] = (
                    vt.text[1:-1].replace("''", "'")
                    if vt.kind == "string"
                    else vt.text
                )
            else:
                props[key] = None
            nt = self._take()
            if nt is not None and nt.kind == "punct" and nt.text == ",":
                continue
            if nt is not None and nt.kind == "punct" and nt.text == ")":
                break
            raise SqlDmlError("expected ',' or ')' in TBLPROPERTIES list")
        return props

    def _type_name(self) -> str:
        t = self._take()
        if t.kind != "ident":
            raise SqlDmlError(f"expected a type name, got {t.text!r}")
        return t.text

    def _done(self) -> None:
        if self.i != len(self.toks):
            raise SqlDmlError(
                f"unsupported trailing SQL: "
                f"{' '.join(t.text for t in self.toks[self.i:self.i + 8])!r}"
            )

    def _maybe_alias(self) -> str | None:
        if self._at_kw("as"):
            self._take()
            return self._expect_ident()
        t = self._peek()
        if t is not None and t.kind == "ident" and not self._kw(t) and "." not in t.text:
            return self._take().text
        return None

    def _merge(self) -> DmlStatement:
        st = DmlStatement("merge", self._expect_ident())
        tgt_alias = (self._maybe_alias() or "t").lower()
        self._expect_kw("using")
        if self._peek() is not None and self._peek().text == "(":
            # parenthesized subquery: slice its tokens verbatim
            self._take()
            depth, parts = 1, []
            while depth:
                t = self._take()
                if t.kind == "punct":
                    depth += t.text == "("
                    depth -= t.text == ")"
                    if depth == 0:
                        break
                parts.append(t.text)
            st.source_query = " ".join(parts)
        else:
            st.source = self._expect_ident()
        src_alias = (self._maybe_alias() or "s").lower()
        aliases = {tgt_alias: "t", src_alias: "s"}
        self._expect_kw("on")
        st.on = self._merge_on(tgt_alias, src_alias)
        def action_clause(cond: "str | None") -> dict:
            kw2 = self._expect_kw("update", "delete")
            if kw2 == "update":
                self._expect_kw("set")
                return {
                    "condition": cond,
                    "update": self._assignments({"when"}, aliases),
                }
            return {"condition": cond, "delete": True}

        while self._at_kw("when"):
            self._take()
            kw = self._expect_kw("matched", "not")
            if kw == "matched":
                cond = None
                if self._at_kw("and"):
                    self._take()
                    cond = self._expr_text({"then"}, aliases)
                self._expect_kw("then")
                st.matched_clauses.append(action_clause(cond))
            else:
                self._expect_kw("matched")
                if self._at_kw("by"):
                    self._take()
                    side = self._expect_kw("source", "target")
                    if side == "source":
                        cond = None
                        if self._at_kw("and"):
                            self._take()
                            cond = self._expr_text({"then"}, aliases)
                        self._expect_kw("then")
                        st.by_source_clauses.append(action_clause(cond))
                        continue
                    # BY TARGET = the plain NOT MATCHED insert form
                cond = None
                if self._at_kw("and"):
                    self._take()
                    cond = self._expr_text({"then"}, aliases)
                self._expect_kw("then")
                self._expect_kw("insert")
                nxt = self._peek()
                if nxt is not None and nxt.kind == "punct" and nxt.text == "*":
                    self._take()
                    st.insert_clauses.append(
                        {"condition": cond, "insert": "*"}
                    )
                else:
                    # INSERT ( col [, col]... ) VALUES ( expr [, expr]... )
                    self._expect_punct("(")
                    ins_cols = [self._expect_ident()]
                    while True:
                        t = self._take()
                        if t is not None and t.text == ")":
                            break
                        if t is None or t.text != ",":
                            raise SqlDmlError(
                                "expected ',' or ')' in INSERT column list"
                            )
                        ins_cols.append(self._expect_ident())
                    self._expect_kw("values")
                    self._expect_punct("(")
                    exprs, depth, parts = [], 1, []
                    while True:
                        t = self._take()
                        if t is None:
                            raise SqlDmlError(
                                "unterminated VALUES ( ... ) in MERGE INSERT"
                            )
                        if t.kind == "punct" and t.text == "(":
                            depth += 1
                        elif t.kind == "punct" and t.text == ")":
                            depth -= 1
                            if depth == 0:
                                exprs.append(" ".join(parts))
                                break
                        elif t.kind == "punct" and t.text == "," and depth == 1:
                            exprs.append(" ".join(parts))
                            parts = []
                            continue
                        text = t.text
                        if t.kind == "ident" and "." in text:
                            head, rest = text.split(".", 1)
                            if head.lower() in aliases:
                                text = f"{aliases[head.lower()]}.{rest}"
                        parts.append(text)
                    if len(exprs) != len(ins_cols) or any(
                        not e.strip() for e in exprs
                    ):
                        raise SqlDmlError(
                            f"MERGE INSERT has {len(ins_cols)} columns but "
                            f"{len(exprs)} VALUES expressions"
                        )
                    st.insert_clauses.append(
                        {
                            "condition": cond,
                            "insert": dict(zip(ins_cols, exprs)),
                        }
                    )
        self._done()
        for clauses, label in (
            (st.matched_clauses, "WHEN MATCHED"),
            (st.by_source_clauses, "WHEN NOT MATCHED BY SOURCE"),
            (st.insert_clauses, "WHEN NOT MATCHED"),
        ):
            for i, cl in enumerate(clauses):
                if cl["condition"] is None and i < len(clauses) - 1:
                    raise SqlDmlError(
                        f"unconditional {label} clause must be last — "
                        f"later clauses could never fire "
                        f"(first-match-wins)"
                    )
        st.when_not_matched_insert = bool(st.insert_clauses)
        if not (
            st.matched_clauses
            or st.by_source_clauses
            or st.insert_clauses
        ):
            raise SqlDmlError("MERGE with no WHEN clauses would be a no-op")
        return st

    def _merge_on(self, tgt_alias: str, src_alias: str) -> list[str]:
        """``t.k = s.k [AND ...]`` — equi-join on same-named columns (the
        ManagedTable.merge key contract)."""
        cols = []
        while True:
            a = self._expect_ident()
            self._expect_punct("=")
            b = self._expect_ident()
            sides = {}
            for ref in (a, b):
                if "." not in ref:
                    raise SqlDmlError(
                        f"MERGE ON references must be alias-qualified "
                        f"({tgt_alias}.col = {src_alias}.col), got {ref!r}"
                    )
                alias, col = ref.split(".", 1)
                sides[alias.lower()] = col
            if set(sides) != {tgt_alias, src_alias}:
                raise SqlDmlError(
                    f"MERGE ON must compare target and source aliases, "
                    f"got {a!r} = {b!r}"
                )
            if sides[tgt_alias] != sides[src_alias]:
                raise SqlDmlError(
                    f"MERGE ON requires same-named key columns "
                    f"(got {a!r} = {b!r}); rename the source column"
                )
            cols.append(sides[tgt_alias])
            if self._at_kw("and") and self._kw(self._peek(1)) != "when":
                # lookahead: AND followed by an equi-pair continues the key;
                # AND inside WHEN conditions never reaches here
                nxt = self._peek(1)
                if nxt is not None and nxt.kind == "ident" and "." in nxt.text:
                    self._take()
                    continue
            return cols


def parse_dml(sql: str) -> "DmlStatement | None":
    """Parse ``sql`` into a :class:`DmlStatement`, ``None`` when the
    statement is not DELETE/UPDATE/MERGE (callers pass those through to
    ``spark.sql``). Raises :class:`SqlDmlError` on DML outside the
    supported grammar — loud, never a misparse."""
    return _Parser(sql).parse()


_TT_RE = re.compile(
    r"(?P<name>[A-Za-z_][A-Za-z0-9_$]*\.[A-Za-z_][A-Za-z0-9_$]*)\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')",
    re.IGNORECASE,
)


_TC_RE = re.compile(
    r"table_changes\s*\(\s*'(?P<name>[^']+)'\s*,\s*(?P<v1>\d+)"
    r"\s*(?:,\s*(?P<v2>\d+)\s*)?\)",
    re.IGNORECASE,
)


def _rewrite_table_changes(spark: SparkSession, catalog, sql: str) -> str:
    """SQL change-data-feed TVF (round-10, Delta's ``table_changes``):
    rewrite ``table_changes('db.t', v1 [, v2])`` over REGISTERED names
    into temp views over :meth:`ManagedTable.read_cdf` — every data
    column plus ``_change_type`` / ``_commit_version``. ``v1``/``v2``
    are INCLUSIVE commit versions (Delta's contract; ``read_cdf`` takes
    the exclusive-start form, so ``v1`` maps to ``from_version=v1-1``);
    ``v2`` omitted = through the current head. Versions only — the
    timestamp form travels through ``version_at`` in the Python API.
    Unregistered names raise loudly (a TVF Spark itself cannot resolve
    must not silently pass through to a confusing analyzer error).
    View names are deterministic per (root, v1, v2-or-head) so repeated
    audit queries re-point rather than accumulate."""
    known = set(catalog.names())

    # string spans: never rewrite a match that STARTS inside a quoted
    # literal (the TVF's own first argument is a literal INSIDE the
    # match, which is fine — the match starts at the identifier)
    spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", sql)]

    def sub(m):
        name = m.group("name")
        if name not in known:
            raise SqlDmlError(
                f"table_changes: {name!r} is not a registered table "
                f"(known: {sorted(known)})"
            )
        from data_warehouse_copy_spark.sources.managed_table import (
            ManagedTable,
        )

        import hashlib as _hashlib

        t = ManagedTable(spark, catalog.root_of(name))
        v1 = int(m.group("v1"))
        v2 = int(m.group("v2")) if m.group("v2") is not None else None
        end = v2 if v2 is not None else t._head_version()
        df = t.read_cdf(v1 - 1, end)
        key = _hashlib.md5(
            f"{catalog.root_of(name)}|tc{v1}|{end}".encode()
        ).hexdigest()[:12]
        view = f"dwcs_tc_{key}"
        df.createOrReplaceTempView(view)
        return view

    out, last = [], 0
    for m in _TC_RE.finditer(sql):
        if any(s < m.start() < e for s, e in spans):
            continue
        out.append(sql[last:m.start()])
        out.append(sub(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _rewrite_time_travel(spark: SparkSession, catalog, sql: str) -> str:
    """SQL time travel through the catalog (round-7 item 6): rewrite
    ``db.t VERSION AS OF n`` / ``db.t TIMESTAMP AS OF 'ts'`` over
    REGISTERED names into uniquely-named temp views pinned at that
    version (``spark.read.format('managed_table').option(...)``), so
    auditors query history in pure SQL — the Delta SELECT surface.
    Spark's native ``AS OF`` cannot reach a Python Data Source view (the
    same JVM-DSv2 boundary as row-level DML), hence the rewrite.
    Conservative: names not in the catalog pass through untouched (Spark
    raises its own error), and spans inside single-quoted string
    literals are never rewritten. Each call pins fresh views — two
    travels to different versions in one query coexist."""
    known = set(catalog.names())

    def sub(m):
        name = m.group("name")
        if name not in known:
            return m.group(0)
        from data_warehouse_copy_spark.sources.datasource import register

        register(spark)
        import hashlib as _hashlib

        reader = spark.read.format("managed_table")
        if m.group("v") is not None:
            pin = f"v{m.group('v')}"
            reader = reader.option("versionAsOf", m.group("v"))
        else:
            pin = f"ts{m.group('ts')}"
            reader = reader.option("timestampAsOf", m.group("ts"))
        # DETERMINISTIC view name per (table root, pinned version/ts):
        # repeated audit queries re-point the same view instead of
        # accumulating one temp view per statement forever (round-8
        # advisor finding). createOrReplaceTempView makes the reuse
        # idempotent — the replacement definition is identical — and
        # distinct pins still coexist in one query. Dropping after
        # execution is NOT an option: the returned DataFrame is lazy
        # and may be collected long after this rewrite ran.
        key = _hashlib.md5(
            f"{catalog.root_of(name)}|{pin}".encode()
        ).hexdigest()[:12]
        view = f"dwcs_tt_{key}"
        reader.load(catalog.root_of(name)).createOrReplaceTempView(view)
        return view

    # protect string literals by SPAN, not by splitting: the timestamp
    # form's own quoted literal is part of the match, so a split would
    # sever it. A match is rewritten only when its START lies outside
    # every string span (its trailing 'ts' literal may lie inside one).
    spans = [
        m.span() for m in re.finditer(r"'(?:[^']|'')*'", sql)
    ]
    out, last = [], 0
    for m in _TT_RE.finditer(sql):
        if any(s < m.start() < e for s, e in spans):
            continue
        out.append(sql[last:m.start()])
        out.append(sub(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


# ---------------------------------------------------------------- SQL views
#
# CREATE [OR REPLACE] VIEW db.v AS SELECT ... — a persisted, named query
# (standard warehouse views; the reference has no SQL at all, so this is
# engine surface). A view is pure catalog metadata: its SELECT text lives
# in the NamedCatalog JSON next to the table map. Resolution is TEXTUAL
# INLINING at execute_sql time, which makes every existing rewrite
# compose for free: time travel inside a view body, table_changes,
# catalog DML sources (MERGE ... USING db.v), and — through the
# flatten fast-path — join-time dynamic file pruning THROUGH a view
# (the expanded text is the same star-join text the prune parser
# already fires on). Spark's own temp views would hide all of that
# behind an opaque relation the text-level machinery cannot see.

_QNAME = r"[A-Za-z_][A-Za-z0-9_$]*\.[A-Za-z_][A-Za-z0-9_$]*"
_CREATE_VIEW_RE = re.compile(
    rf"^\s*(?:CREATE\s+(?P<orr>OR\s+REPLACE\s+)?|(?P<alt>ALTER\s+))VIEW\s+"
    rf"(?P<name>{_QNAME})\s*"
    rf"(?:\(\s*(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)\s*)?"
    rf"AS\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_VIEW_RE = re.compile(
    rf"^\s*DROP\s+VIEW\s+(?P<ife>IF\s+EXISTS\s+)?"
    rf"(?P<name>{_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_VIEWS_RE = re.compile(r"^\s*SHOW\s+VIEWS\s*;?\s*$", re.IGNORECASE)
_SHOW_CREATE_RE = re.compile(
    rf"^\s*SHOW\s+CREATE\s+(?P<kind>TABLE|VIEW)\s+"
    rf"(?P<name>{_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_VIEW_NAME_RE = re.compile(rf"\b{_QNAME}\b")

# words that terminate a FROM item — a view reference followed by one of
# these carries no alias, so the inliner must supply AS <view-short-name>
# to keep qualified column references (v.col) resolving
_VIEW_CLAUSE_WORDS = frozenset(
    "where group order limit having on join inner left right full cross "
    "union except intersect when using set values and or then window "
    "qualify natural semi anti lateral".split()
)


def _body_is_flat(body: str) -> bool:
    """True when the view body has no top-level WHERE/GROUP/ORDER/LIMIT/
    HAVING/UNION — the shapes whose text can take an appended outer
    tail without changing meaning."""
    try:
        toks = _tokenize(body)
    except SqlDmlError:
        return False
    depth = 0
    for t in toks:
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        elif depth == 0 and t.text.lower() in (
            "where", "group", "order", "limit", "having",
            "union", "except", "intersect",
        ):
            return False
    return True


def inline_views(catalog, sql: str, _depth: int = 0):
    """Expand every catalog-view reference in ``sql`` to its stored
    SELECT text; returns the SQL unchanged when no view is referenced.

    - **flatten fast-path**: ``SELECT * FROM db.v [tail]`` becomes the
      body itself (tail appended when the body provably takes one), so
      a view over a star join hits ``try_dynamic_prune`` with exactly
      the text it knows how to probe.
    - **general**: each reference becomes ``( body ) AS <v>`` — or a
      bare ``( body )`` when the query supplies its own alias — valid
      in any FROM/JOIN/USING position.
    - **view-on-view** resolves by fixpoint iteration; a cycle trips
      the depth cap LOUDLY.
    - **dropped bases fail loudly**: each view records the catalog
      names its body referenced at CREATE time; if one has since been
      dropped, the error names it — never a stale read through a
      lingering attached temp view.
    """
    views = set(catalog.view_names())
    if not views:
        return sql
    if _depth > 10:
        raise SqlDmlError(
            "view inlining exceeded depth 10 — view-on-view cycle?"
        )
    spans = [m.span() for m in re.finditer(r"'(?:[^']|'')*'", sql)]
    hits = [
        m
        for m in _VIEW_NAME_RE.finditer(sql)
        if m.group(0) in views
        and not any(s < m.start() < e for s, e in spans)
        # a dot on either side means this is PART of a longer reference
        # (db.v.col / x.db.v) — never a standalone view name
        and not (m.end() < len(sql) and sql[m.end()] == ".")
        and not (m.start() > 0 and sql[m.start() - 1] == ".")
    ]
    if not hits:
        return sql
    tables = set(catalog.names())
    if hasattr(catalog, "matview_names"):
        tables |= set(catalog.matview_names())  # views-over-MVs resolve
    for vn in sorted({m.group(0) for m in hits}):
        for ref in catalog.view_refs(vn):
            if ref not in tables and ref not in views:
                raise SqlDmlError(
                    f"view {vn!r} references {ref!r}, which is no "
                    f"longer in the catalog — recreate the view or "
                    f"re-register the table"
                )
    flat = re.match(
        rf"^\s*SELECT\s+\*\s+FROM\s+(?P<name>{_QNAME})\s*(?P<tail>.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    if flat and flat.group("name") in views:
        body = catalog.view_sql(flat.group("name")).strip().rstrip(";")
        tail = flat.group("tail").strip().rstrip(";")
        if not tail:
            return inline_views(catalog, body, _depth + 1)
        first = tail.split(None, 1)[0].lower()
        if first in (
            "where", "group", "order", "limit", "having"
        ) and _body_is_flat(body):
            return inline_views(catalog, f"{body} {tail}", _depth + 1)
    out, last = [], 0
    for m in hits:
        out.append(sql[last:m.start()])
        body = catalog.view_sql(m.group(0)).strip().rstrip(";")
        vshort = m.group(0).split(".")[1]
        rest = sql[m.end():].lstrip()
        nw = re.match(r"[A-Za-z_][A-Za-z0-9_$]*", rest)
        word = nw.group(0).lower() if nw else None
        has_alias = word == "as" or (
            nw is not None
            and word not in _VIEW_CLAUSE_WORDS
            and "." not in nw.group(0)
        )
        out.append(f"( {body} )" if has_alias else f"( {body} ) AS {vshort}")
        last = m.end()
    out.append(sql[last:])
    return inline_views(catalog, "".join(out), _depth + 1)


def resolve_view_text(spark, catalog, body: str) -> str:
    """Fully resolve a view body for session registration: inline
    nested views, then apply the time-travel / table_changes text
    rewrites reads get (NamedCatalog.attach's view-mirror half)."""
    out = inline_views(catalog, body)
    if re.search(r"\bAS\s+OF\b", out, re.IGNORECASE):
        out = _rewrite_time_travel(spark, catalog, out)
    if re.search(r"\btable_changes\s*\(", out, re.IGNORECASE):
        out = _rewrite_table_changes(spark, catalog, out)
    return out


def _matview_write_guard(catalog, sql: str) -> None:
    # note: ALTER TABLE <mv> SET/UNSET TBLPROPERTIES — the one ALTER
    # form an MV accepts — is dispatched by _handle_matview_ddl BEFORE
    # this guard runs
    _view_write_guard(
        catalog, sql, vnames=set(catalog.matview_names()),
        kind="MATERIALIZED VIEW", drop_stmt="DROP MATERIALIZED VIEW",
    )


def _view_write_guard(
    catalog, sql: str, vnames: "set | None" = None, kind: str = "VIEW",
    drop_stmt: str = "DROP VIEW",
) -> None:
    """Views are read-only: a write-shaped statement whose TARGET is a
    view fails here with the right message, BEFORE inlining would mangle
    it into an unparseable subquery target. Materialized views ride the
    same guard (writes go to the BASE table; REFRESH folds them in)."""
    if vnames is None:
        vnames = set(catalog.view_names())
    if not vnames:
        return
    try:
        toks = _tokenize(sql)
    except SqlDmlError:
        return
    texts = [t.text for t in toks]
    low = [t.lower() for t in texts]

    def at(i):
        return low[i] if i < len(low) else None

    def txt(i):
        return texts[i] if i < len(texts) else ""

    def chk(name, op):
        if name in vnames:
            raise SqlDmlError(
                f"{op} targets {name!r}, which is a {kind} — it is "
                f"read-only (write to its base tables, or {drop_stmt} "
                f"first)"
            )

    if at(0) == "delete" and at(1) == "from":
        chk(txt(2), "DELETE")
    elif at(0) == "update":
        chk(txt(1), "UPDATE")
    elif at(0) == "insert" and at(1) in ("into", "overwrite"):
        chk(txt(2), "INSERT")
    elif at(0) == "merge":
        j = 4 if at(1) == "with" else 1  # MERGE WITH SCHEMA EVOLUTION
        if at(j) == "into":
            chk(txt(j + 1), "MERGE")
    elif at(0) == "alter" and at(1) == "table":
        chk(txt(2), "ALTER TABLE")
    elif at(0) == "truncate" and at(1) == "table":
        chk(txt(2), "TRUNCATE TABLE")
    elif at(0) in ("optimize", "vacuum", "restore"):
        chk(txt(1), at(0).upper())
    elif at(0) == "copy" and at(1) == "into":
        chk(txt(2), "COPY INTO")
    elif at(0) == "analyze" and at(1) == "table":
        chk(txt(2), "ANALYZE TABLE")
    elif at(0) == "drop" and at(1) == "table":
        name = txt(2) if at(2) != "if" else txt(4)
        if name in vnames:
            raise SqlDmlError(f"{name!r} is a {kind} — use {drop_stmt}")


# ------------------------------------------------------ materialized views
#
# CREATE MATERIALIZED VIEW db.mv LOCATION '<path>' AS SELECT ... FROM
# db.raw GROUP BY window(ts, '1 hour')[, dims] — round-13: the SQL half
# of the continuous-aggregate engine (streaming/rollup.py). The grammar
# REQUIRES a day-aligned tumbling window in the GROUP BY (duration
# divides 24 h) and a `window_start` output column — the invariants the
# per-day refresh machinery needs. Reads are resolved at runtime (the
# hybrid rollup ∪ touched-days union needs the raw table's change feed,
# which no static text rewrite can express), REFRESH is CDC-driven and
# day-scoped, and the cursor lives in the catalog JSON next to the text.

_CREATE_MATVIEW_RE = re.compile(
    rf"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>{_QNAME})\s+"
    rf"LOCATION\s+'(?P<loc>[^']+)'\s+"
    rf"(?:TBLPROPERTIES\s*\(\s*'matview\.autoRefresh'\s*=\s*"
    rf"'(?P<autorefresh>true|false)'\s*\)\s+)?"
    rf"AS\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MATVIEW_RE = re.compile(
    rf"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<ife>IF\s+EXISTS\s+)?"
    rf"(?P<name>{_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_REFRESH_MATVIEW_RE = re.compile(
    rf"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>{_QNAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_MATVIEWS_RE = re.compile(
    r"^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*$", re.IGNORECASE
)

_MV_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _mv_duration_seconds(dur: str) -> int:
    parts = dur.strip().split()
    if len(parts) != 2 or not parts[0].isdigit():
        raise SqlDmlError(
            f"materialized-view window duration {dur!r} must be "
            f"'<n> <unit>' (seconds/minutes/hours/days)"
        )
    n, unit = int(parts[0]), parts[1].lower()
    if unit not in _MV_UNITS or n <= 0:
        raise SqlDmlError(
            f"materialized-view window duration {dur!r}: unknown unit"
        )
    return n * _MV_UNITS[unit]


def _parse_matview_body(catalog, body: str) -> dict:
    """Validate + extract the MV invariants from the SELECT text.
    Two kinds (round-14 adds the second):

    - ``kind="window"``: GROUP BY contains exactly one ``window(<ts>,
      '<dur>')`` whose duration divides 24 h (so no bucket straddles a
      day — the per-day refresh exactness condition), other grouping
      items plain column refs, and a ``window_start`` output column
      (the store's partition column). Refresh scope = touched DAYS.
    - ``kind="dims"``: GROUP BY is plain column refs only (the common
      warehouse rollup, ``GROUP BY region, status``); every grouping
      column must also appear as a plain select item (optionally
      aliased) — it is the store's key. Refresh scope = touched KEYS
      from the change feed.

    The FROM table is the BASE (its change feed drives incremental
    refresh). ``kind="window"`` additionally accepts INNER star-joins
    against other registered tables (round-14): each joined table is a
    DIM whose read version is cursored — a dim change degrades reads
    to exact full recompute and the next refresh to a full rebuild.
    Outer/cross joins, dim-sourced window timestamps, base self-joins,
    joins on the dims kind, global aggregates (no GROUP BY) and
    expression grouping items reject loudly."""
    toks = _tokenize(body)
    if not toks or toks[0].text.lower() != "select":
        raise SqlDmlError(
            "CREATE MATERIALIZED VIEW body must be a SELECT"
        )
    depth = 0
    from_i = None
    for i, t in enumerate(toks):
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        elif depth == 0 and t.text.lower() == "from":
            from_i = i
            break
    if from_i is None or from_i + 1 >= len(toks):
        raise SqlDmlError("materialized view: no FROM clause")
    bt = toks[from_i + 1]
    if bt.kind != "ident" or bt.text.count(".") != 1:
        raise SqlDmlError(
            "materialized view: FROM must name one registered db.table"
        )
    base = bt.text
    if base not in set(catalog.names()):
        raise SqlDmlError(
            f"materialized view base {base!r} is not a registered table"
        )
    # round-14: star-join bodies — FROM fact [f] JOIN dim [d] ON ...
    # The FIRST table is the BASE (its change feed drives incremental
    # refresh); every joined table is a DIM whose version is cursored
    # (a dim change degrades reads to exact full recompute and refresh
    # to a full rebuild — the TimescaleDB join-caggs posture). INNER
    # joins only: an outer join would make output rows depend on dim
    # NON-matches, breaking the frozen-dim day-purity argument.
    join_dims: list = []
    dim_quals: set = set()  # dim short names + aliases, for ts guard
    ji = from_i + 2
    depth = 0
    while ji < len(toks):
        t = toks[ji]
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
            ji += 1
            continue
        low = t.text.lower()
        if depth == 0 and low in (
            "group", "where", "order", "limit", "having"
        ):
            break
        if depth == 0 and low in ("left", "right", "full", "cross",
                                  "semi", "anti", "natural", "lateral"):
            raise SqlDmlError(
                f"materialized view joins must be INNER ({low.upper()} "
                f"join bodies are not supported — an outer join's output "
                f"depends on dim non-matches, which breaks day-scoped "
                f"refresh exactness)"
            )
        if depth == 0 and low in ("join", "inner"):
            if low == "inner":
                ji += 1
                continue
            if ji + 1 >= len(toks) or toks[ji + 1].kind != "ident":
                raise SqlDmlError("materialized view: JOIN needs a table")
            dname = toks[ji + 1].text
            if dname.count(".") != 1 or dname not in set(catalog.names()):
                raise SqlDmlError(
                    f"materialized view join table {dname!r} is not a "
                    f"registered table"
                )
            if dname.lower() == base.lower():
                raise SqlDmlError(
                    "materialized view: self-join with the base table "
                    "is not supported (the base reference swaps for "
                    "the refresh day-slice; a second reference would "
                    "swap too and lose the join semantics)"
                )
            join_dims.append(dname)
            dim_quals.add(dname.lower())
            dim_quals.add(dname.lower().split(".")[-1])
            # record the dim's alias ([AS] ident) for the ts guard
            k = ji + 2
            if (
                k < len(toks)
                and toks[k].kind == "ident"
                and toks[k].text.lower() == "as"
            ):
                k += 1
            if (
                k < len(toks)
                and toks[k].kind == "ident"
                and toks[k].text.lower() not in _VIEW_CLAUSE_WORDS
                and "." not in toks[k].text
            ):
                dim_quals.add(toks[k].text.lower())
            ji += 2
            continue
        ji += 1
    # locate top-level GROUP BY
    gi = None
    depth = 0
    for i, t in enumerate(toks):
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        elif (
            depth == 0
            and t.text.lower() == "group"
            and i + 1 < len(toks)
            and toks[i + 1].text.lower() == "by"
        ):
            gi = i + 2
            break
    if gi is None:
        raise SqlDmlError(
            "materialized view needs GROUP BY — either "
            "window(<ts>, '<duration>') [, dims] (day-scoped refresh) "
            "or plain columns (key-scoped refresh); global aggregates "
            "are not supported"
        )
    # collect the GROUP BY token range and scan for window(...)
    ts_col = None
    duration = None
    gb_toks: list = []
    i = gi
    depth = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
            if depth < 0:
                break
        if depth == 0 and t.kind == "ident" and t.text.lower() in (
            "order", "limit", "having"
        ):
            break
        if (
            depth == 0
            and t.kind == "ident"
            and t.text.lower() == "window"
            and i + 5 < len(toks)
            and toks[i + 1].text == "("
            and toks[i + 2].kind == "ident"
            and toks[i + 3].text == ","
            and toks[i + 4].kind == "string"
            and toks[i + 5].text == ")"
        ):
            if ts_col is not None:
                raise SqlDmlError(
                    "materialized view: exactly ONE window(...) bucket"
                )
            qual = toks[i + 2].text
            if (
                "." in qual
                and qual.rsplit(".", 1)[0].lower() in dim_quals
            ):
                raise SqlDmlError(
                    f"materialized view: the window timestamp {qual!r} "
                    f"must come from the base table {base!r} — "
                    f"day-scoped refresh cuts the base's change feed "
                    f"and raw scan by it"
                )
            ts_col = qual.split(".")[-1]
            duration = toks[i + 4].text.strip("'\"")
            i += 6
            continue
        gb_toks.append(t)
        i += 1
    if ts_col is not None:
        if not any(
            t.kind == "ident" and t.text.lower() == "window_start"
            for t in toks[:from_i]
        ):
            raise SqlDmlError(
                "materialized view SELECT must expose the bucket as a "
                "window_start column (e.g. window.start AS "
                "window_start) — it is the store's day-partition column"
            )
        secs = _mv_duration_seconds(duration)
        if 86400 % secs != 0:
            raise SqlDmlError(
                f"materialized-view window duration {duration!r} must "
                f"divide 24 h so no bucket straddles a day boundary"
            )
        out = {
            "base": base, "kind": "window", "ts_col": ts_col,
            "duration": duration,
        }
        if join_dims:
            out["join_dims"] = sorted(set(join_dims))
        return out
    if join_dims:
        raise SqlDmlError(
            "materialized view: star-join bodies need a window(<ts>, "
            "'<dur>') bucket (day-scoped refresh); plain GROUP BY over "
            "a join is not supported yet"
        )
    # dims kind: every grouping item must be ONE plain column ref
    items: list = []
    cur: list = []
    for t in gb_toks:
        if t.kind == "punct" and t.text == ",":
            items.append(cur)
            cur = []
        else:
            cur.append(t)
    items.append(cur)
    raw_dims: list = []
    for it in items:
        if len(it) != 1 or it[0].kind != "ident":
            raise SqlDmlError(
                "materialized view GROUP BY items must be plain column "
                "refs (or one window(<ts>, '<dur>') bucket) — "
                "expression grouping keys are not supported; "
                f"got {' '.join(t.text for t in it) or '<empty>'!r}"
            )
        raw_dims.append(it[0].text.split(".")[-1].lower())
    # map each grouping column to its OUTPUT name via the select list
    sel_items: list = []
    cur = []
    depth = 0
    for t in toks[1:from_i]:
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        if t.kind == "punct" and t.text == "," and depth == 0:
            sel_items.append(cur)
            cur = []
        else:
            cur.append(t)
    sel_items.append(cur)
    out_of: dict = {}
    for it in sel_items:
        if len(it) == 1 and it[0].kind == "ident":
            raw = it[0].text.split(".")[-1].lower()
            out_of.setdefault(raw, raw)
        elif (
            len(it) == 3
            and it[0].kind == "ident"
            and it[1].kind == "ident"
            and it[1].text.lower() == "as"
            and it[2].kind == "ident"
        ):
            out_of.setdefault(
                it[0].text.split(".")[-1].lower(), it[2].text.lower()
            )
    dims: list = []
    for rc in raw_dims:
        if rc not in out_of:
            raise SqlDmlError(
                f"materialized view grouping column {rc!r} must appear "
                f"as a plain select item (optionally aliased) — it is "
                f"the store's key, so the output must carry it"
            )
        dims.append([rc, out_of[rc]])
    return {"base": base, "kind": "dims", "dims": dims}


def _handle_matview_ddl(spark, catalog, sql: str):
    """CREATE/DROP/REFRESH MATERIALIZED VIEW + SHOW MATERIALIZED VIEWS;
    None when the statement is none of these."""
    from pyspark.sql import types as T

    from data_warehouse_copy_spark.streaming.matview import MaterializedView

    m = _CREATE_MATVIEW_RE.match(sql)
    if m is not None:
        name = m.group("name")
        body = m.group("body").strip().rstrip(";")
        if name in set(catalog.matview_names()):
            raise SqlDmlError(
                f"materialized view {name!r} already exists — DROP "
                f"MATERIALIZED VIEW it first"
            )
        gdb = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
        if name.split(".")[0] != gdb:
            raise SqlDmlError(
                f"CREATE MATERIALIZED VIEW {name}: names live in this "
                f"session's global-temp database {gdb!r}"
            )
        meta = _parse_matview_body(catalog, body)
        meta.update(sql=body, location=m.group("loc"), cursor=0)
        if m.group("autorefresh") is not None:
            meta["auto_refresh"] = (
                m.group("autorefresh").lower() == "true"
            )
        catalog.register_matview(name, meta)
        try:
            n = MaterializedView(spark, catalog, name).build()
        except Exception:
            catalog.drop_matview(name)  # never persist a broken MV
            raise
        return _summary(spark, "CREATE MATERIALIZED VIEW", n)
    m = re.match(
        rf"^\s*ALTER\s+TABLE\s+(?P<name>{_QNAME})\s+"
        rf"(?P<op>SET|UNSET)\s+TBLPROPERTIES\s*\((?P<props>[^)]*)\)"
        rf"\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is not None and m.group("name") in set(catalog.matview_names()):
        # ALTER TABLE on a MATERIALIZED VIEW name (round-14): the only
        # MV property is the autoRefresh policy — anything else is loud.
        # Handled HERE, before _resolve_matviews would rewrite the MV
        # reference into its read-time temp view.
        name = m.group("name")
        unset = m.group("op").upper() == "UNSET"
        pairs = re.findall(
            r"'([^']+)'(?:\s*=\s*'([^']*)')?", m.group("props")
        )
        if not pairs:
            raise SqlDmlError("TBLPROPERTIES list is empty")
        for key, val in pairs:
            if key != "matview.autoRefresh":
                raise SqlDmlError(
                    f"unsupported materialized-view property {key!r}; "
                    f"supported: 'matview.autoRefresh' ('true'|'false')"
                )
            if unset:
                catalog.set_matview_auto_refresh(name, False)
            elif val.lower() in ("true", "false"):
                catalog.set_matview_auto_refresh(
                    name, val.lower() == "true"
                )
            else:
                raise SqlDmlError(
                    f"'matview.autoRefresh' takes 'true' or 'false', "
                    f"got {val!r}"
                )
        return _summary(
            spark, f"ALTER {'UNSET' if unset else 'SET'}_PROPERTIES", 0
        )
    m = _DROP_MATVIEW_RE.match(sql)
    if m is not None:
        name = m.group("name")
        if name not in set(catalog.matview_names()):
            if m.group("ife") is not None:
                return _summary(spark, "DROP MATERIALIZED VIEW", 0)
            raise SqlDmlError(f"materialized view {name!r} not in catalog")
        catalog.drop_matview(name)
        # the rollup store's data stays on disk (names never delete
        # data), same as DROP TABLE's external-table semantics
        return _summary(spark, "DROP MATERIALIZED VIEW", 0)
    m = _REFRESH_MATVIEW_RE.match(sql)
    if m is not None:
        name = m.group("name")
        if name not in set(catalog.matview_names()):
            raise SqlDmlError(f"materialized view {name!r} not in catalog")
        res = MaterializedView(spark, catalog, name).refresh()
        return _local_frame(
            spark,
            [(
                "REFRESH MATERIALIZED VIEW",
                int(res["to_version"]),
                res["days"],
                int(res["deleted"]),
                int(res["inserted"]),
            )],
            T.StructType([
                T.StructField("operation", T.StringType(), False),
                T.StructField("cursor", T.LongType(), False),
                T.StructField(
                    "refreshed_days", T.ArrayType(T.StringType()), False
                ),
                T.StructField("rows_deleted", T.LongType(), False),
                T.StructField("rows_inserted", T.LongType(), False),
            ]),
        )
    if _SHOW_MATVIEWS_RE.match(sql) is not None:
        rows = []
        for name in catalog.matview_names():
            mv = MaterializedView(spark, catalog, name)
            head, days = mv.pending_days()
            rows.append((
                name, mv.meta["base"], int(mv.meta["cursor"]),
                int(head), days,
            ))
        return _local_frame(
            spark,
            rows,
            T.StructType([
                T.StructField("name", T.StringType(), False),
                T.StructField("base", T.StringType(), False),
                T.StructField("cursor", T.LongType(), False),
                T.StructField("base_head", T.LongType(), False),
                T.StructField(
                    "pending_days", T.ArrayType(T.StringType()), False
                ),
            ]),
        )
    m = _SHOW_CREATE_RE.match(sql)
    if m is not None and m.group("name") in set(catalog.matview_names()):
        # SHOW CREATE TABLE/VIEW on an MV: emit the re-runnable DDL
        name = m.group("name")
        mv = catalog.matview(name)
        props = (
            "TBLPROPERTIES ('matview.autoRefresh' = "
            f"'{str(bool(mv.get('auto_refresh'))).lower()}') "
            if mv.get("auto_refresh") is not None
            else ""
        )
        ddl = (
            f"CREATE MATERIALIZED VIEW {name} LOCATION "
            f"'{mv['location']}' {props}AS {mv['sql']}"
        )
        return _local_frame(
            spark,
            [(ddl,)],
            T.StructType(
                [T.StructField("createtab_stmt", T.StringType(), False)]
            ),
        )
    m = re.match(
        rf"^\s*DESCRIBE\s+DETAIL\s+(?P<name>{_QNAME})\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is not None and m.group("name") in set(catalog.matview_names()):
        # staleness surfaced here (verdict item 5's "done" bar): cursor
        # vs base head + the exact pending days a REFRESH would fold
        name = m.group("name")
        mv = MaterializedView(spark, catalog, name)
        head, days = mv.pending_days()
        return _local_frame(
            spark,
            [(
                name, "MATERIALIZED VIEW", mv.meta["sql"],
                mv.meta["base"], mv.meta["location"],
                int(mv.meta["cursor"]), int(head), days, bool(days),
            )],
            T.StructType([
                T.StructField("name", T.StringType(), False),
                T.StructField("type", T.StringType(), False),
                T.StructField("view_sql", T.StringType(), False),
                T.StructField("base", T.StringType(), False),
                T.StructField("location", T.StringType(), False),
                T.StructField("cursor", T.LongType(), False),
                T.StructField("base_head", T.LongType(), False),
                T.StructField(
                    "pending_days", T.ArrayType(T.StringType()), False
                ),
                T.StructField("stale", T.BooleanType(), False),
            ]),
        )
    return None


def _resolve_matviews(spark, catalog, sql: str):
    """Swap every materialized-view reference in a READ statement for a
    temp view holding its exact hybrid read (rollup ∪ touched-days
    re-aggregate). Runtime resolution, not text inlining: the hybrid
    needs the base's change feed, which no static rewrite can express.
    Returns the (possibly rewritten) SQL."""
    mvs = set(catalog.matview_names())
    if not mvs or not any(n in sql for n in mvs):
        return sql
    from data_warehouse_copy_spark.streaming.matview import MaterializedView

    try:
        toks = _tokenize(sql)
    except SqlDmlError:
        return sql
    referenced = [
        n for n in sorted(mvs)
        if any(t.kind == "ident" and t.text == n for t in toks)
    ]
    if not referenced:
        return sql
    made: dict = {}
    for n in referenced:
        # DETERMINISTIC name per MV: createOrReplace keeps one session
        # temp view per MV (fresh each read) instead of leaking one per
        # query; plans already analyzed keep their old relation
        v = "__dwcs_mv_" + re.sub(r"[^A-Za-z0-9_]", "_", n)
        MaterializedView(spark, catalog, n).read().createOrReplaceTempView(v)
        made[n] = v
    out = []
    for i, t in enumerate(toks):
        if t.kind == "ident" and t.text in made:
            # plain identifier, not backticked: the rewritten text goes
            # back through parse_dml, whose tokenizer has no backticks
            out.append(made[t.text])
            nxt = toks[i + 1] if i + 1 < len(toks) else None
            if nxt is None or (
                nxt.kind == "ident"
                and nxt.text.lower() in _VIEW_CLAUSE_WORDS
            ) or nxt.kind == "punct":
                out.append(f"AS {t.text.split('.')[-1]}")
        else:
            out.append(t.text)
    return " ".join(out)


def _handle_view_ddl(spark, catalog, sql: str):
    """CREATE/DROP/SHOW VIEW + SHOW CREATE over a view; None when the
    statement is none of these (the caller continues)."""
    from pyspark.sql import types as T

    m = _CREATE_VIEW_RE.match(sql)
    if m is not None:
        name = m.group("name")
        body = m.group("body").strip().rstrip(";")
        if m.group("alt") is not None:
            # ALTER VIEW v AS SELECT ... — SQL-standard respelling of
            # CREATE OR REPLACE VIEW, except the view must exist
            if name not in set(catalog.view_names()):
                raise SqlDmlError(f"view {name!r} not in catalog")
        elif m.group("orr") is None and name in set(catalog.view_names()):
            raise SqlDmlError(
                f"view {name!r} already exists — CREATE OR REPLACE VIEW "
                f"replaces it"
            )
        head = body.split(None, 1)[0].lower() if body.split() else ""
        if head not in ("select", "with") and not body.startswith("("):
            raise SqlDmlError(
                "CREATE VIEW body must be a SELECT/WITH query"
            )
        if m.group("cols"):
            # CREATE VIEW v (a, b) AS ... — the column list renames the
            # body's output positionally, stored INSIDE the body text so
            # every resolution path (inline, attach mirror, SHOW CREATE
            # re-run) sees the renamed shape
            cols = [c.strip() for c in m.group("cols").split(",")]
            body = (
                "SELECT "
                + ", ".join(f"__dwcs_v.{c}" for c in cols)
                + f" FROM ( {body} ) AS __dwcs_v ("
                + ", ".join(cols)
                + ")"
            )
        known = set(catalog.names()) | set(catalog.view_names())
        if hasattr(catalog, "matview_names"):
            known |= set(catalog.matview_names())
        try:
            refs = sorted(
                {
                    t.text
                    for t in _tokenize(body)
                    if t.kind == "ident"
                    and t.text.count(".") == 1
                    and t.text in known
                }
            )
        except SqlDmlError:
            refs = []
        inlined = inline_views(catalog, body)
        try:
            catalog.attach(spark)
        except Exception:
            pass  # validation may still resolve via session temp views
        # validation (and the session mirror below) needs the same
        # text rewrites execute_sql applies to reads — a body using
        # time travel / table_changes is legal view SQL
        resolved = inlined
        if re.search(r"\bAS\s+OF\b", resolved, re.IGNORECASE):
            resolved = _rewrite_time_travel(spark, catalog, resolved)
        if re.search(r"\btable_changes\s*\(", resolved, re.IGNORECASE):
            resolved = _rewrite_table_changes(spark, catalog, resolved)
        if hasattr(catalog, "matview_names"):
            # views COMPOSE over materialized views (round-13): the MV
            # ref resolves at read time (execute_sql runs
            # _resolve_matviews AFTER view inlining), so validation and
            # the session mirror resolve it the same way here
            resolved = _resolve_matviews(spark, catalog, resolved)
        try:
            spark.sql(resolved)  # analysis only — no job runs
        except Exception as e:
            raise SqlDmlError(
                f"CREATE VIEW {name}: body does not resolve: {e}"
            ) from None
        db, vshort = name.split(".")
        gdb = spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
        if db != gdb:
            # round-13 (advice fix): a wrong-db view used to persist
            # fine and then POISON every later attach() — of unrelated
            # tables too — until dropped; fail here, where the table
            # registration path already fails at attach
            raise SqlDmlError(
                f"CREATE VIEW {name}: views live in this session's "
                f"global-temp database {gdb!r}; use {gdb}.{vshort}"
            )
        catalog.register_view(name, body, refs)
        # session mirror for the pure-SQL surface. Known boundary
        # (round-14, advice): an MV-referencing body resolves through a
        # __dwcs_mv_* temp view whose plan is version-pinned at the
        # LAST _resolve_matviews run — so PLAIN spark.sql over the
        # mirror can go stale after later base-table writes (same
        # attach-pinning contract as table views; names.py module
        # docstring; pinned in tests/test_matview.py). catalog.sql
        # stays exact (it re-resolves per statement);
        # catalog.refresh(spark)/attach re-pin the mirror.
        spark.sql(
            f"CREATE OR REPLACE GLOBAL TEMPORARY VIEW `{vshort}` "
            f"AS {resolved}"
        )
        return _summary(spark, "CREATE VIEW", 0)
    m = _DROP_VIEW_RE.match(sql)
    if m is not None:
        name = m.group("name")
        if name not in set(catalog.view_names()):
            if m.group("ife") is not None:
                return _summary(spark, "DROP VIEW", 0)
            if name in set(catalog.names()):
                raise SqlDmlError(f"{name!r} is a TABLE — use DROP TABLE")
            raise SqlDmlError(f"view {name!r} not in catalog")
        catalog.drop_view(name)
        try:
            spark.catalog.dropGlobalTempView(name.split(".")[1])
        except Exception:
            pass
        return _summary(spark, "DROP VIEW", 0)
    if _SHOW_VIEWS_RE.match(sql) is not None:
        rows = [(n, catalog.view_sql(n)) for n in catalog.view_names()]
        return _local_frame(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField("name", T.StringType(), False),
                    T.StructField("view_sql", T.StringType(), False),
                ]
            ),
        )
    m = re.match(
        rf"^\s*DESCRIBE\s+DETAIL\s+(?P<name>{_QNAME})\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is not None and m.group("name") in set(catalog.view_names()):
        # DESCRIBE DETAIL on a view: metadata-only summary — a view has
        # no files/version of its own, just its stored text and bases
        name = m.group("name")
        return _local_frame(
            spark,
            [
                (
                    name,
                    "VIEW",
                    catalog.view_sql(name),
                    sorted(catalog.view_refs(name)),
                )
            ],
            T.StructType(
                [
                    T.StructField("name", T.StringType(), False),
                    T.StructField("type", T.StringType(), False),
                    T.StructField("view_sql", T.StringType(), False),
                    T.StructField(
                        "base_references", T.ArrayType(T.StringType()), False
                    ),
                ]
            ),
        )
    m = re.match(
        rf"^\s*SHOW\s+TBLPROPERTIES\s+(?P<name>{_QNAME})\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if m is not None and m.group("name") in set(catalog.view_names()):
        # views carry no table properties — empty result, not an error
        return _local_frame(
            spark,
            [],
            T.StructType(
                [
                    T.StructField("key", T.StringType(), False),
                    T.StructField("value", T.StringType(), False),
                ]
            ),
        )
    m = _SHOW_CREATE_RE.match(sql)
    if m is not None:
        name = m.group("name")
        if name in set(catalog.view_names()):
            stmt = f"CREATE OR REPLACE VIEW {name} AS {catalog.view_sql(name)}"
            return _local_frame(
                spark,
                [(stmt,)],
                T.StructType(
                    [T.StructField("createtab_stmt", T.StringType(), False)]
                ),
            )
        if m.group("kind").lower() == "view":
            raise SqlDmlError(f"view {name!r} not in catalog")
    return None


def _apply_table_properties(
    t: "ManagedTable", properties: dict, unset: bool
) -> None:
    """Apply a (SET | UNSET) TBLPROPERTIES map to ``t`` — the shared body
    of ALTER TABLE SET/UNSET TBLPROPERTIES and CREATE TABLE's inline
    TBLPROPERTIES clause (so SHOW CREATE TABLE's emitted DDL round-trips).

    The supported namespace is deliberately tiny and validated here — an
    unknown key raises rather than being recorded-and-ignored (a
    silently-dead knob is worse than no knob). autoCompact is the Delta
    autoOptimize shape. All keys of ONE statement merge into a single
    policy update against the current policy (order-free by
    construction):
      SET   autoCompact=false       -> policy cleared (knobs in the same
                                       statement too)
      SET   autoCompact=true + knob -> enabled with that knob
      SET   knob alone              -> enabled (current policy as base),
                                       knob updated
      UNSET autoCompact             -> policy cleared entirely
      UNSET knob alone              -> knob back to its default;
                                       enablement unchanged"""
    _AC = "autoCompact"
    _KNOBS = {
        "autoCompact.maxFilesPerPartition": (
            "max_files_per_partition", 16,
        ),
        "autoCompact.maxMergeFiles": ("max_merge_files", 128),
        "autoCompact.maxFileBytes": ("max_file_bytes", 128 << 20),
    }
    enable: "bool | None" = None
    knob_vals: dict = {}
    for key, val in properties.items():
        if key == _AC:
            if unset:
                enable = False
                continue
            if str(val).lower() == "true":
                enable = True
            elif str(val).lower() == "false":
                enable = False
            else:
                raise SqlDmlError(
                    f"'{_AC}' takes 'true' or 'false', got {val!r}"
                )
        elif key in _KNOBS:
            arg, default = _KNOBS[key]
            if unset:
                knob_vals[arg] = default
                continue
            try:
                knob_vals[arg] = int(val)
            except (TypeError, ValueError):
                raise SqlDmlError(
                    f"{key} must be an integer, got {val!r}"
                ) from None
        elif key == "logRetention.hours":
            # Delta's logRetentionDuration: checkpoint writes also trim
            # log records/checkpoints older than this — automatic
            # bounded metadata under streaming ingest
            if unset:
                t.set_log_retention(None)
                continue
            try:
                t.set_log_retention(float(val))
            except (TypeError, ValueError):
                raise SqlDmlError(
                    f"logRetention.hours must be a number, got {val!r}"
                ) from None
        else:
            raise SqlDmlError(
                f"unsupported table property {key!r}; supported: "
                f"'{_AC}' ('true'|'false'), "
                + ", ".join(f"'{k}' (int)" for k in _KNOBS)
                + ", 'logRetention.hours' (number)"
            )
    current = t.auto_compact_policy()
    if enable is False:
        t.clear_auto_compact()
    elif enable is True or (
        knob_vals and (current is not None or not unset)
    ):
        merged = {arg: default for _, (arg, default) in _KNOBS.items()}
        if current:
            merged.update(
                {
                    k: v
                    for k, v in current.items()
                    if k in (
                        "max_files_per_partition", "max_merge_files",
                        "max_file_bytes",
                    )
                }
            )
        merged.update(knob_vals)
        t.set_auto_compact(**merged)


# --------------------------------------------------------------------------
# Join-time dynamic file pruning (round-10 verdict item 4).
#
# A selective dim ⋈ fact through the attached views scans EVERY fact file:
# Spark's own dynamic file pruning lives in the JVM optimizer and cannot
# cross the Python Data Source boundary, so the runtime subquery filter it
# would build never reaches the managed_table scan. The engine-native
# equivalent: when ANALYZE stats prove one join side small, probe its
# DISTINCT join keys (bounded collect) and push an ``in`` predicate into
# the fact side's relation-scoped ``where`` option — manifest min/max
# stats, bloom sidecars and row-group footers then skip fact files exactly
# as they do for literal predicates. This is also the stats' first
# planning CONSUMER (they were write-only telemetry before).
#
# Correctness is by construction, never by the stats: the probe collects
# the ACTUAL keys at query time (stats only gate whether we try), pruning
# an inner join's fact side by a superset of the dim's keys drops only
# rows that cannot join, and ANY structural doubt (outer joins, multiple
# joins, subqueries in FROM, unresolvable names, non-scalar keys, a probe
# overflowing the cap, a rewrite that fails analysis) falls back to the
# untouched original text — correct-but-unpruned, the right failure
# direction. Cross-relation snapshot skew is closed on the dim side by
# pinning the rewritten dim to the probe's version (``versionAsOf``); the
# fact resolves once, in the rewritten query itself.

_DFP_LOG = logging.getLogger("data_warehouse_copy_spark.dynamic_prune")
_DFP_MAX_KEYS = 20_000   # probe cap: largest IN-list pushed into the scan
_DFP_DIM_MAX = 2_000_000  # never probe a dim the stats call bigger
_DFP_MIN_RATIO = 4.0     # fact must be provably >= this x dim rows

#: words that may legally follow a table ref without being its alias
_DFP_STOPWORDS = {
    "join", "inner", "left", "right", "full", "cross", "on", "where",
    "group", "order", "limit", "having", "union", "as", "semi", "anti",
    "natural", "lateral", "using",
}
#: non-column identifier words inside a WHERE conjunct
_DFP_EXPR_WORDS = {
    "and", "or", "not", "between", "in", "like", "rlike", "ilike", "is",
    "null", "true", "false", "case", "when", "then", "else", "end",
    "cast", "as", "interval", "distinct", "escape",
}


def _dfp_split_conjuncts(toks: "list[_Tok]") -> "list[list[_Tok]]":
    """Top-level AND split (paren/CASE/BETWEEN aware — the _where_mixed
    rules). A top-level OR makes the whole clause one conjunct."""
    pieces: list[list[_Tok]] = []
    cur: list[_Tok] = []
    depth = case_depth = pending_between = 0
    has_or = False
    for t in toks:
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        low = t.text.lower() if t.kind == "ident" else None
        if low == "case":
            case_depth += 1
        elif low == "end" and case_depth:
            case_depth -= 1
        top = depth == 0 and case_depth == 0
        if top and low == "between":
            pending_between += 1
        if top and low == "or":
            has_or = True
        if top and low == "and" and not pending_between:
            pieces.append(cur)
            cur = []
            continue
        if top and low == "and" and pending_between:
            pending_between -= 1
        cur.append(t)
    pieces.append(cur)
    if has_or:
        return [toks]
    return [p for p in pieces if p]


def _dependent_views(catalog, table_name: str, column: str) -> list:
    """Catalog views broken by evolving ``column`` on ``table_name``
    (round-13 verdict item 3): a view counts when its stored body
    references the table AND touches the column — a bare or
    dot-qualified identifier match, or ``SELECT *`` (which touches
    every column). Unparseable bodies count conservatively. Closed
    transitively over view-on-view refs, so a parent of a broken view
    is named too."""
    views = catalog.view_names()
    col = column.lower()
    out: list = []
    for v in views:
        if table_name not in catalog.view_refs(v):
            continue
        try:
            toks = _tokenize(catalog.view_sql(v))
        except SqlDmlError:
            out.append(v)
            continue
        if any(
            (
                t.kind == "ident"
                and (
                    t.text.lower() == col
                    or t.text.lower().endswith("." + col)
                )
            )
            or (t.kind == "punct" and t.text == "*")
            for t in toks
        ):
            out.append(v)
    changed = True
    while changed:
        changed = False
        for v in views:
            if v not in out and any(
                r in out for r in catalog.view_refs(v)
            ):
                out.append(v)
                changed = True
    return sorted(out)


def _guard_view_dependencies(spark, catalog, st, opname: str) -> None:
    """DDL-time guard for RENAME/DROP COLUMN under dependent views:
    without it, evolution silently broke the view until query time,
    where the failure was a generic analysis error naming neither the
    view nor the DDL. Bare form fails LOUDLY naming the views; CASCADE
    drops them (catalog + session mirror) before the evolution
    proceeds."""
    deps = _dependent_views(catalog, st.table, st.column)
    mv_deps = []
    if hasattr(catalog, "matview_names"):
        # materialized views guard conservatively on ANY column of
        # their base (or a star-joined dim): the stored aggregate
        # almost always reads it, and a broken refresh is worse than a
        # too-eager error
        mv_deps = [
            n for n in catalog.matview_names()
            if catalog.matview(n).get("base") == st.table
            or st.table in (catalog.matview(n).get("join_dims") or [])
        ]
    if not deps and not mv_deps:
        return
    if st.cascade:
        for v in deps:
            catalog.drop_view(v)
            try:
                spark.catalog.dropGlobalTempView(v.split(".", 1)[1])
            except Exception:
                pass
        for n in mv_deps:
            catalog.drop_matview(n)  # store data stays on disk
        return
    if mv_deps:
        raise SqlDmlError(
            f"{opname} {st.column} on {st.table} would break dependent "
            f"MATERIALIZED VIEW(s) {sorted(mv_deps)}; DROP MATERIALIZED "
            f"VIEW them first, or append CASCADE"
        )
    raise SqlDmlError(
        f"{opname} {st.column} on {st.table} would break dependent "
        f"view(s) {deps}; DROP VIEW them (or re-CREATE them without "
        f"the column) first, or append CASCADE to drop them with it"
    )


def _dfp_null_rejecting(toks: "list[_Tok]") -> bool:
    """True iff this dim-only conjunct provably evaluates to non-TRUE
    when every dim column is NULL — the condition under which a LEFT
    join degenerates to inner. Conservative whitelist: plain
    comparison / IN / [NOT] LIKE / BETWEEN / IS NOT NULL / bare
    boolean-column forms (a NULL operand makes all of these NULL,
    which WHERE filters out), optionally CAST-wrapped. Anything that
    can map NULL dim columns to TRUE is rejected: ``IS NULL``,
    null-safe equality ``<=>``, ``IS [NOT] DISTINCT FROM``, ``CASE``,
    any non-builtin function call (``coalesce``, ``nvl``, ``ifnull``,
    ... may swallow NULLs), and any free-standing NOT (one not fused
    into IS NOT NULL / NOT IN / NOT LIKE / NOT BETWEEN): ``NOT (d.x =
    1 AND 1 = 2)`` and ``NOT (d.x IS NOT NULL)`` both evaluate TRUE on
    the all-NULL row. A top-level OR (round-14, found by the r13
    verdict: ``1 = 1 OR d.tier = 'hot'``) is null-rejecting only when
    EVERY disjunct independently is AND references a dim column — a
    dim-free disjunct (``1 = 1``, ``TRUE``, ``'a' = 'a'``) is TRUE
    regardless of the join, so the whole clause survives on unmatched
    rows."""
    if "<=>" in "".join(t.text for t in toks):
        return False
    n = len(toks)
    # free-standing NOT anywhere: reject outright. NOT over a
    # sub-expression that is FALSE on the all-NULL row (a literal
    # comparison, an IS form) yields TRUE; proving the inner expression
    # is NULL-propagating everywhere costs more than the pruning this
    # rare form would buy (found by the soundness property test,
    # tests/test_dynamic_prune.py, rounds 13-14)
    for i, t in enumerate(toks):
        if t.kind != "ident" or t.text.lower() != "not":
            continue
        prev = toks[i - 1] if i > 0 else None
        if (
            prev is not None
            and prev.kind == "ident"
            and prev.text.lower() == "is"
        ):
            continue  # the IS NOT NULL trigram
        nxt = toks[i + 1] if i + 1 < n else None
        if nxt is not None and nxt.kind == "ident" and nxt.text.lower() in (
            "in", "like", "between", "rlike", "ilike"
        ):
            continue  # NOT IN / NOT LIKE / ... are NULL-propagating
        return False
    return _dfp_nr_expr(toks)


def _dfp_strip_parens(toks: "list[_Tok]") -> "list[_Tok]":
    """Strip balanced outer parens that wrap the WHOLE expression —
    ``( 1 = 1 OR d.x = 5 )`` must see its OR at top level."""
    while (
        len(toks) >= 2
        and toks[0].kind == "punct"
        and toks[0].text == "("
        and toks[-1].kind == "punct"
        and toks[-1].text == ")"
    ):
        depth = 0
        for i, t in enumerate(toks):
            if t.kind == "punct":
                depth += t.text == "("
                depth -= t.text == ")"
            if depth == 0 and i < len(toks) - 1:
                return toks  # first paren closes early: not a wrapper
        toks = toks[1:-1]
    return toks


def _dfp_split_bool(toks: "list[_Tok]", word: str) -> "list[list[_Tok]]":
    """Split on top-level AND/OR (paren/CASE aware; BETWEEN's AND is
    never a splitter)."""
    pieces: list = []
    cur: list = []
    depth = case_depth = pending_between = 0
    for t in toks:
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        low = t.text.lower() if t.kind == "ident" else None
        if low == "case":
            case_depth += 1
        elif low == "end" and case_depth:
            case_depth -= 1
        top = depth == 0 and case_depth == 0
        if top and low == "between":
            pending_between += 1
        if top and low == "and" and pending_between:
            pending_between -= 1
        elif top and low == word:
            pieces.append(cur)
            cur = []
            continue
        cur.append(t)
    pieces.append(cur)
    return pieces


def _dfp_has_colref(toks: "list[_Tok]") -> bool:
    """At least one column-reference ident (not an expression keyword,
    not a function name). The conjunct has already passed the call
    site's this-dim-only check, so any column ref here IS a dim ref."""
    for i, t in enumerate(toks):
        if t.kind != "ident":
            continue
        if t.text.lower() in _DFP_EXPR_WORDS:
            continue
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if nxt is not None and nxt.kind == "punct" and nxt.text == "(":
            continue  # function name
        return True
    return False


def _dfp_nr_expr(toks: "list[_Tok]") -> bool:
    """Recursive null-rejection over the boolean structure (free NOT and
    <=> already rejected by the caller)."""
    toks = _dfp_strip_parens(toks)
    if not toks:
        return False
    disj = _dfp_split_bool(toks, "or")
    if len(disj) > 1:
        # OR is TRUE on the all-NULL row unless EVERY disjunct is
        # provably non-TRUE; a disjunct with no dim column ref can be
        # TRUE regardless of the join
        return all(
            d and _dfp_has_colref(d) and _dfp_nr_expr(d) for d in disj
        )
    conj = _dfp_split_bool(toks, "and")
    if len(conj) > 1:
        # AND is non-TRUE if ANY operand is provably non-TRUE (the
        # witness must itself reference a dim column)
        return any(
            c and _dfp_has_colref(c) and _dfp_nr_expr(c) for c in conj
        )
    return _dfp_nr_leaf(toks)


def _dfp_nr_leaf(toks: "list[_Tok]") -> bool:
    """Token-level whitelist for an OR/AND-free leaf."""
    n = len(toks)
    i = 0
    while i < n:
        t = toks[i]
        low = t.text.lower() if t.kind == "ident" else None
        if low in ("distinct", "case"):
            return False
        if low == "is":
            # only the exact  IS NOT NULL  form rejects NULLs
            if (
                i + 2 < n
                and toks[i + 1].text.lower() == "not"
                and toks[i + 2].text.lower() == "null"
            ):
                i += 3
                continue
            return False
        if (
            t.kind == "ident"
            and low not in _DFP_EXPR_WORDS
            and i + 1 < n
            and toks[i + 1].kind == "punct"
            and toks[i + 1].text == "("
        ):
            return False  # function call — may be NULL-tolerant
        i += 1
    return True


def _dfp_conjunct_refs(toks: "list[_Tok]") -> "tuple[set, set, bool]":
    """(qualifiers, bare column idents, has_subquery) of one conjunct.
    The tokenizer lexes ``d.tier`` as ONE dotted ident token, so a
    qualifier is the prefix before the first dot."""
    quals: set = set()
    bare: set = set()
    sub = False
    for i, t in enumerate(toks):
        if t.kind != "ident":
            continue
        low = t.text.lower()
        if low == "select":
            sub = True
        if low in _DFP_EXPR_WORDS:
            continue
        if "." in low:
            quals.add(low.split(".", 1)[0])
            continue
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if nxt is not None and nxt.kind == "punct" and nxt.text == "(":
            continue  # function name
        bare.add(low)
    return quals, bare, sub


def try_dynamic_prune(
    spark: SparkSession, catalog, sql: str, info: "dict | None" = None
) -> "DataFrame | None":
    """Attempt the semi-join-probe rewrite on a SELECT over two attached
    tables; None on any reason not to (the caller runs the original).
    ``info`` (tests) receives the probe decision when a rewrite lands."""
    try:
        out = _try_dynamic_prune(spark, catalog, sql, info)
    except Exception as e:
        if info is not None and "fallback_reason" not in info:
            info["fallback_reason"] = f"rewrite error: {e}"
        _DFP_LOG.debug("dynamic prune fell back: %s", e)
        return None  # ANY doubt → the untouched original text
    if out is None and info is not None and "fallback_reason" not in info:
        info["fallback_reason"] = "not a prunable shape"
    if out is None:
        _DFP_LOG.debug(
            "dynamic prune fell back: %s",
            (info or {}).get("fallback_reason", "not a prunable shape"),
        )
    return out


def _dfp_row_stats(spark, catalog, name: str) -> "dict | None":
    """Cardinalities for the prune gate: fresh ANALYZE stats when
    available, else the MANIFEST row total — exact at head, free, and
    always current (round-13: the gate only needs row counts, and
    pruning correctness never rests on stats — the probe reads actual
    keys — so stale ANALYZE must not cost a full fact scan). ``None``
    only for a table whose manifest cannot be read."""
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    t = ManagedTable(spark, catalog.root_of(name))
    s = t.table_stats()
    if s is not None and s.get("version") == t._head_version():
        return s
    try:
        return {"row_count": t.snapshot().total_rows, "source": "manifest"}
    except Exception:
        return None


def _try_dynamic_prune(spark, catalog, sql, info):
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    toks = _tokenize(sql)
    if not toks or toks[0].text.lower() != "select":
        return None
    # locate the single top-level FROM
    depth = 0
    from_i = None
    for i, t in enumerate(toks):
        if t.kind == "punct":
            depth += t.text == "("
            depth -= t.text == ")"
        elif depth == 0 and t.text.lower() == "from":
            from_i = i
            break
    if from_i is None:
        return None

    def table_ref(i):
        # the tokenizer lexes db.tbl as ONE dotted ident token
        if i >= len(toks) or toks[i].kind != "ident":
            return None
        name = toks[i].text
        j = i + 1
        alias = None
        if (
            j < len(toks)
            and toks[j].kind == "ident"
            and "." not in toks[j].text
            and toks[j].text.lower() not in _DFP_STOPWORDS
        ):
            alias = toks[j].text
            j += 1
        elif (
            j + 1 < len(toks)
            and toks[j].text.lower() == "as"
            and toks[j + 1].kind == "ident"
            and "." not in toks[j + 1].text
        ):
            alias = toks[j + 1].text
            j += 2
        return name, alias, i, j

    # FROM T0 [a0] ((INNER | LEFT [OUTER])? JOIN Ti [ai] ON q.c = q.c)+
    # — the star shape (round-11: generalized from the single-join form;
    # a 3-table chain t0⋈t1⋈t2 is the star around t1, equally prunable.
    # Round-12: LEFT OUTER joins prune too, but ONLY when the WHERE
    # carries a null-rejecting this-dim-only conjunct — exactly the
    # condition under which the outer join degenerates to inner, so the
    # fact-side in-list push stays value-exact).
    r0 = table_ref(from_i + 1)
    if r0 is None:
        return None
    tables = [r0]
    joins: list = []  # (left "q.c", right "q.c")
    left_joined: list = []  # per-join: True when LEFT [OUTER]
    j = r0[3]
    while True:
        is_left = False
        if j < len(toks) and toks[j].text.lower() == "inner":
            j += 1
        elif j < len(toks) and toks[j].text.lower() == "left":
            is_left = True
            j += 1
            if j < len(toks) and toks[j].text.lower() == "outer":
                j += 1
        if j >= len(toks) or toks[j].text.lower() != "join":
            break
        r = table_ref(j + 1)
        if r is None:
            return None
        tables.append(r)
        left_joined.append(is_left)
        j = r[3]
        # ON must be exactly  qual.col = qual.col  at top level
        if not (
            j + 3 < len(toks)
            and toks[j].text.lower() == "on"
            and toks[j + 1].kind == "ident"
            and toks[j + 1].text.count(".") == 1
            and toks[j + 2].kind == "punct"
            and toks[j + 2].text == "="
            and toks[j + 3].kind == "ident"
            and toks[j + 3].text.count(".") == 1
        ):
            return None
        joins.append((toks[j + 1].text, toks[j + 3].text))
        j += 4
    if not joins:
        return _try_dynamic_prune_in_subquery(
            spark, catalog, sql, toks, from_i, r0, info
        )
    tail_kw = toks[j].text.lower() if j < len(toks) else None
    if tail_kw not in (None, "where", "group", "order", "limit", "having"):
        return None  # compound ON / anything exotic
    if sum(1 for t in toks if t.text.lower() == "join") != len(joins):
        return None  # a JOIN hiding in a subquery somewhere
    names = set(catalog.names())
    tnames = [t[0] for t in tables]
    if len(set(tnames)) != len(tnames):  # self-joins: key spaces collide
        return None
    if any(n not in names for n in tnames):
        return None
    aliases = [(t[1] or t[0].split(".")[-1]) for t in tables]
    amap = {a.lower(): i for i, a in enumerate(aliases)}
    if len(amap) != len(aliases):
        return None
    pairs: list = []  # (left_alias, left_col, right_alias, right_col)
    for lq_c, rq_c in joins:
        lq, lc = lq_c.split(".")
        rq, rc = rq_c.split(".")
        if lq.lower() not in amap or rq.lower() not in amap:
            return None
        if lq.lower() == rq.lower():
            return None
        pairs.append((lq.lower(), lc, rq.lower(), rc))
    # the fact is an alias present in EVERY join (the star's center);
    # a two-table join has two candidates — stats orient it below
    cands = [
        a for a in amap if all(a in (p[0], p[2]) for p in pairs)
    ]
    if not cands:
        return None  # not a star (e.g. two joins sharing no table)

    # WHERE conjuncts (token slices), if any
    where_toks: list = []
    if tail_kw == "where":
        k = j + 1
        d = 0
        while k < len(toks):
            t = toks[k]
            if t.kind == "punct":
                d += t.text == "("
                d -= t.text == ")"
            elif d == 0 and t.text.lower() in ("group", "order", "limit",
                                               "having"):
                break
            where_toks.append(t)
            k += 1
    conjuncts = _dfp_split_conjuncts(where_toks) if where_toks else []

    # cardinality gate: every dim provably small, the fact provably >>
    # each — from fresh ANALYZE stats when present, else exact manifest
    # row totals (round-13: no ANALYZE required for pruning to fire)
    stats = {
        a.lower(): _dfp_row_stats(spark, catalog, tables[i][0])
        for a, i in amap.items()
    }
    unreadable = sorted(
        tables[amap[a]][0] for a, s2 in stats.items() if s2 is None
    )
    if unreadable and info is not None:
        info["fallback_reason"] = (
            f"unreadable manifest for {unreadable}"
        )
    pick = None
    for fa in cands:
        fs = stats[fa]
        if fs is None:
            continue
        dims = sorted({p[0] if p[2] == fa else p[2] for p in pairs})
        if all(
            stats[da] is not None
            and stats[da]["row_count"] <= _DFP_DIM_MAX
            and fs["row_count"]
            >= _DFP_MIN_RATIO * max(stats[da]["row_count"], 1)
            for da in dims
        ):
            pick = (fa, dims)
            break
    if pick is None:
        return None
    fa, dim_aliases = pick

    # LEFT-join soundness (round-12, tightened round-13): a left join
    # whose JOINED-IN side is a dim preserves unmatched fact rows, so
    # pruning the fact by that dim's keys needs a PROVABLY
    # null-rejecting this-dim-only WHERE conjunct (inner-degeneration)
    # — recorded here, enforced at probe time via _dfp_null_rejecting
    # (the anti-join idiom ``WHERE d.x IS NULL`` and NULL-tolerant
    # forms like ``coalesce(d.x,0)=0`` do NOT count). A left join that
    # joins the FACT in (dim LEFT JOIN fact) never preserves unmatched
    # fact rows: unconditionally prunable.
    needs_filter = set()
    for i, is_left in enumerate(left_joined):
        if not is_left:
            continue
        joined_alias = aliases[i + 1].lower()
        if joined_alias != fa:
            needs_filter.add(joined_alias)

    from data_warehouse_copy_spark.sources.datasource import register

    register(spark)
    suffix = uuid.uuid4().hex[:12]
    made_views: list = []

    def _mk_view(vname: str, root: str, **opts) -> None:
        parts = [f"path '{str(root).replace(chr(39), chr(39) * 2)}'"] + [
            f"{k} '{str(v).replace(chr(39), chr(39) * 2)}'"
            for k, v in opts.items()
        ]
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{vname}` "
            f"USING managed_table OPTIONS ({', '.join(parts)})"
        )
        made_views.append(vname)

    try:
        # probe each dim's DISTINCT join keys under its dim-only
        # conjuncts, version-pinned; an over-cap probe just drops THAT
        # dim's in-list (partial pruning stays conservative)
        triples: list = []
        probed: dict = {}  # dim alias -> (view name, version, n_keys, used)
        for da in dim_aliases:
            dim_name = tables[amap[da]][0]
            # the one join connecting this dim to the fact
            p = next(p for p in pairs if da in (p[0], p[2]))
            fact_key = p[1] if p[0] == fa else p[3]
            dim_key = p[1] if p[0] == da else p[3]
            dim_root = catalog.root_of(dim_name)
            dim_v = ManagedTable(spark, dim_root)._head_version()
            probe = (
                spark.read.format("managed_table")
                .option("versionAsOf", str(dim_v))
                .load(dim_root)
            )
            used = 0
            null_rejecting = 0
            for c in conjuncts:
                quals, bare, sub = _dfp_conjunct_refs(c)
                if sub or bare or quals != {da}:
                    continue  # not provably this-dim-only: stay a superset
                if da in needs_filter and not _dfp_null_rejecting(c):
                    # a LEFT-joined dim's probe may only apply
                    # provably null-rejecting conjuncts: NULL-tolerant
                    # ones (IS NULL, coalesce(...)=0) are satisfied by
                    # the all-NULL row unmatched fact rows see, so
                    # filtering the probe by them could shrink the
                    # in-list below the matched-key set
                    continue
                prefix = da + "."
                stripped = [
                    t.text[len(prefix):]
                    if t.kind == "ident"
                    and t.text.lower().startswith(prefix)
                    else t.text
                    for t in c
                ]
                probe = probe.where(" ".join(stripped))
                used += 1
                if _dfp_null_rejecting(c):
                    null_rejecting += 1
            if da in needs_filter and null_rejecting == 0:
                # LEFT-joined dim without a provably null-rejecting dim
                # filter (inner-degeneration): unmatched fact rows
                # survive the join, so its keys must not prune the
                # fact — skip this dim entirely
                continue
            rows = (
                probe.select(dim_key)
                .distinct()
                .limit(_DFP_MAX_KEYS + 1)
                .collect()
            )
            if len(rows) > _DFP_MAX_KEYS:
                continue  # this dim contributes no pruning
            keys = [r[0] for r in rows if r[0] is not None]
            if not all(
                isinstance(k, (int, str)) and not isinstance(k, bool)
                for k in keys
            ):
                continue  # only scalar key types the manifest stats compare
            triples.append([fact_key, "in", keys])
            vd = f"__dwcs_dfp_d{len(probed)}_{suffix}"
            _mk_view(vd, dim_root, versionAsOf=dim_v)
            probed[da] = (vd, dim_v, len(keys), used)
        if not triples:
            return None  # nothing to push — run the original
        where_json = json.dumps(triples)
        vf = f"__dwcs_dfp_f_{suffix}"
        _mk_view(vf, catalog.root_of(tables[amap[fa]][0]), where=where_json)
        # rebuild the query with the fact + probed dim refs swapped
        spans = []
        for a, i in amap.items():
            if a == fa:
                spans.append((tables[i][2], tables[i][3], vf, aliases[i]))
            elif a in probed:
                spans.append(
                    (tables[i][2], tables[i][3], probed[a][0], aliases[i])
                )
        out = [t.text for t in toks]
        for start, end, view, alias in sorted(spans, reverse=True):
            out[start:end] = [f"`{view}`", "AS", alias]
        new_sql = " ".join(out)
        try:
            df = spark.sql(new_sql)
        except Exception:
            return None  # rewrite failed analysis (db-qualified col refs)
    finally:
        for v in made_views:
            spark.catalog.dropTempView(v)
    if info is not None:
        first = dim_aliases[0] if dim_aliases else None
        info.update(
            fact=tables[amap[fa]][0],
            dims={
                da: {"n_keys": probed[da][2], "version": probed[da][1],
                     "conjuncts_used": probed[da][3]}
                for da in probed
            },
            where_json=where_json,
        )
        if first in probed:  # single-join compatibility fields
            info.update(
                dim=tables[amap[first]][0],
                n_keys=probed[first][2],
                dim_version=probed[first][1],
                dim_conjuncts_used=probed[first][3],
            )
    return df


def _try_dynamic_prune_in_subquery(
    spark, catalog, sql, toks, from_i, r0, info
):
    """Round-12: the semi-join shape — ``SELECT ... FROM fact [f] WHERE
    key IN (SELECT ... FROM dim ...)`` over registered tables. The
    subquery's DISTINCT keys probe (version-pinned, capped at
    ``_DFP_MAX_KEYS``) and push as an in-list into the fact scan; the
    rewritten query keeps the IN predicate itself — against the SAME
    pinned dim views — so the result is value-exact while manifest
    stats skip non-matching fact files. Correlated EXISTS decorrelates
    too (round-12 single-equality; round-13 multi-equality in-lists +
    inequality range bounds — see ``match_exists``); only
    expression-wrapped correlations stay documented fallbacks."""
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    fact_name, alias, t_start, t_end = r0
    names = set(catalog.names())
    if fact_name not in names:
        return None
    j = t_end
    if j >= len(toks) or toks[j].text.lower() != "where":
        return None
    where_toks: list = []
    k = j + 1
    d = 0
    while k < len(toks):
        t = toks[k]
        if t.kind == "punct":
            d += t.text == "("
            d -= t.text == ")"
        elif d == 0 and t.text.lower() in (
            "group", "order", "limit", "having"
        ):
            break
        where_toks.append(t)
        k += 1
    conjuncts = _dfp_split_conjuncts(where_toks)
    falias = (alias or fact_name.split(".")[-1]).lower()

    def match_in(c):
        if not (
            len(c) >= 5
            and c[0].kind == "ident"
            and c[1].text.lower() == "in"
            and c[2].kind == "punct"
            and c[2].text == "("
            and c[3].text.lower() == "select"
            and c[-1].kind == "punct"
            and c[-1].text == ")"
        ):
            return None
        col = c[0].text
        if "." in col:
            q, rest = col.split(".", 1)
            if q.lower() != falias or "." in rest:
                return None
            col = rest
        return col, c[3:-1]

    def match_exists(c):
        # EXISTS (SELECT ... FROM dim [d] WHERE d.c = f.key [AND
        # <dim-only conjuncts>]) — single-equality correlation
        # DECORRELATES to the IN shape: probe `SELECT c FROM dim [d]
        # WHERE <dim-only>` and push the fact key's in-list. Any other
        # correlation shape stays a documented fallback.
        if not (
            len(c) >= 6
            and c[0].kind == "ident"
            and c[0].text.lower() == "exists"
            and c[1].kind == "punct"
            and c[1].text == "("
            and c[2].text.lower() == "select"
            and c[-1].kind == "punct"
            and c[-1].text == ")"
        ):
            return None
        inner = c[2:-1]
        # locate the inner top-level FROM
        depth = 0
        fi = None
        for i, t in enumerate(inner):
            if t.kind == "punct":
                depth += t.text == "("
                depth -= t.text == ")"
            elif depth == 0 and t.text.lower() == "from":
                fi = i
                break
        if fi is None or fi + 1 >= len(inner):
            return None
        dt = inner[fi + 1]
        if dt.kind != "ident" or dt.text.count(".") != 1:
            return None
        dname = dt.text
        j2 = fi + 2
        dalias = dname.split(".")[-1].lower()
        alias_toks = []
        if (
            j2 < len(inner)
            and inner[j2].kind == "ident"
            and "." not in inner[j2].text
            and inner[j2].text.lower() != "where"
        ):
            dalias = inner[j2].text.lower()
            alias_toks = [inner[j2].text]
            j2 += 1
        if j2 >= len(inner) or inner[j2].text.lower() != "where":
            return None  # no correlation at all: not this shape
        inner_conj = _dfp_split_conjuncts(inner[j2 + 1:])
        # correlation conjuncts: <dim.c> OP <fact.k> (either side) for
        # OP in {=, <, <=, >, >=}. Equalities decorrelate to per-column
        # in-lists (a conservative superset of the true tuple set —
        # round-13 widened this to MULTI-equality); inequalities push
        # the dim-side extremum as a range bound on the fact key
        # (∃d: d.c >= f.k  ⇔  f.k <= max(d.c), under the dim-only
        # filters). The EXISTS predicate itself survives the rewrite
        # against the SAME pinned dim, so every push is a pre-filter,
        # never the semantics.
        def _qual_side(tok):
            """('dim'|'fact', column) when ``tok`` is an alias-qualified
            single-dot ident of either side; None otherwise."""
            if tok.kind != "ident" or tok.text.count(".") != 1:
                return None
            q, c2 = tok.text.split(".")
            if q.lower() == dalias:
                return "dim", c2
            if q.lower() == falias:
                return "fact", c2
            return None

        def match_shift_eq(cc):
            """Constant-shift equality correlation (round-14, verdict
            item 6): ``d.c = f.k ± N`` / ``f.k ± N = d.c`` / ``d.c ± N
            = f.k`` / ``f.k = d.c ± N`` with an INTEGER literal N
            decorrelates to a SHIFTED in-list — ∃d: d.c = f.k + n  ⇔
            f.k ∈ {v − n : v ∈ dim values}. Returns (dim_col, fact_col,
            shift) where ``fact key = dim value + shift``; int-only
            (float shifts would be inexact)."""
            if not (
                len(cc) == 5
                and cc[1].kind == "punct"
                and cc[3].kind == "punct"
                and {cc[1].text, cc[3].text} <= {"=", "+", "-"}
            ):
                return None
            if cc[1].text == "=" and cc[3].text in ("+", "-"):
                lhs, rhs, sgn_tok, num_tok = cc[0], cc[2], cc[3], cc[4]
            elif cc[3].text == "=" and cc[1].text in ("+", "-"):
                lhs, rhs, sgn_tok, num_tok = cc[4], cc[0], cc[1], cc[2]
            else:
                return None
            # lhs = plain side; rhs ± N = shifted side
            if num_tok.kind != "number" or "." in num_tok.text:
                return None
            n = int(num_tok.text)
            if sgn_tok.text == "-":
                n = -n
            a, b = _qual_side(lhs), _qual_side(rhs)
            if a is None or b is None or a[0] == b[0]:
                return None
            if a[0] == "dim":
                # d.c = f.k + n  ->  f.k = v - n
                return a[1], b[1], -n
            # f.k = d.c + n  ->  f.k = v + n
            return b[1], a[1], n

        _CMP = {"=", "<", "<=", ">", ">="}
        eqs: list = []     # (dim_col, fact_col, shift)
        ineqs: list = []   # (dim_col, fact_col, fact_op, agg)
        rest: list = []
        for cc in inner_conj:
            if (
                len(cc) == 3
                and cc[0].kind == "ident"
                and cc[0].text.count(".") == 1
                and cc[1].kind == "punct"
                and cc[1].text in _CMP
                and cc[2].kind == "ident"
                and cc[2].text.count(".") == 1
            ):
                qa, ca = cc[0].text.split(".")
                qb, cb = cc[2].text.split(".")
                op = cc[1].text
                pair = None
                if qa.lower() == dalias and qb.lower() == falias:
                    pair = (ca, cb, op)          # dim OP fact
                elif qb.lower() == dalias and qa.lower() == falias:
                    # fact OP dim — flip so the dim side is on the left
                    flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<=",
                            "=": "="}
                    pair = (cb, ca, flip[op])
                if pair is not None:
                    dc, fc, op = pair
                    if op == "=":
                        eqs.append((dc, fc, 0))
                    elif op in (">", ">="):
                        # ∃d: d.c >/>= f.k ⇔ f.k </<= max(d.c)
                        ineqs.append(
                            (dc, fc, "<" if op == ">" else "<=", "max")
                        )
                    else:
                        ineqs.append(
                            (dc, fc, ">" if op == "<" else ">=", "min")
                        )
                    continue
            sh = match_shift_eq(cc)
            if sh is not None:
                eqs.append(sh)
                continue
            quals, bare, sub = _dfp_conjunct_refs(cc)
            if sub or bare or quals != {dalias}:
                if (
                    info is not None
                    and "fallback_reason" not in info
                    and dalias in quals
                    and falias in quals
                ):
                    # a correlation we cannot decorrelate: say WHICH
                    # expression, so the full-scan is a named decision
                    info["fallback_reason"] = (
                        "unsupported EXISTS correlation expression: "
                        + " ".join(t.text for t in cc)
                    )
                return None  # not provably dim-only
            rest.append(cc)
        if not eqs and not ineqs:
            return None
        if len(eqs) == 1 and not ineqs and eqs[0][2] == 0:
            # the round-12 single-equality probe path, unchanged
            dim_col, fact_col, _shift0 = eqs[0]
            probe_toks = (
                [_Tok("ident", "SELECT"), _Tok("ident", dim_col),
                 _Tok("ident", "FROM"), _Tok("ident", dname)]
                + [_Tok("ident", a) for a in alias_toks]
            )
            if rest:
                probe_toks.append(_Tok("ident", "WHERE"))
                for i2, cc in enumerate(rest):
                    if i2:
                        probe_toks.append(_Tok("ident", "AND"))
                    probe_toks.extend(cc)
            return fact_col, probe_toks
        return "__multi__", {
            "dname": dname,
            "dalias": dalias,
            "eqs": eqs,
            "ineqs": ineqs,
            "rest": rest,
        }

    pick = None
    for c in conjuncts:
        pick = match_in(c) or match_exists(c)
        if pick is not None:
            break
    if pick is None:
        return None
    multi = None
    if pick[0] == "__multi__":
        # round-13: multi-equality / inequality EXISTS correlations
        multi = pick[1]
        inner_names = {multi["dname"]} & names
    else:
        fact_key, inner = pick
        inner_names = {
            t.text
            for t in inner
            if t.kind == "ident"
            and t.text.count(".") == 1
            and t.text in names
        }
    if not inner_names or fact_name in inner_names:
        return None  # no registered dim / self-reference: stay out

    fstats = _dfp_row_stats(spark, catalog, fact_name)
    if fstats is None:
        if info is not None:
            info["fallback_reason"] = (
                f"unreadable manifest for [{fact_name!r}]"
            )
        return None
    for n in inner_names:
        s = _dfp_row_stats(spark, catalog, n)
        if s is None:
            if info is not None:
                info["fallback_reason"] = (
                    f"unreadable manifest for [{n!r}]"
                )
            return None
        if (
            s["row_count"] > _DFP_DIM_MAX
            or fstats["row_count"]
            < _DFP_MIN_RATIO * max(s["row_count"], 1)
        ):
            return None

    from data_warehouse_copy_spark.sources.datasource import register

    register(spark)
    suffix = uuid.uuid4().hex[:12]
    made_views: list = []

    def _mk_view(vname: str, root: str, **opts) -> None:
        parts = [f"path '{str(root).replace(chr(39), chr(39) * 2)}'"] + [
            f"{k2} '{str(v2).replace(chr(39), chr(39) * 2)}'"
            for k2, v2 in opts.items()
        ]
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{vname}` "
            f"USING managed_table OPTIONS ({', '.join(parts)})"
        )
        made_views.append(vname)

    try:
        pins: dict = {}
        for n in sorted(inner_names):
            root = catalog.root_of(n)
            v = ManagedTable(spark, root)._head_version()
            vn = f"__dwcs_dfp_in{len(pins)}_{suffix}"
            _mk_view(vn, root, versionAsOf=v)
            pins[n] = vn
        if multi is not None:
            da = multi["dalias"]
            vn = pins[multi["dname"]]
            where_sql = ""
            if multi["rest"]:
                where_sql = " WHERE " + " AND ".join(
                    " ".join(t.text for t in cc) for cc in multi["rest"]
                )
            base = f"FROM `{vn}` AS {da}{where_sql}"
            triples: list = []
            n_keys = 0
            if multi["eqs"]:
                # ONE distinct scan over the correlated columns; each
                # column's value set pushes independently (conservative
                # superset of the true tuple set — the surviving EXISTS
                # enforces tuple membership)
                cols = ", ".join(
                    f"{da}.{dc}" for dc, _fc, _sh in multi["eqs"]
                )
                rows = spark.sql(
                    f"SELECT DISTINCT {cols} {base} "
                    f"LIMIT {_DFP_MAX_KEYS + 1}"
                ).collect()
                if len(rows) <= _DFP_MAX_KEYS:
                    for i2, (_dc, fc, shift) in enumerate(multi["eqs"]):
                        vals = {r[i2] for r in rows if r[i2] is not None}
                        if shift:
                            # shifted in-list: int values only (the
                            # shift itself is int by construction)
                            if not all(
                                isinstance(kk, int)
                                and not isinstance(kk, bool)
                                for kk in vals
                            ):
                                continue
                            ks = sorted(kk + shift for kk in vals)
                        else:
                            ks = sorted(vals)
                            if not all(
                                isinstance(kk, (int, str))
                                and not isinstance(kk, bool)
                                for kk in ks
                            ):
                                continue
                        triples.append([fc, "in", ks])
                        n_keys = max(n_keys, len(ks))
            for _dc, fc, fop, agg in multi["ineqs"]:
                row = spark.sql(f"SELECT {agg}({da}.{_dc}) {base}").first()
                b = row[0] if row is not None else None
                if b is None:
                    # empty (filtered) dim: the EXISTS is FALSE for
                    # every fact row — push the impossible in-list
                    triples.append([fc, "in", []])
                elif isinstance(b, (int, float, str)) and not isinstance(
                    b, bool
                ):
                    triples.append([fc, fop, b])
            if not triples:
                return None  # nothing pushable (over-cap + odd types)
            keys = list(range(n_keys))  # only len() feeds info below
            where_json = json.dumps(triples)
        else:
            inner_text = " ".join(
                f"`{pins[t.text]}`"
                if t.kind == "ident" and t.text in pins
                else t.text
                for t in inner
            )
            rows = spark.sql(
                f"SELECT DISTINCT * FROM ( {inner_text} ) __dwcs_probe "
                f"LIMIT {_DFP_MAX_KEYS + 1}"
            ).collect()
            if len(rows) > _DFP_MAX_KEYS:
                return None  # over cap: a huge in-list prunes nothing
            if rows and len(rows[0]) != 1:
                return None  # the IN subquery must yield one column
            keys = [r[0] for r in rows if r[0] is not None]
            if not all(
                isinstance(kk, (int, str)) and not isinstance(kk, bool)
                for kk in keys
            ):
                return None
            where_json = json.dumps([[fact_key, "in", keys]])
        vf = f"__dwcs_dfp_f_{suffix}"
        _mk_view(vf, catalog.root_of(fact_name), where=where_json)
        # rebuild the text: the fact ref swaps to the pruned view, every
        # inner-table ref swaps to its pinned view (so the in-list and
        # the surviving IN predicate read the SAME dim version)
        texts = [t.text for t in toks]
        for idx, t in enumerate(toks):
            if t.kind == "ident" and t.text in pins:
                texts[idx] = f"`{pins[t.text]}`"
        texts[t_start:t_end] = [f"`{vf}`", "AS", falias]
        new_sql = " ".join(texts)
        try:
            df = spark.sql(new_sql)
        except Exception:
            return None
    finally:
        for v in made_views:
            spark.catalog.dropTempView(v)
    if info is not None:
        info.update(
            fact=fact_name,
            in_subquery=True,
            exists_multi=multi is not None,
            n_keys=len(keys),
            where_json=where_json,
            dims={n: {"pinned": pins[n]} for n in pins},
        )
    return df


_MV_LOG = logging.getLogger("data_warehouse_copy_spark.matview")

#: statements that can advance a registered base table's head — the
#: only shapes worth paying the autoRefresh head-probe after
_MUTATING_SQL_RE = re.compile(
    r"^\s*(INSERT|UPDATE|DELETE|MERGE|TRUNCATE|COPY|RESTORE)\b",
    re.IGNORECASE,
)


def _auto_refresh_matviews(spark, catalog) -> None:
    """Best-effort post-commit hook (round-14, the auto-compact
    pattern): refresh every ``matview.autoRefresh`` MV whose base moved
    past its cursor. BEST-EFFORT BY CONTRACT — the triggering commit is
    already durable, so any failure here (a racing refresh, a vacuumed
    feed file) logs and moves on rather than failing a committed write.
    Reads are exact with or without the policy (the hybrid read); the
    policy only bounds the re-aggregation a later read pays."""
    from data_warehouse_copy_spark.streaming.matview import (
        MaterializedView,
    )

    for name in catalog.matview_names():
        try:
            mv = MaterializedView(spark, catalog, name)
            if not mv.meta.get("auto_refresh"):
                continue
            if mv._raw()._head_version() > int(mv.meta["cursor"]) or (
                mv.meta.get("join_dims") and mv._moved_dims()
            ):
                mv.refresh()
        except Exception as exc:  # noqa: BLE001 — best-effort contract
            _MV_LOG.warning("autoRefresh of %s skipped: %s", name, exc)


def execute_sql(spark: SparkSession, catalog, sql: str) -> DataFrame:
    """Run ``sql`` with catalog-aware DML routing (the body of
    ``NamedCatalog.sql``); after a mutating statement, fire the
    best-effort ``matview.autoRefresh`` post-commit hook."""
    out = _execute_sql(spark, catalog, sql)
    if _MUTATING_SQL_RE.match(sql) and hasattr(catalog, "matview_names"):
        _auto_refresh_matviews(spark, catalog)
    return out


def _execute_sql(spark: SparkSession, catalog, sql: str) -> DataFrame:
    """DML returns a one-row summary frame ``(operation,
    rows_affected)`` — the shape Delta's SQL DML returns metrics in;
    non-DML returns ``spark.sql``'s own result."""
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable

    if hasattr(catalog, "matview_names"):
        handled = _handle_matview_ddl(spark, catalog, sql)
        if handled is not None:
            return handled
        _matview_write_guard(catalog, sql)
    if hasattr(catalog, "view_names"):
        handled = _handle_view_ddl(spark, catalog, sql)
        if handled is not None:
            return handled
        _view_write_guard(catalog, sql)
        sql = inline_views(catalog, sql)
    if hasattr(catalog, "matview_names"):
        # AFTER view inlining, so an MV referenced through a plain view
        # resolves too; runtime (not textual) — the hybrid read needs
        # the base's change feed
        sql = _resolve_matviews(spark, catalog, sql)
    if re.search(r"\bAS\s+OF\b", sql, re.IGNORECASE) and not re.search(
        r"^\s*CREATE\s+TABLE\b[\s\S]*\bCLONE\b", sql, re.IGNORECASE
    ):
        # CLONE statements parse their own VERSION AS OF (the clone
        # source is a table to snapshot, not a view to query)
        sql = _rewrite_time_travel(spark, catalog, sql)
    if re.search(r"\btable_changes\s*\(", sql, re.IGNORECASE):
        sql = _rewrite_table_changes(spark, catalog, sql)
    st = parse_dml(sql)
    if st is None:
        pruned = try_dynamic_prune(spark, catalog, sql)
        if pruned is not None:
            return pruned
        return spark.sql(sql)
    if st.kind == "show_tables":
        from pyspark.sql import types as T

        rows = sorted(
            (n, str(catalog.root_of(n))) for n in catalog.names()
        )
        return _local_frame(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField("name", T.StringType(), False),
                    T.StructField("location", T.StringType(), False),
                ]
            ),
        )
    if st.kind == "create_clone":
        from pathlib import Path as _Path

        clone_op = "DEEP CLONE" if st.clone_deep else "SHALLOW CLONE"
        if st.table in set(catalog.names()):
            if st.if_not_exists:
                return _summary(spark, clone_op, 0)
            raise SqlDmlError(
                f"table {st.table!r} already exists in the catalog"
            )
        if st.clone_source not in set(catalog.names()):
            raise SqlDmlError(
                f"{clone_op} source {st.clone_source!r} is not a "
                f"registered table"
            )
        src = ManagedTable(spark, catalog.root_of(st.clone_source))
        root = st.location or str(_Path(catalog.path).parent / st.table)
        if ManagedTable(None, root).exists():
            raise SqlDmlError(
                f"a managed table already exists at {root!r}; DROP TABLE "
                f"leaves data in place — register it instead"
            )
        clone = (
            src.deep_clone_to(root, version=st.clone_version)
            if st.clone_deep
            else src.clone_to(root, version=st.clone_version)
        )
        catalog.register(st.table, root)
        return _summary(spark, clone_op, clone.count())
    if st.kind == "create_like":
        from pathlib import Path as _Path

        from pyspark.sql import types as T

        if st.table in set(catalog.names()):
            if st.if_not_exists:
                return _summary(spark, "CREATE TABLE LIKE", 0)
            raise SqlDmlError(
                f"table {st.table!r} already exists in the catalog"
            )
        if st.like_source not in set(catalog.names()):
            raise SqlDmlError(
                f"LIKE source {st.like_source!r} is not a registered table"
            )
        src = ManagedTable(spark, catalog.root_of(st.like_source))
        m = src.snapshot()
        if not m.schema_json:
            raise SqlDmlError(
                f"LIKE source {st.like_source!r} has no schema yet"
            )
        root = st.location or str(_Path(catalog.path).parent / st.table)
        if ManagedTable(None, root).exists():
            raise SqlDmlError(
                f"a managed table already exists at {root!r}; DROP TABLE "
                f"leaves data in place — register it instead"
            )
        nt = ManagedTable.create(
            spark,
            root,
            partition_date_col=m.partition_date_col,
            cluster_col=m.cluster_col,
            bloom_cols=m.bloom_cols,
        )
        # pin the source's CURRENT logical schema (comments ride the
        # field metadata inside it) with an empty typed append, then
        # carry constraints, properties and the table comment — an
        # empty table needs no re-validation
        schema = T.StructType.fromJson(json.loads(m.schema_json))
        nt.append(_local_frame(spark, [], schema))
        for cname, cexpr in (m.constraints or {}).items():
            nt.add_constraint(cname, cexpr)
        pol = src.auto_compact_policy()
        if pol:
            nt.set_auto_compact(**pol)
        tc = src.table_comment()
        if tc is not None:
            nt.set_table_comment(tc)
        lr = src.log_retention_policy()
        if lr is not None:
            nt.set_log_retention(lr)
        catalog.register(st.table, root)
        return _summary(spark, "CREATE TABLE LIKE", 0)
    if st.kind == "create_table":
        from pathlib import Path as _Path

        from pyspark.sql import functions as F

        if st.table in set(catalog.names()):
            if st.or_replace:
                # REPLACE of a registered table: ONE atomic overwrite
                # commit (readers flip between complete states, history
                # stays time-travelable). The table's physical layout
                # (location, partitioning, clustering) is preserved —
                # declaring a different one here would silently not
                # apply, so it is refused loudly.
                root = catalog.root_of(st.table)
                if st.location and str(st.location) != str(root):
                    raise SqlDmlError(
                        f"OR REPLACE keeps the existing LOCATION "
                        f"{root!r}; DROP TABLE + CREATE to relocate"
                    )
                if st.part_col or st.cluster_cols:
                    raise SqlDmlError(
                        "OR REPLACE preserves the existing table's "
                        "layout; DROP TABLE + CREATE to re-partition or "
                        "re-cluster"
                    )
                et = ManagedTable(spark, root)
                # OR REPLACE is a full NEW table definition: the old
                # CHECK constraints do not carry (Delta semantics — and
                # a constraint naming a column the new schema drops
                # would otherwise poison every later write). Dropped
                # BEFORE the landing so the overwrite doesn't enforce
                # them against the new shape; restored best-effort if
                # the landing fails (the table kept its old data).
                old_cons = dict(et.snapshot().constraints or {})
                for cname in old_cons:
                    et.drop_constraint(cname)
                try:
                    n = et.overwrite(spark.sql(st.ctas_query))
                except Exception:
                    for cname, cexpr in old_cons.items():
                        try:
                            et.add_constraint(cname, cexpr)
                        except Exception:
                            pass  # best-effort restore; original error wins
                    raise
                # inline TBLPROPERTIES apply AFTER the landing: a failed
                # replace must not leave the live table's policy mutated
                # (review finding)
                if st.properties:
                    _apply_table_properties(et, st.properties, unset=False)
                # full new-definition semantics, like the constraints:
                # the old table comment does not carry unless restated
                et.set_table_comment(st.comment)
                return _summary(spark, "CREATE OR REPLACE TABLE", n)
            if st.if_not_exists:
                return _summary(spark, "CREATE TABLE", 0)  # no-op, no error
            raise SqlDmlError(
                f"table {st.table!r} already exists in the catalog"
            )
        root = st.location or str(_Path(catalog.path).parent / st.table)
        if ManagedTable(None, root).exists():
            raise SqlDmlError(
                f"a managed table already exists at {root!r}; DROP TABLE "
                f"leaves data in place — register it instead"
            )
        if st.ctas_query is not None:
            # CTAS (round-8 verdict item 4): evaluate the SELECT tail
            # through spark.sql BEFORE creating anything — a bad query
            # must not leave an empty orphan table — then land the
            # result as ONE atomic append. The registration happens
            # last, so a failed write leaves no catalog entry either.
            src = spark.sql(st.ctas_query)
            names = src.columns
            root_existed = _Path(root).exists()
            # Record which table subdirs exist BEFORE create so a failed
            # landing removes only the ones THIS statement made — a
            # pre-existing LOCATION may already hold unrelated user
            # content in e.g. data/ even though it is not a managed
            # table (exists() checks only _log/_LATEST; round-9 advice
            # finding).
            pre_subdirs = {
                sub
                for sub in ("_log", "data", "_bloom", "_dv")
                if (_Path(root) / sub).exists()
            }
        else:
            src = None
            names = [c[0] for c in st.create_columns]
        if st.part_col is not None and st.part_col not in names:
            raise SqlDmlError(
                f"PARTITIONED BY column {st.part_col!r} is not declared"
            )
        for c in st.cluster_cols or []:
            if c not in names:
                raise SqlDmlError(
                    f"CLUSTERED BY column {c!r} is not declared"
                )
        cluster = None
        if st.cluster_cols:
            cluster = (
                st.cluster_cols[0]
                if len(st.cluster_cols) == 1
                else st.cluster_cols
            )
        nt = ManagedTable.create(
            spark, root, partition_date_col=st.part_col, cluster_col=cluster
        )
        if st.properties:
            # inline TBLPROPERTIES: same validated namespace as ALTER
            # SET TBLPROPERTIES — applied before any data lands so a
            # CTAS landing already runs under the policy
            _apply_table_properties(nt, st.properties, unset=False)
        if src is not None:
            try:
                n = nt.append(src)
            except Exception:
                # failed landing: remove what THIS statement created so
                # it is all-or-nothing — but never a pre-existing
                # LOCATION directory's unrelated contents (round-9
                # review finding: rmtree(root) on a runtime failure
                # would wipe user files the statement never wrote)
                import shutil as _shutil

                if root_existed:
                    for sub in ("_log", "data", "_bloom", "_dv"):
                        if sub not in pre_subdirs:
                            _shutil.rmtree(
                                _Path(root) / sub, ignore_errors=True
                            )
                else:
                    _shutil.rmtree(root, ignore_errors=True)
                raise
            if st.comment is not None:
                nt.set_table_comment(st.comment)
            catalog.register(st.table, root)
            return _summary(spark, "CREATE TABLE AS SELECT", n)
        # pin the DECLARED schema with an empty typed append (v1) so
        # constraints/INSERT column lists work before the first data
        nt.append(
            _local_frame(
                spark,
                [],
                ", ".join(f"{c[0]} {c[1]}" for c in st.create_columns),
            )
        )
        for n, _ty, cm, _ge, _ex in st.create_columns:
            if cm is not None:
                nt.set_column_comment(n, cm)
        for n, _ty, _cm, _ge, ex in st.create_columns:
            if ex is not None and ex[0] == "default":
                try:
                    nt.set_column_default(n, ex[1])
                except Exception as e:
                    raise SqlDmlError(
                        f"DEFAULT expression for {n!r} does not "
                        f"resolve: {e}"
                    ) from None
            elif ex is not None and ex[0] == "identity":
                nt.set_identity(
                    n, start=ex[1], step=ex[2], always=ex[3]
                )
        for n, ty, _cm, ge, _ex in st.create_columns:
            if ge is not None:
                # validate the expression resolves against the declared
                # schema BEFORE recording anything — a bad expr must not
                # leave a half-generated table
                try:
                    _local_frame(spark, [], nt.read().schema).select(
                        F.expr(ge)
                    )
                except Exception as e:
                    raise SqlDmlError(
                        f"GENERATED ALWAYS AS expression for {n!r} does "
                        f"not resolve: {e}"
                    ) from None
                nt.set_generation_expression(n, ge)
                # the validation side: every write path that PROVIDES the
                # column proves <col> <=> (expr) through the existing
                # CHECK machinery (merge/update/replace_where included).
                # Compare against CAST(expr AS declared-type): the compute
                # paths store cast(expr, col.dataType), so a declared type
                # narrower than the expression's natural type (FLOAT from
                # a DOUBLE product) must check the CAST value or the
                # engine's own computed value would fail its own CHECK.
                nt.add_constraint(
                    f"gen_{n}", f"{n} <=> CAST(({ge}) AS {ty})"
                )
        if st.comment is not None:
            nt.set_table_comment(st.comment)
        catalog.register(st.table, root)
        return _summary(spark, "CREATE TABLE", 0)
    if st.kind == "drop_table":
        if st.if_exists and st.table not in set(catalog.names()):
            return _summary(spark, "DROP TABLE", 0)  # no-op, no error
        catalog.drop(st.table)
        # name-only drop (external-table semantics): the data stays; a
        # re-register resurrects it, vacuum/deletion is an explicit act
        return _summary(spark, "DROP TABLE", 0)
    if st.kind == "convert":
        nt = ManagedTable.convert_in_place(spark, st.location)
        if st.table:
            if st.table in set(catalog.names()):
                raise SqlDmlError(
                    f"table {st.table!r} already exists in the catalog"
                )
            catalog.register(st.table, st.location)
        # rows_affected = adopted rows (metadata count; no scan)
        return _summary(spark, "CONVERT TO MANAGED_TABLE", nt.count())
    if st.kind in (
        "truncate", "analyze", "describe_column",
        "show_columns", "comment_table", "comment_column",
    ) and st.table not in set(catalog.names()):
        # TRUNCATE TABLE / ANALYZE TABLE / DESCRIBE EXTENDED / SHOW
        # COLUMNS / COMMENT ON are valid Spark SQL over SESSION tables
        # too — an unregistered name is Spark's statement, not ours
        # (same pass-through posture as non-managed CREATE forms)
        return spark.sql(sql)
    t = ManagedTable(spark, catalog.root_of(st.table))
    if st.kind == "show_columns":
        import json as _json

        from pyspark.sql import types as T

        m = t.snapshot()
        fields = (
            T.StructType.fromJson(_json.loads(m.schema_json)).fields
            if m.schema_json
            else []
        )
        return _local_frame(
            spark,
            [(f.name,) for f in fields],
            T.StructType(
                [T.StructField("col_name", T.StringType(), False)]
            ),
        )
    if st.kind == "comment_table":
        t.set_table_comment(st.comment)
        return _summary(spark, "COMMENT ON TABLE", 0)
    if st.kind == "comment_column":
        t.set_column_comment(st.column, st.comment)
        return _summary(spark, "COMMENT ON COLUMN", 0)
    if st.kind == "show_properties":
        from pyspark.sql import types as T

        policy = t.auto_compact_policy()
        rows = []
        if policy:
            rows = [
                ("autoCompact", "true"),
                (
                    "autoCompact.maxFilesPerPartition",
                    str(policy.get("max_files_per_partition", 16)),
                ),
                (
                    "autoCompact.maxFileBytes",
                    str(policy.get("max_file_bytes", 128 << 20)),
                ),
                (
                    "autoCompact.maxMergeFiles",
                    str(policy.get("max_merge_files", 128)),
                ),
            ]
        lr = t.log_retention_policy()
        if lr is not None:
            rows.append(("logRetention.hours", str(lr)))
        return _local_frame(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField("key", T.StringType(), False),
                    T.StructField("value", T.StringType(), False),
                ]
            ),
        )
    if st.kind == "copy_into":
        _files, rows = t.copy_into(
            st.copy_source,
            pattern=st.copy_pattern,
            fileformat=st.copy_format,
            force=st.copy_force,
        )
        return _summary(spark, "COPY INTO", rows)
    if st.kind == "show_partitions":
        from pyspark.sql import functions as F

        return (
            t.manifest_df()
            .groupBy("partition")
            .agg(
                F.count("*").alias("n_files"),
                F.sum(F.col("rows") - F.col("dv_rows")).alias("n_rows"),
            )
            .orderBy(F.col("partition").asc_nulls_first())
        )
    if st.kind == "vacuum":
        secs = (
            st.retain_hours * 3600.0
            if st.retain_hours is not None
            else 7 * 24 * 3600.0
        )
        n = t.vacuum(
            retention_seconds=secs,
            dry_run=st.vacuum_dry,
            log_retention_seconds=(
                st.log_retain_hours * 3600.0
                if st.log_retain_hours is not None
                else None
            ),
        )
        return _summary(
            spark, "VACUUM DRY RUN" if st.vacuum_dry else "VACUUM", n
        )
    if st.kind == "optimize":
        scope = _optimize_scope(t, st.where) if st.where else None
        if st.zorder_cols is not None:
            spec = (
                st.zorder_cols[0]
                if len(st.zorder_cols) == 1
                else st.zorder_cols
            )
            if scope is not None:
                # WHERE + ZORDER: valid only as a restatement of the
                # table's CURRENT clustering (compact() z-sorts within
                # the scoped days); re-clustering only some partitions
                # under a DIFFERENT spec would leave the table's layout
                # incoherent — change the spec with a full-table
                # OPTIMIZE ZORDER BY instead
                cur = t.snapshot().cluster_col
                cur_list = [cur] if isinstance(cur, str) else list(cur or [])
                if cur_list != st.zorder_cols:
                    raise SqlDmlError(
                        f"OPTIMIZE ... WHERE ZORDER BY may only restate "
                        f"the table's current clustering {cur_list}; "
                        f"changing the spec requires a full-table "
                        f"OPTIMIZE ZORDER BY"
                    )
                files_before, files_after = t.compact(partitions=scope)
            else:
                files_before, files_after = t.recluster(spec)
        elif scope is not None:
            files_before, files_after = t.compact(partitions=scope)
        else:
            files_before, files_after = t.compact()
        # rows_affected = files REMOVED by the re-layout (Delta's
        # numRemovedFiles is the headline OPTIMIZE metric)
        return _summary(spark, "OPTIMIZE", files_before - files_after)
    if st.kind == "restore":
        v = (
            st.to_version
            if st.to_timestamp is None
            else t.version_at(st.to_timestamp)
        )
        new_head = t.restore(v)
        return _summary(spark, "RESTORE", new_head)
    if st.kind == "show_create":
        import json as _json

        from pyspark.sql import types as T

        m = t.snapshot()
        schema = (
            T.StructType.fromJson(_json.loads(m.schema_json))
            if m.schema_json
            else T.StructType([])
        )
        def col_ddl(f):
            base = f"  {f.name} {f.dataType.simpleString()}"
            ge = (f.metadata or {}).get("generation_expression")
            if ge is not None:
                base += f" GENERATED ALWAYS AS ({ge})"
            ident = (f.metadata or {}).get("identity")
            if ident is not None:
                mode = (
                    "ALWAYS" if ident.get("always", True) else "BY DEFAULT"
                )
                base += (
                    f" GENERATED {mode} AS IDENTITY (START WITH "
                    f"{ident['start']} INCREMENT BY {ident['step']})"
                )
            de = (f.metadata or {}).get("default_expression")
            if de is not None:
                base += f" DEFAULT ({de})"
            cm = (f.metadata or {}).get("comment")
            if cm is not None:
                base += " COMMENT '" + str(cm).replace("'", "''") + "'"
            return base

        cols = ",\n".join(col_ddl(f) for f in schema.fields)
        parts = [
            f"CREATE TABLE {st.table} (\n{cols}\n) USING managed_table",
            f"LOCATION '{t.root}'",
        ]
        tcomment = t.table_comment()
        if tcomment is not None:
            parts.append(
                "COMMENT '" + str(tcomment).replace("'", "''") + "'"
            )
        if m.partition_date_col:
            parts.append(f"PARTITIONED BY ({m.partition_date_col})")
        if m.cluster_col:
            cc = (
                m.cluster_col
                if isinstance(m.cluster_col, str)
                else ", ".join(m.cluster_col)
            )
            parts.append(f"CLUSTERED BY ({cc})")
        policy = t.auto_compact_policy()
        props = []
        if policy:
            props = [
                "'autoCompact' = 'true'",
                "'autoCompact.maxFilesPerPartition' = "
                f"'{policy['max_files_per_partition']}'",
                f"'autoCompact.maxMergeFiles' = '{policy['max_merge_files']}'",
                f"'autoCompact.maxFileBytes' = '{policy['max_file_bytes']}'",
            ]
        lr = t.log_retention_policy()
        if lr is not None:
            props.append(f"'logRetention.hours' = '{lr}'")
        if props:
            parts.append("TBLPROPERTIES (" + ", ".join(props) + ")")
        stmt = "\n".join(parts)
        return _local_frame(
            spark,
            [(stmt,)],
            T.StructType(
                [T.StructField("createtab_stmt", T.StringType(), False)]
            ),
        )
    if st.kind == "analyze":
        import json as _json

        from pyspark.sql import types as T

        cols = st.analyze_columns
        if st.analyze_all:
            m = t.snapshot()
            cols = (
                [
                    f.name
                    for f in T.StructType.fromJson(
                        _json.loads(m.schema_json)
                    ).fields
                ]
                if m.schema_json
                else []
            )
        stats = t.analyze(cols)
        return _summary(spark, "ANALYZE", stats["row_count"])
    if st.kind == "describe_column":
        from pyspark.sql import types as T

        stats = t.table_stats()
        if stats is None or st.column not in stats.get("columns", {}):
            raise SqlDmlError(
                f"no stored statistics for column {st.column!r}; run "
                f"ANALYZE TABLE {st.table} COMPUTE STATISTICS FOR "
                f"COLUMNS {st.column} first"
            )
        cs = stats["columns"][st.column]
        rows = [
            ("col_name", st.column),
            ("row_count", str(stats["row_count"])),
            ("null_count", str(cs["null_count"])),
            ("distinct_count_est", str(cs["ndv"])),
            ("min", "NULL" if cs["min"] is None else str(cs["min"])),
            ("max", "NULL" if cs["max"] is None else str(cs["max"])),
        ]
        if "max_len" in cs:
            rows.append(("max_col_len", str(cs["max_len"])))
        rows.append(("stats_version", str(stats["version"])))
        rows.append(("stale", str(stats["version"] != t._head_version()).lower()))
        return _local_frame(
            spark,
            rows,
            T.StructType(
                [
                    T.StructField("info_name", T.StringType(), False),
                    T.StructField("info_value", T.StringType(), False),
                ]
            ),
        )
    if st.kind == "detail":
        import json as _json

        from pyspark.sql import types as T

        head = t._head()
        head_v = head.version
        n_cols = (
            len(T.StructType.fromJson(_json.loads(head.schema_json)).fields)
            if head.schema_json
            else 0
        )
        detail_schema = T.StructType(
            [
                T.StructField("location", T.StringType(), False),
                T.StructField("version", T.LongType(), False),
                T.StructField("num_files", T.LongType(), False),
                T.StructField("total_rows", T.LongType(), False),
                T.StructField("num_columns", T.LongType(), False),
                T.StructField("partition_column", T.StringType(), True),
                T.StructField("clustering", T.StringType(), True),
                T.StructField("bloom_columns", T.StringType(), True),
                T.StructField("column_mapping", T.BooleanType(), False),
                T.StructField("constraints", T.StringType(), True),
                T.StructField("auto_compact", T.StringType(), True),
                T.StructField("comment", T.StringType(), True),
                T.StructField("generated_columns", T.StringType(), True),
                T.StructField("log_retention_hours", T.DoubleType(), True),
                T.StructField("log_floor_version", T.LongType(), False),
            ]
        )
        hist = t.history(since_version=head_v)
        n_files, total = (
            (hist[-1].n_files, hist[-1].total_rows)
            if hist
            else (len(t.snapshot().files), t.count())
        )
        policy = t.auto_compact_policy()
        return _local_frame(
            spark,
            [
                (
                    str(t.root), head_v, n_files, total, n_cols,
                    head.partition_date_col,
                    (_json.dumps(head.cluster_col)
                     if head.cluster_col else None),
                    _json.dumps(head.bloom_cols) if head.bloom_cols else None,
                    bool(head.columns),
                    (_json.dumps(head.constraints)
                     if head.constraints else None),
                    _json.dumps(policy) if policy else None,
                    t.table_comment(),
                    (_json.dumps(t.generated_columns())
                     if t.generated_columns() else None),
                    (float(t.log_retention_policy())
                     if t.log_retention_policy() is not None else None),
                    t.log_floor(),
                )
            ],
            detail_schema,
        )
    if st.kind == "history":
        head_v = t._head_version()
        since = (
            max(0, head_v - st.limit + 1) if st.limit is not None else None
        )
        rows = t.history(since_version=since)
        from pyspark.sql import types as T

        hist_schema = T.StructType(
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
        return _local_frame(
            spark,
            [tuple(ci.__dict__.values()) for ci in reversed(rows)],
            hist_schema,
        )
    if st.kind == "insert":
        import json as _json

        from pyspark.sql import functions as F, types as T

        df = spark.sql(st.insert_query)
        _head, schema_json, _cols = t._columns_state()
        if not schema_json and st.replace_where is not None:
            raise SqlDmlError(
                "REPLACE WHERE requires an existing table schema (the "
                "first INSERT sets it)"
            )
        if not schema_json:
            # first data into an empty table adopts the written shape
            src = (
                df.toDF(*st.insert_columns) if st.insert_columns else df
            )
            n = (
                t.overwrite(src) if st.insert_overwrite else t.append(src)
            )
            return _summary(
                spark,
                "INSERT OVERWRITE" if st.insert_overwrite else "INSERT",
                n,
            )
        table_fields = T.StructType.fromJson(_json.loads(schema_json)).fields
        if st.insert_by_name:
            # BY NAME binding: the source's own column names are the
            # target list — any order, omitted columns backfill below
            names = list(df.columns)
        elif st.insert_columns is not None:
            names = st.insert_columns
        else:
            # ANSI INSERT ... SELECT semantics: POSITIONAL binding to the
            # table's column order, regardless of the source's own column
            # names (Spark's INSERT INTO does the same; INSERT BY NAME is
            # a distinct, unimplemented form — spell the column list out
            # to bind by name)
            names = [f.name for f in table_fields]
        if len(df.columns) != len(names):
            raise SqlDmlError(
                f"INSERT provides {len(df.columns)} columns for "
                f"{len(names)} target columns"
            )
        src = df.toDF(*names)
        known = {f.name: f.dataType for f in table_fields}
        bad = sorted(set(names) - set(known))
        if bad:
            raise SqlDmlError(f"INSERT targets unknown columns {bad}")
        # typed-null backfill for omitted columns — except GENERATED
        # ones, which compute from their expression (Delta semantics);
        # cast the provided ones so VALUES literals (e.g. int into a
        # double column) land typed. A PROVIDED generated column is
        # validated by its gen_<col> CHECK constraint on write.
        gen = t.generated_columns()
        defaults = t.column_defaults()
        idents = t.identity_columns()
        provided = set(names)
        computed = set(gen) | set(defaults) | set(idents)
        src = src.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in provided
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in table_fields
                if f.name in provided or f.name not in computed
            ]
        )
        for f in table_fields:  # then compute, so the exprs can see
            if f.name in provided:  # every column
                continue
            if f.name in gen:
                src = src.withColumn(
                    f.name, F.expr(gen[f.name]).cast(f.dataType)
                )
            elif f.name in defaults:
                # DEFAULT <expr> — same compute-if-absent as append's
                # align chokepoint, restated here because INSERT builds
                # the full-row frame itself
                src = src.withColumn(
                    f.name, F.expr(defaults[f.name]).cast(f.dataType)
                )
        # an omitted IDENTITY column stays omitted: append allocates it
        # (a PROVIDED one passes through so append rejects it loudly)
        src = src.select(
            *[
                f.name
                for f in table_fields
                if f.name in provided or f.name not in idents
            ]
        )
        if st.replace_where is not None:
            _deleted, n = t.replace_where(src, st.replace_where)
            return _summary(spark, "INSERT REPLACE WHERE", n)
        n = t.overwrite(src) if st.insert_overwrite else t.append(src)
        return _summary(
            spark,
            "INSERT OVERWRITE" if st.insert_overwrite else "INSERT",
            n,
        )
    if st.kind == "alter":
        # schema evolution DDL: metadata-only commits at any table size
        # (column-mapping renames, native-upcast widens, tombstoned
        # drops — see ManagedTable's evolution section). Attached views
        # pin their registration-time schema; call catalog.refresh()
        # for read-your-DDL through pure SQL, same contract as DML.
        if st.alter_op in ("set_properties", "unset_properties"):
            _apply_table_properties(
                t, st.properties, st.alter_op == "unset_properties"
            )
            # UNSET of a knob on a disabled table: nothing to reset
            return _summary(
                spark, f"ALTER {st.alter_op.upper()}", 0
            )
        if st.alter_op == "add_constraint":
            t.add_constraint(st.column, st.check_expr)
        elif st.alter_op == "drop_constraint":
            t.drop_constraint(st.column)
        elif st.alter_op == "rename_table":
            catalog.rename(st.table, st.to_name)
            return _summary(spark, "ALTER RENAME TO", 0)
        elif st.alter_op == "cluster_by":
            cols = st.cluster_cols or []
            spec = None if not cols else (cols[0] if len(cols) == 1 else cols)
            _before, after = t.recluster(spec)
            return _summary(spark, "ALTER CLUSTER BY", after)
        elif st.alter_op == "set_not_null":
            # Delta's NOT NULL rides the CHECK machinery: existing rows
            # validated at ADD, every later row-introducing write proves
            # its rows (a NULL evaluates the check to FALSE — exactly
            # NOT NULL). Named nn_<col> so DROP NOT NULL finds it and
            # DESCRIBE DETAIL lists it with the other constraints.
            t.add_constraint(f"nn_{st.column}", f"{st.column} IS NOT NULL")
        elif st.alter_op == "drop_not_null":
            t.drop_constraint(f"nn_{st.column}")
        elif st.alter_op == "comment_column":
            t.set_column_comment(st.column, st.comment)
        elif st.alter_op == "set_default":
            try:
                t.set_column_default(st.column, st.default_expr)
            except SqlDmlError:
                raise
            except Exception as e:
                raise SqlDmlError(
                    f"SET DEFAULT for {st.column!r}: {e}"
                ) from None
        elif st.alter_op == "drop_default":
            t.set_column_default(st.column, None)
        elif st.alter_op == "sync_identity":
            t.sync_identity()
        elif st.alter_op == "rename":
            _guard_view_dependencies(
                spark, catalog, st, "RENAME COLUMN"
            )
            t.rename_column(st.column, st.to_name)
        elif st.alter_op == "widen":
            t.widen_column(st.column, st.to_type)
        elif st.alter_op == "drop":
            _guard_view_dependencies(spark, catalog, st, "DROP COLUMN")
            t.drop_column(st.column)
        elif st.alter_op == "add_columns":
            for cname, ctype in st.add_columns:
                t.add_column(cname, ctype)
        else:
            t.add_column(st.column, st.to_type)
        return _summary(spark, f"ALTER {st.alter_op.upper()}", 0)
    if st.kind in ("delete", "truncate"):
        if st.where is None:
            # DELETE without WHERE / TRUNCATE TABLE — one shared body
            # (Delta semantics): one atomic empty overwrite, old files
            # stay for time travel / vacuum
            m = t.snapshot()
            import json as _json

            from pyspark.sql import types as T

            schema = (
                T.StructType.fromJson(_json.loads(m.schema_json))
                if m.schema_json
                else T.StructType([])
            )
            n = m.total_rows
            t.overwrite(_local_frame(spark, [], schema))
        else:
            n = t.delete(st.where)
        return _summary(
            spark, "TRUNCATE" if st.kind == "truncate" else "DELETE", n
        )
    if st.kind == "update":
        if st.where is None:
            raise SqlDmlError(
                "UPDATE without WHERE is not supported through the "
                "catalog; use ManagedTable.update with an explicit "
                "always-true predicate if you really mean every row"
            )
        n = t.update(st.where, st.set_exprs)
        return _summary(spark, "UPDATE", n)
    # merge
    if st.source is not None:
        # dotted names resolve through the catalog (a live native scan
        # of the managed table); bare names are session views —
        # including the pinned views a time-travel rewrite just registered, so
        # `USING db.src VERSION AS OF n` works as a merge source
        source_df = (
            catalog.table(spark, st.source)
            if "." in st.source
            else spark.table(st.source)
        )
    else:
        source_df = spark.sql(st.source_query)
    res = t.merge(
        source_df,
        on=st.on,
        when_matched=st.matched_clauses or None,
        when_not_matched_by_source=st.by_source_clauses or None,
        when_not_matched_insert=st.insert_clauses or False,
        schema_evolution=st.merge_evolve,
    )
    return _summary(
        spark, "MERGE", res["updated"] + res["deleted"] + res["inserted"]
    )


def _optimize_scope(t: ManagedTable, where: list) -> set:
    """Resolve OPTIMIZE's WHERE conjunction to the set of matching
    partition values (Delta's rule: the predicate may reference ONLY the
    partition column — anything else cannot scope a file rewrite and is
    rejected loudly). Day partitions are 'yyyy-MM-dd' strings, so the
    comparison operators are plain lexicographic compares."""
    m = t.snapshot()
    pcol = m.partition_date_col
    if pcol is None:
        raise SqlDmlError(
            "OPTIMIZE ... WHERE requires a day-partitioned table (the "
            "predicate scopes partitions)"
        )
    bad = sorted({c for c, _op, _v in where if c != pcol})
    if bad:
        raise SqlDmlError(
            f"OPTIMIZE WHERE may reference only the partition column "
            f"{pcol!r}, got {bad}"
        )

    def admit(p: "str | None") -> bool:
        if p is None:
            return False
        for _c, op, val in where:
            if op == "in":
                if p not in {str(v) for v in val}:
                    return False
            else:
                v = str(val)
                if (
                    (op == "=" and p != v)
                    or (op == "<" and not p < v)
                    or (op == "<=" and not p <= v)
                    or (op == ">" and not p > v)
                    or (op == ">=" and not p >= v)
                ):
                    return False
        return True

    return {f.partition for f in m.files if admit(f.partition)}


_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("operation", T.StringType()),
        T.StructField("rows_affected", T.LongType()),
    ]
)


def _summary(spark: SparkSession, op: str, n: int) -> DataFrame:
    # The one-row result every DML/DDL statement returns. A JVM local
    # relation, so the caller's collect() runs no job; a Python-list frame
    # started a Python-worker job per statement.
    return _local_frame(spark, [(op, n)], _SUMMARY_SCHEMA)
