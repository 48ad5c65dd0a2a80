"""SeafowlContext — the statement executor binding Spark, the metastore
catalog and deltalite storage.

Query lifecycle mirrors the reference (SURVEY.md §3.1): per statement we
(a) find what it reads — the relations Spark's own parser reports, closed
over views' stored queries — and bind exactly those as temp views (the
reference reloads its whole catalog, src/context/mod.rs:89-112; here the
cost follows the tables a statement touches, not the catalog's size),
(b) rewrite time-travel sugar, (c) hand reads to `spark.sql` (Catalyst =
DataFusion's role), and (d) interpret DDL/DML ourselves, eagerly,
returning row-count style results (reference executes DML during
physical planning, physical.rs:68-73).

Name resolution: Spark temp views are single-part, so qualified references
`schema.table` (and `db.schema.table`) are rewritten to mangled view names
before analysis — same effect as the reference's schema providers.
"""

from __future__ import annotations

import base64
import os
import re
import threading
from contextlib import contextmanager
from collections import Counter
from dataclasses import dataclass, field
from typing import Any
from hashlib import sha256

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from . import parser
from .catalog import (
    DEFAULT_DB,
    DEFAULT_SCHEMA,
    STAGING_SCHEMA,
    SYSTEM_SCHEMA,
    Catalog,
    CatalogError,
    TableEntry,
)
from .deltalite import DeltaLiteTable, DeltaLiteError, Snapshot
from .types import columns_to_schema, schema_ddl


class ExecutionError(Exception):
    pass


# table property carrying a logical view's defining query (the matview
# analogue is MATVIEW_PROP in engine/matview.py); an entry with this
# property stores ZERO rows — reload_views re-expands the query instead
VIEW_PROP = "view_sql"

# the introspection views a statement may name: must match the dict keys
# _system_tables() / _information_schema() build
_SYSTEM_TABLE_NAMES = (
    "table_versions",
    "dropped_tables",
    "table_files",
    "matviews",
    "search_indexes",
)
_INFO_SCHEMA_NAMES = (
    "tables",
    "columns",
    "table_constraints",
    "check_constraints",
)
# parser-rendered reference -> (schema, name), see parser.relation_refs
_INTROSPECTION = {
    f"[{schema}, {name}]": (schema, name)
    for schema, names in (
        (SYSTEM_SCHEMA, _SYSTEM_TABLE_NAMES),
        ("information_schema", _INFO_SCHEMA_NAMES),
    )
    for name in names
}
_PLAIN_NAME = r"[A-Za-z_][A-Za-z0-9_]*"

_SEARCH_CALL = re.compile(
    r"(?i)\bsearch_index\s*\(\s*"
    r"'((?:[^']|'')*)'\s*,\s*"
    r"'((?:[^']|'')*)'\s*,\s*"
    r"'((?:[^']|'')*)'\s*,\s*(\d+)\s*\)"
)


def _search_calls(sql: str) -> list[tuple[int, int, str, str, str, int]]:
    """Every ``search_index('tbl', 'idx', 'query', k)`` call in ``sql`` as
    (start, end, table, index, query, k), arguments unescaped. A match
    counts only when it starts outside every quoted span the parser's
    quote scanner yields (call-shaped text inside a literal is no call)."""
    spans = parser.scan_quotes(sql)
    calls = []
    for m in _SEARCH_CALL.finditer(sql):
        if any(a <= m.start() < b for _k, a, b in spans):
            continue
        tbl, idx, query = (m.group(i).replace("''", "'") for i in (1, 2, 3))
        calls.append((m.start(), m.end(), tbl, idx, query, int(m.group(4))))
    return calls


def _mangle(schema: str, name: str) -> str:
    raw = f"__sfs__{schema}__{name}"
    if re.fullmatch(r"[A-Za-z0-9_]+", raw) and raw == raw.lower():
        return raw
    # Two reasons a raw name can't be the temp-view name verbatim:
    # special chars (ANSI-quoted, e.g. the reference's "new_./-~:schema")
    # aren't legal view names, and UPPERCASE letters would collapse with
    # a case-sibling under Spark's case-INSENSITIVE view namespace
    # ("Foo" vs "foo" are distinct quoted identifiers in the dialect).
    # Sanitize + hash so distinct raw names stay distinct either way.
    import hashlib

    safe = re.sub(r"[^A-Za-z0-9_]", "_", raw)
    return f"{safe}_{hashlib.md5(raw.encode()).hexdigest()[:8]}"


# One WHERE conjunct that Spark reliably offers to pushFilters AND
# sources/remote.filter_to_sql reliably ships: a plain column compared to a
# plain literal (no casts, no functions, no disjunction). Identifier may be
# alias-qualified and/or backticked; literal is numeric or single-quoted.
_LP_IDENT = r"(?:`?[A-Za-z_]\w*`?\.)?`?(?P<col>[A-Za-z_]\w*)`?"
_LP_LIT = r"(?:-?\d+(?:\.\d+)?|'(?:[^']|'')*')"
_LP_CONJUNCTS = [
    re.compile(
        rf"(?is)^\s*{_LP_IDENT}\s*(?:=|<>|!=|<=|>=|<|>)\s*(?P<lit>{_LP_LIT})\s*$"
    ),
    re.compile(rf"(?is)^\s*{_LP_IDENT}\s+IS\s+(?:NOT\s+)?NULL\s*$"),
    re.compile(
        rf"(?is)^\s*{_LP_IDENT}\s+IN\s*\(\s*(?P<lit>{_LP_LIT})"
        rf"(?:\s*,\s*{_LP_LIT})*\s*\)\s*$"
    ),
]


def _where_fully_shippable(pred: str, schema: T.StructType) -> bool:
    """True only when every top-level AND conjunct of ``pred`` is a shape
    the remote provably applies before LIMIT (r4 advice: pushing LIMIT
    under a partially-shippable WHERE returns too few rows because the
    remote caps before the residual Spark-side filter runs).

    Conservative by construction: any OR/NOT/BETWEEN/LIKE/function call,
    any parenthesized subexpression, or any literal whose type would make
    Spark wrap the COLUMN in a cast (a cast-wrapped column is never
    offered to pushFilters, so the conjunct silently stays Spark-side)
    fails the check and keeps the LIMIT Spark-side."""
    fields = {f.name.lower(): f.dataType for f in schema.fields}
    # BETWEEN embeds AND; reject before splitting on it
    if re.search(r"(?i)\bBETWEEN\b", pred):
        return False
    for conjunct in re.split(r"(?i)\s+AND\s+", pred):
        for pat in _LP_CONJUNCTS:
            m = pat.match(conjunct)
            if m:
                break
        else:
            return False
        dt = fields.get(m.group("col").lower())
        if dt is None:
            return False
        if m.groupdict().get("lit") is None:
            continue  # IS [NOT] NULL — shippable for any column type
        for lit in re.findall(_LP_LIT, conjunct):
            if lit.startswith("'"):
                if not isinstance(dt, T.StringType):
                    return False
            elif not isinstance(dt, T.NumericType):
                return False
    return True


@dataclass
class _Closure:
    """What one statement reads (SeafowlContext._closure)."""

    # (entry, snapshot) per catalog table, each after everything it reads
    tables: list[tuple[TableEntry, Snapshot]] = field(default_factory=list)
    staging: set[str] = field(default_factory=set)
    introspection: set[tuple[str, str]] = field(default_factory=set)


@dataclass
class StatementResult:
    """Non-query statements return a one-row summary (count-style)."""

    operation: str
    rows_affected: int | None = None


class SeafowlContext:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        catalog_path: str | None = None,
        allow_python_udfs: bool = True,
    ):
        self.spark = spark
        self.data_dir = data_dir.rstrip("/")
        os.makedirs(self.data_dir, exist_ok=True)
        self.catalog = Catalog(catalog_path or os.path.join(self.data_dir, "catalog.sqlite"))
        self.database = DEFAULT_DB
        self.search_schema = DEFAULT_SCHEMA
        # the session's SQL parser: the one source of what a statement
        # references (_closure)
        self._sql_parser = spark._jsparkSession.sessionState().sqlParser()
        # python UDFs run arbitrary source via exec(); embedders get them by
        # default, network frontends must opt in explicitly (tools/serve.py)
        self.allow_python_udfs = allow_python_udfs
        # staging schema: session-scoped external tables (reference
        # src/provider.rs:25-54 keeps these in-memory, never persisted)
        self.staging: dict[str, DataFrame] = {}
        # source specs for staging tables that support time travel
        # (iceberg: re-resolvable at any snapshot)
        self.staging_specs: dict[str, tuple[str, str, dict]] = {}
        self._registered_views: set[str] = set()
        # Statement execution is serialized: the threaded frontends share one
        # context, and view refresh / search-path / catalog writes are shared
        # state. Heavy work stays parallel — execute() only ANALYZES (plans
        # are lazy); actions (toLocalIterator/toArrow) run outside the lock.
        self._exec_lock = threading.RLock()

    # ------------------------------------------------------------ resolution

    def set_database(self, name: str) -> None:
        if name not in self.catalog.databases():
            raise ExecutionError(f"database {name} does not exist")
        self.database = name

    def table_root(self, entry: TableEntry) -> str:
        return os.path.join(self.data_dir, entry.uuid)

    def _resolve(self, name: str) -> TableEntry:
        db, schema, table = parser.parse_qualified(name)
        db = db or self.database
        if schema == STAGING_SCHEMA:
            raise ExecutionError("staging tables are read-only external tables")
        schema = schema or self.search_schema
        entry = self.catalog.get_table(db, schema, table)
        if entry is None:
            raise ExecutionError(f"table {db}.{schema}.{table} does not exist")
        return entry

    def delta_table(self, name: str) -> DeltaLiteTable:
        return DeltaLiteTable(self.spark, self.table_root(self._resolve(name)))

    # ------------------------------------------------------------ introspection

    def _snapshots(self, entries: list[TableEntry]) -> dict[str, Snapshot]:
        """uuid -> snapshot of every readable table: one log replay per
        table for an introspection builder."""
        snaps = {}
        for e in entries:
            try:
                snaps[e.uuid] = DeltaLiteTable(
                    self.spark, self.table_root(e)
                ).snapshot()
            except DeltaLiteError:
                continue
        return snaps

    def _system_tables(self) -> dict[str, DataFrame]:
        """system.table_versions / system.dropped_tables (A21; reference
        src/system_tables.rs:21-292)."""
        entries = self.catalog.tables(self.database)
        ent = {e.uuid: e for e in entries}
        snaps = self._snapshots(entries)
        tv_rows = [
            Row(
                table_schema=ent[u].schema if u in ent else None,
                table_name=ent[u].name if u in ent else None,
                table_uuid=u,
                version=v,
                creation_time=ts // 1000,
                operation=op,
            )
            for (u, v, ts, op) in self.catalog.table_versions()
            if u in ent
        ]
        tv_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, table_uuid string, "
            "version bigint, creation_time bigint, operation string"
        )
        dt_rows = [
            Row(uuid=u, database=d, schema=s, name=n, drop_time=ms // 1000)
            for (u, d, s, n, ms) in self.catalog.dropped_tables()
        ]
        dt_schema = T.StructType.fromDDL(
            "uuid string, database string, schema string, name string, drop_time bigint"
        )
        tf_rows = []
        for e in entries:
            if e.uuid not in snaps:
                continue
            for fobj in snaps[e.uuid].files:
                tf_rows.append(
                    Row(
                        table_schema=e.schema,
                        table_name=e.name,
                        path=fobj.path,
                        rows=fobj.rows,
                        size_bytes=fobj.size_bytes,
                        bucket=fobj.bucket,
                        dv_deleted_rows=int((fobj.dv or {}).get("cardinality", 0)),
                    )
                )
        tf_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, path string, "
            "rows bigint, size_bytes bigint, bucket int, dv_deleted_rows bigint"
        )
        from .matview import MATVIEW_PROP, MvSpec

        mv_rows = []
        for e in entries:
            snap = snaps.get(e.uuid)
            raw = ((snap.properties if snap else None) or {}).get(MATVIEW_PROP)
            if not raw:
                continue
            spec = MvSpec.from_json(raw)
            try:
                b_entry = self._resolve(spec.base)
                if spec.base_uuid and b_entry.uuid != spec.base_uuid:
                    # the name points at a DIFFERENT table now (drop-and-
                    # recreate): same board state as dropped — REFRESH
                    # refuses it for the same reason
                    base_latest = None
                else:
                    base_latest = DeltaLiteTable(
                        self.spark, self.table_root(b_entry)
                    ).latest_version()
            except ExecutionError:
                base_latest = None  # base dropped: permanently stale
            # a changed dimension also makes the view stale (r9 joins)
            dims_stale = False
            for dname, dver in (spec.dim_versions or {}).items():
                try:
                    d_entry = self._resolve(dname)
                    d_uuid = (spec.dim_uuids or {}).get(dname)
                    if (d_uuid and d_entry.uuid != d_uuid) or DeltaLiteTable(
                        self.spark, self.table_root(d_entry)
                    ).latest_version() != dver:
                        dims_stale = True
                except ExecutionError:
                    dims_stale = True  # dim dropped
            mv_rows.append(
                Row(
                    view_schema=e.schema,
                    view_name=e.name,
                    base_table=spec.base,
                    group_columns=",".join(spec.group_cols),
                    base_version=spec.base_version,
                    base_latest_version=base_latest,
                    is_stale=(
                        base_latest is None
                        or base_latest > spec.base_version
                        or dims_stale
                    ),
                )
            )
        mv_schema = T.StructType.fromDDL(
            "view_schema string, view_name string, base_table string, "
            "group_columns string, base_version bigint, "
            "base_latest_version bigint, is_stale boolean"
        )
        # search indexes (r9): freshness by FILE-SET fingerprint, so
        # metadata-only commits never flag a fresh index stale
        from .search_index import load_specs as _si_load, snapshot_fp as _si_fp

        si_rows = []
        for e in entries:
            snap = snaps.get(e.uuid)
            specs = _si_load((snap.properties if snap else None) or {})
            if not specs:
                continue
            try:
                cur_fp = _si_fp(snap)
            except Exception:  # noqa: BLE001 — broken storage: stale
                cur_fp = None
            for n, s in sorted(specs.items()):
                si_rows.append(
                    Row(
                        table_schema=e.schema,
                        table_name=e.name,
                        index_name=n,
                        method=s.method,
                        column_name=s.column,
                        built_version=s.built_version,
                        is_stale=s.file_fp != cur_fp,
                        # maintained by REFRESH (delete-aware diffs) and
                        # zeroed by rebuilds/OPTIMIZE — read from the
                        # spec, never the artifact (the board must stay
                        # metadata-only)
                        tombstones=int(s.params.get("tombstones", 0)),
                        # incremental write batches accumulated since the
                        # last build/OPTIMIZE (r11): each one adds small
                        # artifact/stats files readers must open — the
                        # auto-compaction trigger's other axis
                        fragments=int(s.params.get("fragments", 0)),
                        # why the last compaction ran (r12): the auto
                        # trigger with its numbers ("auto: fragments 17
                        # > 16") or "manual OPTIMIZE" — evidence for
                        # tuning auto_compact_fragments
                        last_compact_reason=s.params.get(
                            "last_compact_reason"
                        ),
                    )
                )
        si_schema = T.StructType.fromDDL(
            "table_schema string, table_name string, index_name string, "
            "method string, column_name string, built_version bigint, "
            "is_stale boolean, tombstones bigint, fragments bigint, "
            "last_compact_reason string"
        )
        return {
            "table_versions": self.spark.createDataFrame(tv_rows, tv_schema),
            "dropped_tables": self.spark.createDataFrame(dt_rows, dt_schema),
            # beyond the reference: per-file layout introspection (the
            # DESCRIBE DETAIL story — lets users see compaction/bucketing/
            # z-order effects without filesystem access)
            "table_files": self.spark.createDataFrame(tf_rows, tf_schema),
            # materialized-view freshness: which views lag their base
            "matviews": self.spark.createDataFrame(mv_rows, mv_schema),
            # search-index freshness (r9): which indexes lag their table
            "search_indexes": self.spark.createDataFrame(si_rows, si_schema),
        }

    def _information_schema(self) -> dict[str, DataFrame]:
        """information_schema.{tables,columns} over the metastore (A20; the
        reference inherits DataFusion's information_schema provider)."""
        entries = self.catalog.tables(self.database)
        snaps = self._snapshots(entries)
        t_rows = [
            Row(
                table_catalog=e.database,
                table_schema=e.schema,
                table_name=e.name,
                table_type=(
                    "VIEW"
                    if e.uuid in snaps
                    and (snaps[e.uuid].properties or {}).get(VIEW_PROP)
                    else "BASE TABLE"
                ),
            )
            for e in entries
        ]
        c_rows = []
        for e in entries:
            for pos, f in enumerate(T.StructType.fromDDL(e.schema_ddl).fields, 1):
                c_rows.append(
                    Row(
                        table_catalog=e.database,
                        table_schema=e.schema,
                        table_name=e.name,
                        column_name=f.name,
                        ordinal_position=pos,
                        data_type=f.dataType.simpleString(),
                        is_nullable="YES",
                    )
                )
        # CHECK constraints live in each table's snapshot properties (the
        # log is authoritative); surfacing them here gives the standard
        # table_constraints/check_constraints pair (constraint_type is
        # always CHECK — no PK/FK surface, same as the reference).
        tc_rows, cc_rows = [], []
        for e in entries:
            if e.uuid not in snaps:
                continue
            props = snaps[e.uuid].properties or {}
            for cname, expr in (props.get("constraints") or {}).items():
                tc_rows.append(
                    Row(
                        constraint_catalog=e.database,
                        constraint_schema=e.schema,
                        constraint_name=cname,
                        table_catalog=e.database,
                        table_schema=e.schema,
                        table_name=e.name,
                        constraint_type="CHECK",
                    )
                )
                cc_rows.append(
                    Row(
                        constraint_catalog=e.database,
                        constraint_schema=e.schema,
                        constraint_name=cname,
                        check_clause=expr,
                    )
                )
        return {
            "tables": self.spark.createDataFrame(
                t_rows,
                "table_catalog string, table_schema string, table_name string, table_type string",
            ),
            "columns": self.spark.createDataFrame(
                c_rows,
                "table_catalog string, table_schema string, table_name string, "
                "column_name string, ordinal_position int, data_type string, is_nullable string",
            ),
            "table_constraints": self.spark.createDataFrame(
                tc_rows,
                "constraint_catalog string, constraint_schema string, "
                "constraint_name string, table_catalog string, "
                "table_schema string, table_name string, constraint_type string",
            ),
            "check_constraints": self.spark.createDataFrame(
                cc_rows,
                "constraint_catalog string, constraint_schema string, "
                "constraint_name string, check_clause string",
            ),
        }

    # ------------------------------------------------------------ statement closure

    def _closure(self, sql: str, names: tuple[str, ...] = ()) -> _Closure:
        """What ``sql`` reads: the relations Spark's parser finds in it
        (parser.relation_refs) plus ``names`` (qualified names the caller
        reads outside the SQL text), resolved case-insensitively against
        one catalog listing, the staging tables and the system /
        information_schema names. A view expands depth-first through its
        stored query, so each table comes after everything it reads.

        A superset is safe: binding an extra table changes no result and
        hashing one only invalidates more, so CTE names that shadow a
        table are not subtracted, and "Foo" / foo both resolve to every
        case variant. A view whose query does not parse, or that sits on
        a cycle, keeps only the dependencies found so far and fails when
        bound. Caller holds the engine dialect (_ansi_dialect)."""
        by_ref: dict[str, list[TableEntry]] = {}
        for e in self.catalog.tables(self.database):
            forms = [f"[{e.database}, {e.schema}, {e.name}]", f"[{e.schema}, {e.name}]"]
            if e.schema == self.search_schema:
                forms.append(f"[{e.name}]")
            for f in forms:
                by_ref.setdefault(f.lower(), []).append(e)
        staging = {f"[{STAGING_SCHEMA}, {n}]".lower(): n for n in self.staging}
        staging.update({f"[{n}]".lower(): n for n in self.staging})
        c = _Closure()
        seen: set[str] = set()

        def visit(refs: set[str]) -> None:
            for ref in sorted(refs):
                if ref in staging:
                    c.staging.add(staging[ref])
                if ref in _INTROSPECTION:
                    c.introspection.add(_INTROSPECTION[ref])
                for e in by_ref.get(ref, ()):
                    if e.uuid in seen:
                        continue
                    seen.add(e.uuid)
                    snap = DeltaLiteTable(self.spark, self.table_root(e)).snapshot()
                    view_sql = (snap.properties or {}).get(VIEW_PROP)
                    if view_sql is not None:
                        try:
                            visit(parser.relation_refs(self._sql_parser, view_sql))
                        except AnalysisException:  # fails when bound
                            pass
                    c.tables.append((e, snap))

        try:
            refs = parser.relation_refs(self._sql_parser, sql)
        except AnalysisException:  # spark.sql reports it
            refs = set()
        visit(refs | {
            ("[" + ", ".join(parser.split_name_parts(n)) + "]").lower()
            for n in names
        })
        return c

    def reload_views(self, sql: str) -> tuple[dict[str, str], _Closure]:
        """Bind exactly what ``sql`` reads — its closure (_closure) — as
        temp views, dependencies first. Returns the qualified-name ->
        view-name mapping _rewrite_names applies, and the closure.
        System / information_schema frames are built only when the
        statement names one.

        Engine views the previous statement bound and this one does not
        are dropped, so a reference the closure missed fails as an
        unresolved relation and never reads a stale plan. A table that
        fails to bind fails only the statements whose closure holds it.
        """
        c = self._closure(sql)
        mapping: dict[str, str] = {}
        frames: dict[str, DataFrame] = {}  # temp-view name -> plan
        views: list[tuple[str, list[str]]] = []  # (stored query, names)
        # case-fold sibling groups: when "Foo" and "foo" both exist, only
        # the exact-lowercase one may own the bare temp-view name (the
        # unquoted-reference fold target, PG-style); the sibling stays
        # reachable through its case-sensitive quoted forms. The closure
        # resolves case-insensitively, so it holds every sibling.
        folds = Counter((e.schema, e.name.lower()) for e, _ in c.tables)
        for e, snap in c.tables:
            mangled = _mangle(e.schema, e.name)
            mapping[f"{e.schema}.{e.name}"] = mangled
            mapping[f"{e.database}.{e.schema}.{e.name}"] = mangled
            # ANSI double-quoted reference forms, ONLY for names that need
            # quoting (the reference dialect writes special-char names as
            # SELECT ... FROM "new_./-~:schema".t; restricting to these
            # avoids touching plain double-quoted STRING literals, which
            # Spark SQL still parses as strings). A plain-charset name
            # containing UPPERCASE also needs the quoted forms: "Foo"
            # and "foo" are distinct case-sensitive identifiers in the
            # dialect, while Spark's temp-view namespace is
            # case-insensitive — such names get the hash-suffixed mangle
            # and resolve only via the mapping.
            s_quoted = not re.fullmatch(_PLAIN_NAME, e.schema) or e.schema != e.schema.lower()
            n_quoted = not re.fullmatch(_PLAIN_NAME, e.name) or e.name != e.name.lower()
            if s_quoted or n_quoted:
                mapping[f'"{e.schema}"."{e.name}"'] = mangled
            if s_quoted:
                mapping[f'"{e.schema}".{e.name}'] = mangled
            if n_quoted:
                mapping[f'{e.schema}."{e.name}"'] = mangled
                if e.schema == self.search_schema:
                    # unqualified quoted reference resolves against the
                    # search schema, like unquoted names do
                    mapping[f'"{e.name}"'] = mangled
            names = [mangled]
            if (
                e.schema == self.search_schema
                and re.fullmatch(_PLAIN_NAME, e.name)
                and (folds[(e.schema, e.name.lower())] == 1 or e.name == e.name.lower())
            ):
                names.append(e.name)
            view_sql = (snap.properties or {}).get(VIEW_PROP)
            if view_sql is None:
                df = DeltaLiteTable(self.spark, self.table_root(e)).to_df(_snap=snap)
                frames.update(dict.fromkeys(names, df))
            else:
                views.append((view_sql, names))
        for name in sorted(c.staging):
            frames[name] = self.staging[name]
            mapping[f"{STAGING_SCHEMA}.{name}"] = name
        built: dict[str, dict[str, DataFrame]] = {}
        for schema, name in sorted(c.introspection):
            if schema not in built:
                built[schema] = (
                    self._system_tables()
                    if schema == SYSTEM_SCHEMA
                    else self._information_schema()
                )
            mangled = _mangle(schema, name)
            frames[mangled] = built[schema][name]
            mapping[f"{schema}.{name}"] = mangled
        # stale plans go BEFORE any view expands: a renamed base table
        # leaves its old name's temp view behind (rename is catalog-only),
        # and a view whose query still reads the old name must break, not
        # bind that plan. Spark's temp-view namespace is case-INSENSITIVE,
        # so compare folded: dropping stale 'Foo' must not remove 'foo'.
        keep = {n.lower() for n in frames}
        for stale in self._registered_views:
            if stale.lower() not in keep:
                self.spark.catalog.dropTempView(stale)
        for name, df in frames.items():
            df.createOrReplaceTempView(name)
        self._registered_views = set(frames)
        for view_sql, names in views:
            try:
                df = self.spark.sql(self._rewrite_names(view_sql, mapping))
            except Exception:  # noqa: BLE001
                # broken view (e.g. a dropped base table): unmap it so
                # statements naming it fail with an unresolved relation
                for k in [k for k, v in mapping.items() if v == names[0]]:
                    del mapping[k]
                continue
            for name in names:
                df.createOrReplaceTempView(name)
            self._registered_views.update(names)
        self._register_functions()
        return mapping, c

    def _rewrite_names(self, sql: str, mapping: dict[str, str]) -> str:
        """Replace qualified table references with mangled view names,
        outside string literals, longest-first. ONE combined alternation
        pass instead of one regex pass per key: with N tables the old
        loop re-scanned every statement N times — linear in catalog size
        per statement, exactly the serving-layer overhead a many-table
        deployment would feel."""
        # keep literals intact — the parser's quote scanner, not a bare
        # regex split, so an apostrophe inside a double-quoted identifier
        # never opens a phantom string literal
        parts = parser.split_on_string_literals(sql)
        if not mapping:
            return sql
        # Bare identifiers match case-insensitively (the engine's unquoted
        # names fold, like the reference dialect's); double-quoted forms
        # are CASE-SENSITIVE identifiers — "Foo" and "foo" are distinct
        # tables and must not collapse through a lowercase lookup.
        bare = sorted((k for k in mapping if '"' not in k), key=len, reverse=True)
        quoted = sorted((k for k in mapping if '"' in k), key=len, reverse=True)
        # bare-key fold target: on a case-fold collision (public.Foo vs
        # public.foo) the ALL-LOWERCASE original wins — an unquoted
        # reference folds to lowercase, PG-style
        by_lower: dict[str, str] = {}
        for k, v in mapping.items():
            if '"' in k:
                continue
            kl = k.lower()
            if kl not in by_lower or k == kl:
                by_lower[kl] = v

        # quoted keys: QUOTED segments match case-sensitively, the
        # unquoted segments of a mixed reference still fold (`public` in
        # public."my-Table" may appear as PUBLIC)
        def _qsegs(k: str) -> list[str]:
            return [s for s in re.split(r'("(?:[^"]|"")*")', k) if s]

        def _qpat(k: str) -> str:
            return "".join(
                re.escape(s) if s.startswith('"') else f"(?i:{re.escape(s)})"
                for s in _qsegs(k)
            )

        def _qnorm(k: str) -> str:
            return "".join(
                s if s.startswith('"') else s.lower() for s in _qsegs(k)
            )

        by_qnorm = {_qnorm(k): mapping[k] for k in quoted}
        pats: list[tuple[re.Pattern, Any]] = []
        if quoted:
            pats.append((
                re.compile(
                    r"(?<![A-Za-z0-9_.`])(?:"
                    + "|".join(_qpat(k) for k in quoted)
                    + r")(?![A-Za-z0-9_.`])"
                ),
                lambda m: f"`{by_qnorm[_qnorm(m.group(0))]}`",
            ))
        if bare:
            pats.append((
                re.compile(
                    r"(?<![A-Za-z0-9_.`\"])(?:"
                    + "|".join(re.escape(k) for k in bare)
                    + r")(?![A-Za-z0-9_.`\"])",
                    re.IGNORECASE,
                ),
                lambda m: f"`{by_lower[m.group(0).lower()]}`",
            ))
        # Case-variant guard: an UNQUALIFIED quoted plain-charset reference
        # that survived the exact-case rewrite above would fall through to
        # Spark's case-INSENSITIVE temp-view lookup and silently resolve a
        # case-variant table (with only "Foo" in the catalog, "foo" resolved
        # to it — the exact collapse the hash-mangling set out to prevent;
        # qualified wrong-case refs already fail because temp views only
        # resolve unqualified). For any quoted name that case-insensitively
        # matches a search-schema table: an exact-case hit passes through
        # untouched (mixed-case exact hits were already rewritten by the
        # quoted alternation above; all-lowercase ones resolve correctly
        # via their bare temp view — leaving them alone also keeps quoted
        # COLUMN refs that share a lowercase table's exact name working),
        # and a case-variant MISS is rejected (quoted identifiers are
        # case-sensitive in the dialect). Only fires on names colliding
        # with a table name, so quoted column references stay untouched
        # unless they shadow a table case-variant — the same (accepted)
        # clobber scope the exact-case quoted keys already have.
        guard: dict[str, dict[str, str]] = {}
        pref = f"{self.search_schema}."
        for k, v in mapping.items():
            if '"' in k or not k.startswith(pref):
                continue
            nm = k[len(pref):]
            if "." not in nm and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", nm):
                guard.setdefault(nm.lower(), {})[nm] = v
        guard_pat = re.compile(
            r'(?<![A-Za-z0-9_.`])"([A-Za-z_][A-Za-z0-9_]*)"(?![A-Za-z0-9_.`])'
        )

        def _guard_repl(m: re.Match) -> str:
            inner = m.group(1)
            variants = guard.get(inner.lower())
            if variants is None:
                return m.group(0)  # no table of that name: not ours
            if inner in variants:
                return m.group(0)  # exact case: resolves correctly as-is
            raise ExecutionError(
                f'relation "{inner}" does not exist (quoted identifiers '
                f"are case-sensitive; did you mean one of "
                f"{sorted(variants)}?)"
            )

        for i in range(0, len(parts), 2):
            for pat, repl in pats:
                parts[i] = pat.sub(repl, parts[i])
            if guard:
                parts[i] = guard_pat.sub(_guard_repl, parts[i])
        return "".join(parts)

    # ------------------------------------------------------------ functions

    def _register_functions(self) -> None:
        """Re-register persisted UDFs on the session (reference re-registers
        from catalog in reload_schema, src/context/mod.rs:101-112)."""
        from .udf import UdfError, register_udf

        for name, spec in self.catalog.functions(self.database).items():
            try:
                register_udf(self.spark, name, spec, allow_python=self.allow_python_udfs)
            except UdfError:
                # persisted function whose language is disabled/unavailable in
                # this session: skip registration; using it errors at analysis
                continue

    # ------------------------------------------------------------ execution

    def execute(self, sql: str, search_path: str | None = None) -> DataFrame | None:
        """Execute one or more ;-separated statements; only the last may be
        a read (reference frontend/http.rs:174-204); returns its DataFrame.

        ``search_path`` scopes unqualified names for this call only (the
        Flight frontend's per-command search_path); it is applied under the
        execution lock so concurrent callers never see each other's value.
        """
        with self._exec_lock:
            old = self.search_schema
            try:
                if search_path:
                    self.search_schema = search_path
                stmts = parser.split_statements(sql)
                if not stmts:
                    raise ExecutionError("empty statement")
                for s in stmts[:-1]:
                    if parser.is_read_only(s):
                        raise ExecutionError(
                            "only the last statement in a multi-statement request may be a query"
                        )
                    self.execute_statement(s)
                return self.execute_statement(stmts[-1])
            finally:
                self.search_schema = old

    @contextmanager
    def _ansi_dialect(self):
        """Scoped spark.sql.ansi.doubleQuotedIdentifiers=true. The engine
        speaks the reference's ANSI dialect, where double quotes delimit
        IDENTIFIERS ("date field"), not strings (query.rs:163-280 queries
        a quoted column). Spark's default silently parses "x" as the
        string 'x' — set/restore under the execution lock, so embedders
        using the same session outside the engine keep Spark defaults."""
        conf_key = "spark.sql.ansi.doubleQuotedIdentifiers"
        prev = self.spark.conf.get(conf_key, "false")
        try:
            self.spark.conf.set(conf_key, "true")
            yield
        finally:
            self.spark.conf.set(conf_key, prev)

    def execute_statement(self, sql: str) -> DataFrame | None:
        with self._exec_lock:
            stmt = parser.parse_statement(sql)
            handler = getattr(self, f"_exec_{stmt.kind}", None)
            if handler is None:
                raise ExecutionError(f"no handler for {stmt.kind}")
            with self._ansi_dialect():
                return handler(stmt)

    def query(self, sql: str) -> DataFrame:
        # same dialect + lock as execute(): "x" must parse as an
        # identifier through BOTH entry points, not just execute()
        with self._exec_lock, self._ansi_dialect():
            return self._exec_query(parser.Statement("query", sql))

    # ---- reads

    def _exec_query(self, stmt) -> DataFrame:
        meta = self._meta_query(stmt.text)
        if meta is not None:
            return meta
        sql, travels = parser.extract_time_travel(stmt.text)
        sql, si_aliases = (
            self._expand_search_index_calls(sql)
            if "search_index" in sql.lower()
            else (sql, [])
        )
        for alias, name, ts in travels:
            _, schema_name, tbl = parser.parse_qualified(name)
            if schema_name == STAGING_SCHEMA:
                df = self._staging_travel(tbl, ts)
            else:
                t = self.delta_table(name)
                if (t.snapshot().properties or {}).get(VIEW_PROP):
                    raise ExecutionError(
                        "time travel over a view is not supported (the "
                        "view stores no data; travel its base tables)"
                    )
                if ts.startswith("version="):
                    df = t.to_df(version=int(ts[len("version="):]))
                else:
                    df = t.to_df(timestamp=ts)
            df.createOrReplaceTempView(alias)
        mapping, closure = self.reload_views(sql)
        try:
            # spark.sql analyzes eagerly: the returned plan holds resolved
            # relations, so the per-query snapshot views can be dropped here
            rewritten = self._rewrite_names(sql, mapping)
            self._maybe_prune_scans(rewritten, closure)
            return self.spark.sql(rewritten)
        finally:
            for alias, _, _ in travels:
                self.spark.catalog.dropTempView(alias)
            for alias in si_aliases:
                self.spark.catalog.dropTempView(alias)

    def _maybe_prune_scans(self, sql: str, closure: _Closure) -> None:
        """Stats-level scan pruning for iceberg and delta staging tables
        (the reference gets the equivalent from DataFusion's
        PruningPredicate over its providers): iceberg prunes from manifest
        column bounds, delta from per-add stats JSON.

        Only fires for the provably-safe shape — a single SELECT over one
        staging table with a WHERE clause (no set ops, no
        subqueries, no joins) — and re-registers that table's view over
        the predicate-pruned file list for this query. Pruning itself is
        conservative (engine/pruning.py): a file is dropped only when its
        manifest column bounds prove no row can match. Everything else
        falls through to the full view registered by reload_views.
        Candidates are the statement's closure: its staging tables and
        the base tables it reads (a view stores no rows to prune).

        Scale: skips whole data files driver-side from manifest metadata
        before Spark plans the scan — at 100 TB this is the difference
        between opening every parquet footer and opening only candidates.
        """
        if re.search(r"(?i)\b(UNION|INTERSECT|EXCEPT|JOIN)\b", sql):
            return
        if len(re.findall(r"(?i)\bSELECT\b", sql)) != 1:
            return
        s = sql.strip().rstrip("; \n")
        # a bare LIMIT is an over-fetch cap; under ORDER BY it would
        # truncate BEFORE the sort — never push those
        limit_safe = not re.search(r"(?i)\b(ORDER|GROUP|HAVING|WINDOW|DISTINCT)\b", s)
        staged = {n: self.staging_specs[n] for n in closure.staging if n in self.staging_specs}
        for name, (fmt, location, options) in staged.items():
            if fmt != "table" or not limit_safe:
                continue
            # remote tables: re-push a bare trailing LIMIT into the remote
            # SQL. Projection-only select list (no parens = no aggregates),
            # no GROUP/ORDER — a pushed LIMIT is an over-fetch cap,
            # semantics-preserving, but ONLY when the remote applies the
            # FULL WHERE before capping: Spark's pushFilters offers just
            # the shippable conjuncts (disjunctions and cast-wrapped
            # predicates stay Spark-side), and a remote LIMIT applied
            # before a residual Spark-side filter can silently drop
            # matching rows. So require no WHERE at all, or a WHERE whose
            # every top-level conjunct is provably shippable against the
            # table's schema (_where_fully_shippable).
            m = re.match(
                rf"(?is)^\s*SELECT\s+[\w\s,.*`]+?\sFROM\s+`?{re.escape(name)}`?"
                rf"(?:\s+(?:AS\s+)?\w+)?(?:\s+WHERE\s+(?P<where>.+?))?"
                rf"\s+LIMIT\s+(?P<n>\d+)\s*$",
                s,
            )
            if not m:
                continue
            where = m.group("where")
            if where is not None:
                frame = self.staging.get(name)
                if frame is None or not _where_fully_shippable(
                    where, frame.schema
                ):
                    continue
            from ..sources.external import read_external

            try:
                df = read_external(
                    self.spark, "table", location,
                    options={**options, "limit": m.group("n")},
                )
            except Exception:
                continue
            df.createOrReplaceTempView(name)
        candidates: list[tuple[str, Any]] = [
            (name, spec)
            for name, spec in staged.items()
            if spec[0] in ("iceberg", "delta", "deltatable")
        ]
        snaps = {}
        for e, snap in closure.tables:
            if (snap.properties or {}).get(VIEW_PROP) is not None:
                continue
            # engine-native tables prune by the footer stats their adds
            # already carry — the read-side twin of DML pruning
            snaps[e.uuid] = snap
            names = [_mangle(e.schema, e.name)]
            if e.schema == self.search_schema:
                names.append(e.name)
            # only names this statement bound to e (a case-fold sibling
            # does not own the bare name)
            candidates += [(n, e) for n in names if n in self._registered_views]
        for name, spec in candidates:
            pat = re.compile(
                rf"(?is)^\s*SELECT\s+.*?\sFROM\s+`?{re.escape(name)}`?"
                rf"(?:\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*))?"
                rf"\s+WHERE\s+(?P<pred>.*?)"
                rf"(?:\s+(?:GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW)\b.*)?$"
            )
            m = pat.match(sql.strip().rstrip("; \n"))
            if not m:
                continue
            pred = m.group("pred")
            for q in filter(None, (m.group("alias"), name)):
                # qualified refs -> bare names for the stats evaluator
                pred = re.sub(rf"(?<![\w.`])`?{re.escape(q)}`?\.", "", pred)
            try:
                if isinstance(spec, tuple):
                    fmt, location, options = spec
                    if fmt == "iceberg":
                        from ..sources.iceberg import read_iceberg

                        df = read_iceberg(
                            self.spark, location, options, predicate_sql=pred
                        )
                    else:
                        from ..sources.delta_log import read_any_delta

                        df = read_any_delta(
                            self.spark, location, predicate_sql=pred
                        )
                else:
                    df = DeltaLiteTable(
                        self.spark, self.table_root(spec)
                    ).to_df(predicate_sql=pred, _snap=snaps[spec.uuid])
            except Exception:
                continue  # best-effort: the full view is already registered
            df.createOrReplaceTempView(name)

    def _staging_travel(self, name: str, ts: str) -> DataFrame:
        """Time travel over an iceberg staging table: FOR TIMESTAMP AS OF
        maps to the snapshot-log's as-of resolution, FOR VERSION AS OF to a
        snapshot id — the same unified travel syntax engine tables get
        (beyond the reference, whose iceberg reads are pinned at CREATE);
        delta externals travel through the deltalite snapshot log."""
        spec = self.staging_specs.get(name)
        if spec is None:
            raise ExecutionError(
                f"time travel on staging.{name} requires an iceberg or delta "
                "external table"
            )
        fmt, location, options = spec
        if fmt == "table":
            raise ExecutionError(
                f"time travel is not supported on remote table staging.{name}"
            )
        if fmt in ("delta", "deltatable"):
            from ..sources.delta_log import read_any_delta

            if ts.startswith("version="):
                return read_any_delta(
                    self.spark, location, version=int(ts[len("version="):])
                )
            return read_any_delta(self.spark, location, timestamp=ts)
        from ..sources.external import read_external

        opts = {
            k: v for k, v in options.items()
            if k not in ("snapshot-id", "as-of-timestamp")
        }
        if ts.startswith("version="):
            opts["snapshot-id"] = ts[len("version="):]
        else:
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            opts["as-of-timestamp"] = str(int(dt.timestamp() * 1000))
        return read_external(self.spark, fmt, location, options=opts)

    def _meta_query(self, sql: str) -> DataFrame | None:
        """SHOW TABLES / SHOW COLUMNS / DESCRIBE against our catalog (A20;
        the reference delegates these to DataFusion's information_schema,
        logical.rs:109-117 — ours answer from the metastore)."""
        s = re.sub(r"\s+", " ", sql.strip()).rstrip(";")
        if re.fullmatch(r"(?i)show tables", s):
            rows = [
                Row(table_schema=e.schema, table_name=e.name)
                for e in self.catalog.tables(self.database)
            ] + [
                Row(table_schema=SYSTEM_SCHEMA, table_name=n)
                for n in ("table_versions", "dropped_tables", "table_files")
            ] + [Row(table_schema=STAGING_SCHEMA, table_name=n) for n in self.staging]
            return self.spark.createDataFrame(
                rows, "table_schema string, table_name string"
            )
        m = re.fullmatch(r"(?i)describe history ([\w.]+)", s)
        if m:
            # Delta-parity commit history (our extension; complements
            # system.table_versions with per-commit add/remove counts)
            t = self.delta_table(m.group(1))
            rows = [
                Row(
                    version=c.version,
                    timestamp_ms=c.timestamp_ms,
                    operation=c.operation,
                    n_adds=len(c.adds),
                    n_removes=len(c.removes),
                )
                for c in t.history()
            ]
            return self.spark.createDataFrame(
                rows,
                "version long, timestamp_ms long, operation string, "
                "n_adds long, n_removes long",
            )
        m = re.fullmatch(r"(?i)(?:show columns (?:from|in)|describe(?: table)?) ([\w.]+)", s)
        if m:
            entry = self._resolve(m.group(1))
            schema = T.StructType.fromDDL(entry.schema_ddl)
            rows = [
                Row(column_name=f.name, data_type=f.dataType.simpleString(), nullable=True)
                for f in schema.fields
            ]
            return self.spark.createDataFrame(
                rows, "column_name string, data_type string, nullable boolean"
            )
        m = re.match(r"(?is)^explain\s+analyze\s+(.+)$", s)
        if m:
            # DataFusion-dialect parity (the reference passes EXPLAIN
            # ANALYZE through to DataFusion): EXECUTE the query, then
            # report the FINAL plan — under AQE that is the re-planned
            # post-execution plan (coalesced shuffles, demoted joins),
            # which plain EXPLAIN cannot show — plus row/time totals.
            import time as _time

            inner = self._exec_query(parser.Statement("query", m.group(1)))
            qe = inner._jdf.queryExecution()
            t0 = _time.perf_counter()
            # execute the query's OWN physical plan (an RDD count — no
            # driver-side data collect): a separate .count() would build
            # a new column-pruned Dataset and leave this plan's AQE
            # unfinalized (isFinalPlan=false — the initial plan, which is
            # exactly what plain EXPLAIN already shows)
            n_rows = qe.executedPlan().execute().count()
            elapsed_ms = int((_time.perf_counter() - t0) * 1000)
            plan = qe.executedPlan().toString()
            lines = [
                f"rows: {n_rows}",
                f"elapsed_ms: {elapsed_ms}",
                "-- final adaptive plan --",
                *plan.rstrip("\n").split("\n"),
            ]
            return self.spark.createDataFrame(
                [Row(plan_line=ln) for ln in lines], "plan_line string"
            )
        m = re.fullmatch(r"(?i)describe detail ([\w.]+)", s)
        if m:
            # Delta-parity one-row table summary from the live snapshot
            entry = self._resolve(m.group(1))
            t = DeltaLiteTable(self.spark, self.table_root(entry))
            snap = t.snapshot()
            import json as _json

            rows = [
                Row(
                    format="deltalite",
                    name=f"{entry.schema}.{entry.name}",
                    location=self.table_root(entry),
                    version=snap.version,
                    num_files=len(snap.files),
                    size_bytes=sum(f.size_bytes for f in snap.files),
                    num_rows=snap.num_rows,
                    num_deletion_vectors=sum(1 for f in snap.files if f.dv),
                    properties=_json.dumps(snap.properties, sort_keys=True),
                )
            ]
            return self.spark.createDataFrame(
                rows,
                "format string, name string, location string, version long, "
                "num_files long, size_bytes long, num_rows long, "
                "num_deletion_vectors long, properties string",
            )
        m = re.fullmatch(r"(?i)show create table ([\w.]+)", s)
        if m:
            entry = self._resolve(m.group(1))
            t = DeltaLiteTable(self.spark, self.table_root(entry))
            snap = t.snapshot()
            from .matview import MATVIEW_PROP, MvSpec

            raw = (snap.properties or {}).get(MATVIEW_PROP)
            if raw:
                # a materialized view re-creates as its defining query,
                # not as the materialized table shape
                spec = MvSpec.from_json(raw)
                ddl = (
                    f"CREATE MATERIALIZED VIEW {entry.schema}.{entry.name} "
                    f"AS {spec.query}"
                )
                return self.spark.createDataFrame(
                    [Row(create_statement=ddl)], "create_statement string"
                )
            vsql = (snap.properties or {}).get(VIEW_PROP)
            if vsql:
                ddl = f"CREATE VIEW {entry.schema}.{entry.name} AS {vsql}"
                return self.spark.createDataFrame(
                    [Row(create_statement=ddl)], "create_statement string"
                )
            schema = T.StructType.fromDDL(snap.schema_ddl)
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in schema.fields
            )
            ddl = f"CREATE TABLE {entry.schema}.{entry.name} (\n  {cols}\n)"
            from .search_index import INDEX_PROP, load_specs

            props = {
                k: v
                for k, v in (snap.properties or {}).items()
                if k not in ("constraints", INDEX_PROP)
            }
            if props:
                kv = ", ".join(
                    f"'{k}' = '{','.join(v) if isinstance(v, list) else v}'"
                    for k, v in sorted(props.items())
                )
                ddl += f"\nWITH ({kv})"
            qual = f"{entry.schema}.{entry.name}"
            for name, expr in (snap.properties or {}).get(
                "constraints", {}
            ).items():
                # constraints re-apply as their own executable statements
                # (CREATE TABLE has no inline CHECK syntax here)
                ddl += f";\nALTER TABLE {qual} ADD CONSTRAINT {name} CHECK ({expr})"
            for iname, ispec in sorted(
                load_specs(snap.properties or {}).items()
            ):
                # search indexes re-create as their own DDL (the artifact
                # rebuilds; the JSON spec prop is internal bookkeeping);
                # single quotes in values double so the DDL re-parses.
                # Runtime observability stats are NOT user params — the
                # re-executed CREATE would persist them as stale config
                # (the build recomputes the real values)
                _runtime = {
                    "last_rebuild_reason",
                    "last_batch_resid_norm",
                    "baseline_resid_norm",
                    "tombstones",
                    "epoch",
                    "fragments",
                }
                with_items = [
                    f"""'{k}' = '{str(v).replace("'", "''")}'"""
                    for k, v in sorted(ispec.params.items())
                    if k not in _runtime
                ]
                ddl += (
                    f";\nCREATE SEARCH INDEX {iname} ON {qual} "
                    f"({ispec.column}) USING {ispec.method}"
                    + (f" WITH ({', '.join(with_items)})" if with_items else "")
                )
            return self.spark.createDataFrame(
                [Row(create_statement=ddl)], "create_statement string"
            )
        return None

    # ---- DDL

    def _exec_create_database(self, stmt) -> None:
        self.catalog.create_database(stmt.name, stmt.if_not_exists)

    def _exec_create_schema(self, stmt) -> None:
        db, _, name = parser.parse_qualified(stmt.name)
        self.catalog.create_schema(db or self.database, name, stmt.if_not_exists)

    def _guard_staging(self, schema: str | None) -> None:
        """The staging schema is session-scoped and write-protected — the
        reference's exact guard (ddl.rs:488-507 asserts this wording)."""
        if schema == STAGING_SCHEMA:
            raise ExecutionError(
                "The staging schema can only be referenced via CREATE EXTERNAL TABLE"
            )

    def _exec_create_table(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        spark_schema = columns_to_schema(stmt.columns)
        entry = self.catalog.create_table(
            db, schema, name,
            schema_ddl(spark_schema),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            spark_schema,
            properties=stmt.fields.get("properties") or None,
        )
        self._record(entry, t)

    def _exec_ctas(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        df = self._exec_query(parser.Statement("query", stmt.query))
        entry = self.catalog.create_table(
            db, schema, name,
            schema_ddl(df.schema),
        )
        t = DeltaLiteTable.create(self.spark, self.table_root(entry), df.schema)
        t.append(df, operation="CTAS")
        self._record(entry, t)

    def _exec_shallow_clone(self, stmt) -> None:
        """CREATE TABLE x SHALLOW CLONE y [FOR VERSION/TIMESTAMP AS OF]:
        a metadata-only copy (Delta-parity, beyond the reference) — the
        new table's first commit references the SOURCE's data files (and
        deletion vectors) by absolute path; zero bytes move, whatever
        the source size. The clone then lives its own life: DML rewrites
        land under the clone's root, its vacuum never touches borrowed
        files (deltalite.vacuum skips absolute remove paths), and the
        documented Delta caveat applies — vacuuming the SOURCE can
        orphan clone references."""
        from .deltalite import AddFile
        from .matview import MATVIEW_PROP

        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        src_entry = self._resolve(stmt.source)
        src = DeltaLiteTable(self.spark, self.table_root(src_entry))
        snap = src.snapshot(
            version=stmt.fields.get("version"),
            timestamp=stmt.fields.get("timestamp"),
        )
        if (snap.properties or {}).get(VIEW_PROP) is not None:
            # a view stores no files: the "clone" would inherit VIEW_PROP
            # and track the LIVE base tables, silently ignoring any
            # AS OF clause — refuse; CTAS materializes a snapshot
            raise ExecutionError(
                "SHALLOW CLONE of a view is not supported (a view has no "
                "data files; use CREATE TABLE ... AS SELECT to "
                "materialize it)"
            )

        def _absolute(p: str) -> str:
            return p if os.path.isabs(p) else os.path.join(src.root, p)

        adds = []
        for f in snap.files:
            dv = dict(f.dv, path=_absolute(f.dv["path"])) if f.dv else None
            adds.append(
                AddFile(
                    _absolute(f.path), f.rows, f.size_bytes, f.stats,
                    f.bucket, dv, f.blooms,
                )
            )
        # properties carry over (bucketing/blooms/constraints keep
        # working); a clone of a materialized view is a PLAIN table —
        # its contents are now independent data, not a derived view, and
        # SEARCH INDEXES stay behind too (the artifact lives under the
        # SOURCE's root — an inherited spec would point at files the
        # clone does not own; re-create the index on the clone instead).
        # List-valued props re-stringify: create() re-normalizes them.
        from .search_index import INDEX_PROP as _SI_PROP

        props = {
            k: (",".join(v) if isinstance(v, list) else v)
            for k, v in (snap.properties or {}).items()
            if k not in (MATVIEW_PROP, _SI_PROP)
        }
        entry = self.catalog.create_table(db, schema, name, snap.schema_ddl)
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            T.StructType.fromDDL(snap.schema_ddl),
            operation="SHALLOW CLONE",
            properties=props or None,
        )
        t._next_commit("CLONE FILES", adds, [])
        self._record(entry, t)

    def _exec_create_matview(self, stmt) -> None:
        """CREATE MATERIALIZED VIEW: materialize the (restricted) group
        aggregate into a deltalite table and record the incremental spec
        in its properties (engine/matview.py — beyond the reference,
        which has no view machinery)."""
        from .matview import MATVIEW_PROP, MvSpec, parse_mv_query, query_at_version

        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        if stmt.if_not_exists and self.catalog.get_table(db, schema, name):
            return
        shape = parse_mv_query(stmt.query)
        base, group_cols = shape.base, shape.group_cols
        base_entry = self._resolve(base)  # must be a managed table
        base_t = DeltaLiteTable(self.spark, self.table_root(base_entry))
        if (base_t.snapshot().properties or {}).get(VIEW_PROP):
            raise ExecutionError(
                "materialized views must be defined over a base table, "
                "not a logical view (its file-diff refresh needs stored "
                "data)"
            )
        # joined dimensions must also be managed tables (their versions
        # gate the incremental path: any dim change -> full refresh)
        dim_versions: dict[str, int] = {}
        dim_uuids: dict[str, str] = {}
        for dim in shape.dims:
            dim_entry = self._resolve(dim)
            dim_t = DeltaLiteTable(self.spark, self.table_root(dim_entry))
            if (dim_t.snapshot().properties or {}).get(VIEW_PROP):
                raise ExecutionError(
                    "materialized views may only join managed tables "
                    f"({dim} is a logical view — version tracking needs "
                    "stored data)"
                )
            dim_versions[dim] = dim_t.latest_version()
            dim_uuids[dim] = dim_entry.uuid
        # a bare GROUP BY name that matched a select ALIAS is resolved
        # by Spark against the BASE/DIM columns FIRST — if such a column
        # exists, the engine's parsed expression and Spark's grouping
        # would disagree (and the collapsed output keys could not be a
        # merge PK). Reject the shadow up front, data-independent.
        if any(shape.group_via_alias or []):
            avail: set[str] = set()
            for ref in [base, *shape.dims]:
                ddl = self.delta_table(ref).snapshot().schema_ddl
                avail |= {
                    f.name.lower()
                    for f in T.StructType.fromDDL(ddl).fields
                }
            for c, flag in zip(group_cols, shape.group_via_alias):
                if flag and c.lower() in avail:
                    raise ExecutionError(
                        f"GROUP BY {c} is ambiguous: {c!r} is both a "
                        "select alias and a base/dimension column, and "
                        "Spark groups by the COLUMN — rename the alias "
                        "or group by the full expression"
                    )
        base_version = base_t.latest_version()
        pinned = query_at_version(stmt.query, base, base_version)
        # one execution feeds BOTH the uniqueness check and the
        # materialize below (the refresh path's recompute pattern)
        df = self._exec_query(
            parser.Statement("query", pinned)
        ).localCheckpoint()
        missing = [c for c in group_cols if c not in df.columns]
        if missing:
            raise ExecutionError(
                f"group column(s) {missing} not in the view output "
                f"{df.columns} (group columns must pass through, bare "
                "or as the GROUP BY expression's alias)"
            )
        from pyspark.sql import functions as F

        # the group output columns are the MERGE PK: they must uniquely
        # key the materialized rows — the backstop behind the
        # alias-shadow rejection above (any remaining divergence between
        # the parsed shape and Spark's GROUP BY resolution surfaces as a
        # duplicate key here, at CREATE, never as a corrupted refresh).
        # Aggregate under a reserved name: a group column named `count`
        # must not collide with the check's own output.
        dup = (
            df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("__mv_cnt"))
            .where(F.col("__mv_cnt") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ExecutionError(
                f"group column(s) {group_cols} do not uniquely key the "
                "view output — rename the alias so it does not shadow a "
                "grouped base column"
            )
        spec = MvSpec(
            base, group_cols, stmt.query, base_version,
            dim_versions or None,
            shape.group_exprs,
            base_entry.uuid,
            dim_uuids or None,
        )
        entry = self.catalog.create_table(
            db, schema, name,
            schema_ddl(df.schema),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            df.schema,
            operation="CREATE MATERIALIZED VIEW",
            properties={MATVIEW_PROP: spec.to_json()},
        )
        t.append(df, operation="MATERIALIZE")
        self._record(entry, t)

    def _matview_spec(self, t: DeltaLiteTable):
        from .matview import MATVIEW_PROP, MvSpec

        raw = t.snapshot().properties.get(MATVIEW_PROP)
        return MvSpec.from_json(raw) if raw else None

    def _guard_matview(self, t: DeltaLiteTable, what: str) -> None:
        from .matview import MATVIEW_PROP

        props = t.snapshot().properties or {}
        if props.get(MATVIEW_PROP) is not None:
            raise ExecutionError(
                f"{what} is not allowed on a materialized view "
                "(its contents are derived; run REFRESH MATERIALIZED VIEW)"
            )
        self._guard_view_props(props, what)

    def _guard_view_props(self, props: dict, what: str) -> None:
        if (props or {}).get(VIEW_PROP) is not None:
            raise ExecutionError(
                f"{what} is not allowed on a view (it stores no rows; "
                "apply it to the base tables instead)"
            )

    def _guard_view(self, t: DeltaLiteTable, what: str) -> None:
        self._guard_view_props(t.snapshot().properties or {}, what)

    def _exec_create_view(self, stmt) -> None:
        """CREATE [OR REPLACE] VIEW: a logical view — the defining query
        is stored in the catalog (the entry holds ZERO data files) and
        re-expanded against the live catalog at every statement, so
        reads always see the CURRENT base tables with no refresh step
        (contrast _exec_create_matview). Beyond the reference, which
        rejects CreateView outright (src/context/physical.rs:573-575,
        "Creating views is currently unsupported!").

        Views may reference tables and previously created views.
        Staging tables are session-scoped, so a persistent view over
        one is refused at creation."""
        db, schema, name = parser.parse_qualified(stmt.name)
        self._guard_staging(schema)
        db, schema = db or self.database, schema or self.search_schema
        # staging tables are session-scoped: a persistent view over one
        # would break on the next session. Textual check (qualified form
        # plus every live staging table's bare name) — conservative: a
        # string literal containing a staging name also rejects, which
        # beats silently creating a view that dies with the session.
        # bare names must not be schema-qualified references to a managed
        # table that merely shares the name — the lookbehind exempts
        # `public.docs` while still catching `FROM docs`
        staging_names = [re.escape(STAGING_SCHEMA) + r"\s*\."] + [
            rf"(?<![\w.]){re.escape(n)}\b" for n in self.staging
        ]
        for pat in staging_names:
            if re.search(rf"(?i){pat}", stmt.query):
                raise ExecutionError(
                    "a view cannot reference session-scoped staging "
                    "tables (CREATE TABLE ... AS SELECT them into a "
                    "managed table first)"
                )
        # time-travel clauses pin a snapshot through a code path raw
        # reload expansion does not run — reject rather than create a
        # view that can never re-expand
        _, travels = parser.extract_time_travel(stmt.query)
        if travels:
            raise ExecutionError(
                "a view cannot use time travel in its defining query "
                "(materialize the snapshot with CTAS instead)"
            )
        # search_index() relations expand through the same query-only
        # pre-pass time travel does — a view holding one would validate
        # here and then break on every reload
        if re.search(r"(?i)\bsearch_index\s*\(", stmt.query):
            raise ExecutionError(
                "a view cannot use search_index() in its defining query "
                "(materialize the lookup with CTAS instead)"
            )
        existing = self.catalog.get_table(db, schema, name)
        if existing is not None:
            if not stmt.or_replace:
                raise ExecutionError(f"{schema}.{name} already exists")
            old = DeltaLiteTable(self.spark, self.table_root(existing))
            if (old.snapshot().properties or {}).get(VIEW_PROP) is None:
                raise ExecutionError(
                    f"{schema}.{name} is not a view — CREATE OR REPLACE "
                    "VIEW cannot replace a table"
                )
            # A replacement whose query references the view being replaced
            # would VALIDATE against the old view's temp registration, then
            # persist a self-referential defining query that reload_views
            # can never expand (its own temp view is dropped first) —
            # silently destroying a working view. Textual check,
            # same conservative style as the staging guard: a string
            # literal containing the name also rejects, which beats the
            # silent destruction.
            self_forms = [
                rf"(?i)(?<![\w.\"]){re.escape(name)}\b",
                rf'"{re.escape(name)}"',
            ]
            if any(re.search(p, stmt.query) for p in self_forms) or re.search(
                rf"(?i)(?<![\w.]){re.escape(schema)}\s*\.\s*"
                rf"(?:\"{re.escape(name)}\"|{re.escape(name)}\b)",
                stmt.query,
            ):
                raise ExecutionError(
                    f"CREATE OR REPLACE VIEW {schema}.{name} cannot "
                    "reference the view it replaces (a view cannot be "
                    "defined in terms of itself)"
                )
        # validate + capture the output schema (analysis only, no action)
        df = self._exec_query(parser.Statement("query", stmt.query))
        if existing is not None:
            self.catalog.drop_table(db, schema, name)
            DeltaLiteTable(self.spark, self.table_root(existing)).drop_data()
        entry = self.catalog.create_table(
            db, schema, name,
            schema_ddl(df.schema),
        )
        t = DeltaLiteTable.create(
            self.spark,
            self.table_root(entry),
            df.schema,
            operation="CREATE VIEW",
            properties={VIEW_PROP: stmt.query},
        )
        self._record(entry, t)

    def _exec_drop_view(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        entry = self.catalog.get_table(db, schema, name)
        if entry is None:
            if stmt.if_exists:
                return
            raise ExecutionError(f"view {schema}.{name} does not exist")
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        if (t.snapshot().properties or {}).get(VIEW_PROP) is None:
            raise ExecutionError(
                f"{schema}.{name} is not a view (use DROP TABLE)"
            )
        self._exec_drop_table(stmt, _allow_view=True)

    def _exec_refresh_matview(self, stmt) -> None:
        """Incremental refresh: recompute ONLY the groups whose base
        files changed between the recorded and latest snapshots, merge
        them in, delete vanished groups — full-overwrite fallback when
        incremental is not possible (see engine/matview.py)."""
        from pyspark.sql import functions as F

        from .matview import (
            MATVIEW_PROP,
            affected_group_values,
            affected_groups_via_query,
            group_predicate,
            parse_mv_query,
            query_at_version,
        )

        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        spec = self._matview_spec(t)
        if spec is None:
            raise ExecutionError(f"{stmt.name} is not a materialized view")

        def _bind(name: str, expect_uuid: str | None) -> DeltaLiteTable:
            # views bind by NAME (rename-back heals, like logical views)
            # but a DIFFERENT table under the recorded name must fail
            # loudly: its data is unrelated and its version history
            # doesn't even contain spec's recorded versions — refreshing
            # from it would silently corrupt the view. Pre-r10 specs
            # carry no uuid and skip the check.
            bound = self._resolve(name)
            if expect_uuid and bound.uuid != expect_uuid:
                raise ExecutionError(
                    f"{stmt.name}: table {name} is not the table the "
                    "view was created over (it was dropped or renamed "
                    "and the name now points to a different table) — "
                    "rename the original back, or DROP and re-CREATE "
                    "the materialized view"
                )
            return DeltaLiteTable(self.spark, self.table_root(bound))

        base_t = _bind(spec.base, spec.base_uuid)
        v_to = base_t.latest_version()
        # dimension versions gate the incremental path: the file-diff is
        # fact-only, so ANY dim change means the always-correct full
        # overwrite (dims are small and change rarely — the refresh cost
        # stays proportional to changed fact data in the common case)
        dims_now: dict[str, int] = {}
        dims_changed = False
        for dname, dver in (spec.dim_versions or {}).items():
            dv = _bind(dname, (spec.dim_uuids or {}).get(dname)).latest_version()
            dims_now[dname] = dv
            if dv != dver:
                dims_changed = True
        if v_to == spec.base_version and not dims_changed:
            return  # already current
        if dims_changed:
            vals = None  # full refresh
        elif spec.dim_versions or spec.exprs() != spec.group_cols:
            # join views AND expression-grouped views go through the
            # FROM-swap scan: it re-aliases the changed-files view under
            # the fact's own alias, so group expressions qualified with
            # that alias (substr(t.g,1,1)) still resolve — the plain
            # selectExpr path below would throw and silently downgrade
            # every refresh to a full overwrite
            vals = affected_groups_via_query(
                self.spark,
                base_t,
                spec.base_version,
                v_to,
                parse_mv_query(spec.query),
                lambda s: self._exec_query(parser.Statement("query", s)),
            )
        else:
            vals = affected_group_values(
                self.spark, base_t, spec.base_version, v_to,
                spec.group_cols, spec.exprs(),
            )
        pinned = query_at_version(spec.query, spec.base, v_to)
        if vals is None:
            # full refresh: atomic overwrite at the new snapshot
            df = self._exec_query(parser.Statement("query", pinned))
            t.overwrite(df, operation="REFRESH MATERIALIZED VIEW")
        elif vals:
            from .matview import MatViewError

            try:
                pred = group_predicate(spec.group_cols, vals)
            except MatViewError:
                # non-representable group literal (e.g. NaN): downgrade
                # to the full-overwrite path — always correct
                df = self._exec_query(parser.Statement("query", pinned))
                t.overwrite(df, operation="REFRESH MATERIALIZED VIEW")
                pred = None
            if pred is None:
                recompute = None
        if vals and pred is not None:
            recompute = self._exec_query(
                parser.Statement(
                    "query", f"SELECT * FROM ({pinned}) __mv WHERE {pred}"
                )
            ).localCheckpoint()
            # the affected-group list is driver-bounded (capped at
            # MAX_INCREMENTAL_GROUPS) — bind it as a LocalRelation
            # (r14; createDataFrame parallelizes a pickled RDD whose
            # every scan spawns Python-worker tasks, the r13 serving
            # finding applied to the refresh's vanished-group anti-join)
            from ..functions import local_df

            g_schema = recompute.select(*spec.group_cols).schema
            g_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in g_schema.fields
            )
            affected = local_df(self.spark, [tuple(v) for v in vals], g_ddl)
            vanished = affected.join(
                recompute.select(*spec.group_cols), spec.group_cols, "left_anti"
            )
            value_cols = [
                c for c in recompute.columns if c not in spec.group_cols
            ]
            change = recompute.withColumn(
                "__mv_delete", F.lit(False)
            ).unionByName(
                vanished.select(
                    *spec.group_cols,
                    *[
                        F.lit(None).cast(recompute.schema[c].dataType).alias(c)
                        for c in value_cols
                    ],
                    F.lit(True).alias("__mv_delete"),
                )
            )
            t.merge(change, spec.group_cols, delete_col="__mv_delete")
        # record the new base version (metadata-only commit)
        snap = t.snapshot()
        spec.base_version = v_to
        if dims_now:
            spec.dim_versions = dims_now
        t._next_commit(
            "REFRESH VERSION",
            [],
            [],
            metadata={
                "schema_ddl": snap.schema_ddl,
                "properties": dict(
                    snap.properties, **{MATVIEW_PROP: spec.to_json()}
                ),
            },
        )
        self._record(entry, t)

    # ------------------------------------------------------- search indexes

    def _search_index_target(self, table_name: str):
        """(entry, DeltaLiteTable, snapshot, specs) for index DDL."""
        from .search_index import load_specs

        entry = self._resolve(table_name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        snap = t.snapshot()
        props = snap.properties or {}
        self._guard_view_props(props, "SEARCH INDEX DDL")
        return entry, t, snap, load_specs(props)

    def _commit_index_specs(self, entry, t, specs, op: str) -> None:
        from .search_index import INDEX_PROP, dump_specs

        snap = t.snapshot()
        props = dict(snap.properties or {})
        if specs:
            props[INDEX_PROP] = dump_specs(specs)
        else:
            props.pop(INDEX_PROP, None)
        t._next_commit(
            op,
            [],
            [],
            metadata={"schema_ddl": snap.schema_ddl, "properties": props},
        )
        self._record(entry, t)

    def _exec_create_search_index(self, stmt) -> None:
        """CREATE SEARCH INDEX (engine/search_index.py — beyond the
        reference): one corpus pass materializes the partition-pruned
        index artifact under the table's own root; the spec + file-set
        fingerprint land in the table properties."""
        from .search_index import (
            _METHODS,
            IndexSpec,
            build_index,
            index_dir,
            snapshot_fp,
        )

        f = stmt.fields
        entry, t, snap, specs = self._search_index_target(f["table"])
        if f["index"] in specs:
            if f["if_not_exists"]:
                return
            raise ExecutionError(
                f"search index {f['index']} already exists on {f['table']}"
            )
        if f["method"] not in _METHODS:
            raise ExecutionError(
                f"unknown index method {f['method']} "
                f"(supported: {', '.join(_METHODS)})"
            )
        schema = T.StructType.fromDDL(snap.schema_ddl)
        names = {x.name for x in schema.fields}
        col = f["column"]
        cols = f.get("columns") or col.split(",")
        if len(cols) > 1 and f["method"] != "BM25":
            raise ExecutionError(
                f"multi-column indexes are BM25-only ({f['method']} "
                "takes exactly one column)"
            )
        if len(set(c.lower() for c in cols)) != len(cols):
            raise ExecutionError("duplicate column in index column list")
        for c in cols:
            if c not in names:
                raise ExecutionError(f"column {c} not in {f['table']}")
            c_type = schema[c].dataType.simpleString()
            if f["method"] in ("BM25", "LSH") and c_type != "string":
                raise ExecutionError(
                    f"{f['method']} indexes require a STRING column "
                    f"({c} is {c_type})"
                )
            if f["method"] == "IVFPQ" and c_type not in (
                "array<float>", "array<double>"
            ):
                raise ExecutionError(
                    "IVFPQ indexes require an ARRAY<FLOAT|DOUBLE> column "
                    f"({c} is {c_type})"
                )
        # BM25-only knobs: field weights (fielded scoring) + match mode
        if "weights" in f["params"]:
            if f["method"] != "BM25":
                raise ExecutionError("weights is a BM25-only parameter")
            try:
                ws = [float(x) for x in str(f["params"]["weights"]).split(",")]
            except ValueError as ex:
                raise ExecutionError(
                    "weights must be a comma-separated number list "
                    f"(e.g. '2.0,1.0'): {ex}"
                ) from ex
            if len(ws) != len(cols):
                raise ExecutionError(
                    f"weights lists {len(ws)} values for {len(cols)} "
                    "column(s)"
                )
            # float() accepts 'inf'/'nan'/negatives — all of which flow
            # straight into the BM25F tf/dl sums and silently corrupt
            # every score; reject at CREATE, the only place the user is
            # listening
            import math as _math

            if any(not _math.isfinite(w) or w <= 0 for w in ws):
                raise ExecutionError(
                    "weights must be finite and positive "
                    f"(got {f['params']['weights']!r})"
                )
        if str(f["params"].get("match", "any")).lower() not in ("any", "all"):
            raise ExecutionError("match must be 'any' or 'all'")
        if "match" in f["params"] and f["method"] != "BM25":
            raise ExecutionError("match is a BM25-only parameter")
        if str(f["params"].get("auto_compact", "on")).lower() not in (
            "on", "off",
        ):
            raise ExecutionError("auto_compact must be 'on' or 'off'")
        if "auto_compact_fragments" in f["params"]:
            try:
                if int(f["params"]["auto_compact_fragments"]) < 1:
                    raise ValueError("must be >= 1")
            except ValueError as ex:
                raise ExecutionError(
                    "auto_compact_fragments must be a positive integer: "
                    f"{ex}"
                ) from ex
        id_col = f["params"].get("id_col", "doc_id")
        if id_col not in names:
            raise ExecutionError(
                f"id column {id_col!r} not in {f['table']} (set WITH "
                "('id_col' = '<pk column>'))"
            )
        allow_dup = str(
            f["params"].get("allow_duplicate_ids", "false")
        ).lower()
        if allow_dup not in ("true", "false"):
            raise ExecutionError(
                "allow_duplicate_ids must be 'true' or 'false'"
            )
        params = dict(f["params"], id_col=id_col)
        if allow_dup == "false":
            # one single-column aggregate over the corpus (same scan
            # the build below pays): duplicate or NULL ids poison the
            # (id, epoch) tombstone model — a duplicate id's mask hides
            # its live copies and a NULL id can never be masked.
            # Validating here keeps clean tables' incremental refresh
            # guarantee unconditional and gives dirty tables a clear
            # error at CREATE instead of silent rebuild costs (r12);
            # WITH ('allow_duplicate_ids' = 'true') opts into
            # rebuild-on-duplicate refreshes.
            from pyspark.sql import functions as F

            bad = (
                t.to_df(_snap=snap)
                .select(id_col)
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col(id_col).isNull() | (F.col("__n") > 1))
                .limit(1)
                .count()
            )
            if bad:
                raise ExecutionError(
                    f"id column {id_col!r} has duplicate or NULL values "
                    f"in {f['table']}; deduplicate the table or add "
                    "WITH ('allow_duplicate_ids' = 'true') to opt into "
                    "full rebuilds on duplicate-id refreshes"
                )
            params["unique_ids"] = "validated"
        spec = IndexSpec(
            f["index"],
            f["method"],
            col,
            t.latest_version() + 1,  # the props commit below
            params,
            snapshot_fp(snap),
        )
        stats = build_index(
            t.to_df(_snap=snap),
            index_dir(self.table_root(entry), f["index"]),
            spec,
        )
        if stats:
            spec.params.update(stats)
        specs[f["index"]] = spec
        self._commit_index_specs(entry, t, specs, "CREATE SEARCH INDEX")

    def _exec_refresh_search_index(self, stmt) -> None:
        """Bring a search index up to date. BM25 refreshes INCREMENTALLY
        when the table's file diff since the build is append-only: only
        the ADDED files' documents are tokenized and their postings
        append into the same term-hash partitions, with a mergeable
        stats fragment (operators/bm25.append_bm25_index) — refresh cost
        proportional to new data, the 100 TB ingest shape. Any rewrite/
        delete in the diff (or a non-BM25 method) downgrades to the
        always-correct full rebuild. A fingerprint-fresh index is a
        no-op (no commit), the matview contract."""
        from .matview import changed_files
        from .search_index import build_index, index_dir, snapshot_fp

        f = stmt.fields
        entry, t, snap, specs = self._search_index_target(f["table"])
        spec = specs.get(f["index"])
        if spec is None:
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        path = index_dir(self.table_root(entry), f["index"])
        # crash-safety: the incremental append and the spec commit are
        # not atomic — a crash between them would make the RETRY re-append
        # the same documents (duplicated postings, doubled stats). The
        # marker is written BEFORE appending and removed only AFTER the
        # spec commit; a surviving marker forces the always-correct full
        # rebuild (whose overwrite replaces the artifact wholesale).
        marker = os.path.join(path, "_append_pending")
        # the marker check must PRECEDE the fingerprint early-return: a
        # crash mid-OPTIMIZE (which changes no table data) leaves a
        # half-rewritten artifact behind a FRESH fingerprint — without
        # this, REFRESH would no-op forever and every lookup fail until
        # unrelated data changed (advisor find, r11)
        if spec.file_fp == snapshot_fp(snap) and not os.path.exists(marker):
            return  # already current: no rebuild, no commit
        # the reason param describes THIS refresh only: pop the previous
        # one up front, let each downgrade path record its own (stale
        # reasons on the board were an advisor find, r11)
        spec.params.pop("last_rebuild_reason", None)
        had_marker = os.path.exists(marker)
        incremental = False
        # epoch counter for the (id, epoch) tombstone model (r11):
        # removals mask at the PRE-refresh epoch, appends land one epoch
        # later — so updates and re-inserts of tombstoned ids stay
        # incremental (engine/search_index.incremental_delta)
        e_prev = int(spec.params.get("epoch", 0))
        wrote_batches = 0  # artifact/stats fragments this refresh adds
        marker_held = False  # True once THIS refresh created the mutex
        if not had_marker:
            try:
                from .search_index import (
                    FullRebuildRequired,
                    apply_incremental_delete,
                    incremental_delta,
                )

                _so, only_old, _sn, only_new = changed_files(
                    t, spec.built_version, t.latest_version()
                )
                if only_old or only_new:
                    schema = T.StructType.fromDDL(snap.schema_ddl)
                    id_col = spec.params.get("id_col", "doc_id")
                    # delete/update-aware diff (r10 tombstones, r11
                    # epochs): removed rows tombstone at e_prev (plus a
                    # negative BM25 stats fragment), added/updated rows
                    # append at e_prev + 1; duplicate-id diffs and cap
                    # overflows raise FullRebuildRequired into the
                    # rebuild below (which clears the mask)
                    removed, new_rows = incremental_delta(
                        t, schema, spec, only_old, only_new, path
                    )
                    # two concurrent refreshers that both passed the entry
                    # check would BOTH append (duplicated postings,
                    # doubled stats) — the marker doubles as the mutex:
                    # exclusive create, loser fails fast and clean (the
                    # winner's marker is removed only after its commit)
                    try:
                        with open(marker, "x") as fh:
                            fh.write(snapshot_fp(snap))
                        marker_held = True
                    except FileExistsError:
                        raise ExecutionError(
                            f"search index {f['index']} on {f['table']} "
                            "has a refresh or optimize in flight; retry "
                            "when it finishes"
                        ) from None
                    if removed is None and new_rows is None:
                        # compaction-only base-table diff (OPTIMIZE /
                        # ZORDER rewrote files, same rows): the index is
                        # already exact — bump the fingerprint and commit
                        # without touching the artifact, never a corpus
                        # re-tokenize (advisor find, r11)
                        incremental = True
                    if removed is not None:
                        apply_incremental_delete(
                            spec, removed, path, epoch=e_prev
                        )
                        from ..operators.index_tombstones import (
                            tombstone_count,
                        )

                        spec.params["tombstones"] = tombstone_count(
                            self.spark, path
                        )
                        wrote_batches += 1
                        incremental = True
                    if new_rows is None:
                        pass  # delete/compaction-only diff
                    elif spec.method == "IVFPQ":
                        # r10: append-only refresh encodes the NEW
                        # vectors with the FROZEN codebooks into their
                        # cells (one pass over added files, the
                        # append_bm25_index shape). The drift gate
                        # compares the batch's mean residual norm
                        # against the build-time baseline; past
                        # max_drift x baseline the frozen model no
                        # longer fits and DriftExceeded downgrades to
                        # the retraining full rebuild below.
                        from pyspark.sql import functions as F

                        from ..operators.pq import (
                            DriftExceeded,
                            append_ivfpq_index,
                        )

                        emb = new_rows.select(
                            F.col(id_col),
                            F.col(spec.column)
                            .cast("array<double>")
                            .alias(spec.column),
                        )
                        try:
                            norm = append_ivfpq_index(
                                emb,
                                path,
                                emb_col=spec.column,
                                id_col=id_col,
                                max_drift_ratio=float(
                                    spec.params.get("max_drift", 1.5)
                                ),
                                epoch=e_prev + 1,
                            )
                        except DriftExceeded as ex:
                            # observable reason for the rebuild. Forced
                            # False even when a delete already applied:
                            # the drifted batch must land via the
                            # retraining rebuild, not be dropped
                            spec.params["last_batch_resid_norm"] = round(
                                ex.batch_norm, 9
                            )
                            # without this a drift-triggered rebuild kept
                            # showing whatever reason an EARLIER refresh
                            # recorded (advisor find, r11)
                            spec.params["last_rebuild_reason"] = (
                                "drift exceeded"
                            )
                            incremental = False
                        else:
                            spec.params["last_batch_resid_norm"] = round(
                                norm, 9
                            )
                            spec.params["epoch"] = e_prev + 1
                            wrote_batches += 1
                            incremental = True
                    else:
                        from ..operators.bm25 import append_bm25_index
                        from ..operators.lsh_index import append_lsh_index

                        appender = (
                            append_bm25_index
                            if spec.method == "BM25"
                            else append_lsh_index
                        )
                        appender(
                            new_rows,
                            path,
                            text_col=spec.column,
                            id_col=id_col,
                            epoch=e_prev + 1,
                        )
                        spec.params["epoch"] = e_prev + 1
                        wrote_batches += 1
                        incremental = True
            except FullRebuildRequired as ex:
                # observable reason on the spec (system.search_indexes
                # surfaces params): update-in-diff, tombstoned re-insert,
                # or tombstone cap — all correct via the rebuild below
                spec.params["last_rebuild_reason"] = str(ex)
                incremental = False
            except ExecutionError:
                # the deliberate mutex-loser error raised when another
                # refresh/optimize holds the marker must propagate, not
                # reroute the loser into a redundant full rebuild
                # (advisor find, r11)
                raise
            except Exception:  # noqa: BLE001 — vacuumed history etc.
                spec.params["last_rebuild_reason"] = "diff unavailable"
                incremental = False
        if not incremental:
            if had_marker:
                spec.params["last_rebuild_reason"] = (
                    "interrupted refresh recovered"
                )
            elif not marker_held:
                # rebuilds reached WITHOUT the mutex (diff classified
                # before any artifact write) still need it: two
                # concurrent overwrites of the same artifact dir corrupt
                try:
                    with open(marker, "x") as fh:
                        fh.write("rebuild")
                except FileExistsError:
                    raise ExecutionError(
                        f"search index {f['index']} on {f['table']} has "
                        "a refresh or optimize in flight; retry when it "
                        "finishes"
                    ) from None
            spec.params.setdefault("last_rebuild_reason", "full rebuild")
            stats = build_index(t.to_df(_snap=snap), path, spec)
            if stats:
                spec.params.update(stats)
            spec.params.pop("tombstones", None)  # rebuild cleared the mask
            spec.params.pop("epoch", None)  # rebuild rows are epoch 0
            spec.params.pop("fragments", None)  # overwrite collapsed them
        elif wrote_batches:
            # each incremental write batch appends small artifact/stats
            # files; the counter drives the auto-compaction below and
            # surfaces on system.search_indexes (r11). Metadata-only
            # refreshes (compaction-only diffs) write nothing and bump
            # nothing.
            spec.params["fragments"] = (
                int(spec.params.get("fragments", 0)) + wrote_batches
            )
        spec.built_version = t.latest_version() + 1
        spec.file_fp = snapshot_fp(snap)
        self._commit_index_specs(
            entry,
            t,
            specs,
            "REFRESH SEARCH INDEX"
            + (" (INCREMENTAL)" if incremental else ""),
        )
        try:
            os.remove(marker)
        except OSError:
            pass
        # r11 auto-compaction: a long-lived incremental index accrues
        # stats fragments and tombstones until someone remembers to
        # OPTIMIZE — REFRESH now fires the same IO-only compaction when
        # fragments exceed the limit or the mask passes half its cap
        # (serving is bit-identical across it; disable per-index with
        # WITH ('auto_compact' = 'off'))
        if (
            incremental
            and str(spec.params.get("auto_compact", "on")).lower() != "off"
        ):
            from ..operators.index_tombstones import (
                TOMBSTONE_CAP_FLOOR,
                TOMBSTONE_CAP_RATIO,
            )

            frags = int(spec.params.get("fragments", 0))
            tomb = int(spec.params.get("tombstones", 0))
            frag_limit = int(spec.params.get("auto_compact_fragments", 16))
            live = max(int(snap.num_rows), 1)
            cap = max(
                TOMBSTONE_CAP_RATIO * live,
                float(
                    spec.params.get("tombstone_cap", TOMBSTONE_CAP_FLOOR)
                ),
            )
            if frags > frag_limit or tomb > cap / 2:
                # observable trigger (r12): why auto-compaction fired,
                # with the numbers, so operators can tune
                # auto_compact_fragments from system.search_indexes
                reason = (
                    f"auto: fragments {frags} > {frag_limit}"
                    if frags > frag_limit
                    else f"auto: tombstones {tomb} > cap/2 {cap / 2:g}"
                )
                try:
                    self._compact_search_index(
                        entry, t, specs, spec, path,
                        "OPTIMIZE SEARCH INDEX (AUTO)",
                        reason=reason,
                    )
                except ExecutionError:
                    # the user's REFRESH already committed; if another
                    # refresh/optimize grabbed the marker in the gap,
                    # the opportunistic compaction just skips — the next
                    # REFRESH re-triggers it (advisor find, r11)
                    pass

    def _exec_optimize_search_index(self, stmt) -> None:
        """OPTIMIZE SEARCH INDEX: fold the tombstone mask into the
        artifact and collapse accumulated stats fragments — an IO-only
        rewrite (engine/search_index.compact_index), never the corpus
        re-tokenized. Serving is bit-identical before/after. The index
        identity (built_version/file_fp) is unchanged, but the spec
        commit below bumps the TABLE version, so cached GETs
        re-validate once — harmless over-invalidation, same as every
        index DDL."""
        from .search_index import index_dir

        f = stmt.fields
        entry, t, _snap, specs = self._search_index_target(f["table"])
        spec = specs.get(f["index"])
        if spec is None:
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        path = index_dir(self.table_root(entry), f["index"])
        if not os.path.isdir(path):
            raise ExecutionError(
                f"search index {f['index']} on {f['table']} has no "
                "artifact on disk (dropped or restored past it); DROP "
                "SEARCH INDEX and re-CREATE it"
            )
        marker = os.path.join(path, "_append_pending")
        if os.path.exists(marker):
            raise ExecutionError(
                f"search index {f['index']} has an interrupted refresh "
                "pending; run REFRESH SEARCH INDEX first"
            )
        self._compact_search_index(
            entry, t, specs, spec, path, "OPTIMIZE SEARCH INDEX"
        )

    def _compact_search_index(
        self, entry, t, specs, spec, path: str, op: str,
        reason: str = "manual OPTIMIZE",
    ) -> None:
        """Shared body of manual OPTIMIZE SEARCH INDEX and the r11
        auto-compaction REFRESH fires when fragments/tombstones pile up:
        fold the mask + fragments into the artifact (IO-only), zero the
        counters, commit the spec under ``op``."""
        from .search_index import compact_index

        marker = os.path.join(path, "_append_pending")
        # the rewrite-and-swap is not atomic: a crash mid-compaction
        # leaves the marker, and the next REFRESH full-rebuilds. The
        # exclusive create also serializes concurrent compactors (two
        # racing __compact swaps would collide) — the pre-check in
        # _exec_optimize_search_index is advisory, this is the mutex
        try:
            with open(marker, "x") as fh:
                fh.write("optimize")
        except FileExistsError:
            raise ExecutionError(
                "a refresh or optimize is already in flight on this "
                "index; retry when it finishes"
            ) from None
        compact_index(self.spark, path, spec)
        spec.params.pop("tombstones", None)  # mask folded into artifact
        spec.params.pop("fragments", None)  # fragments collapsed
        # why this compaction ran (r12: auto-trigger numbers or manual)
        # — surfaced on system.search_indexes and the commit info
        spec.params["last_compact_reason"] = reason
        self._commit_index_specs(entry, t, specs, op)
        try:
            os.remove(marker)
        except OSError:
            pass

    def _exec_drop_search_index(self, stmt) -> None:
        import shutil

        from .search_index import index_dir

        f = stmt.fields
        entry, t, _snap, specs = self._search_index_target(f["table"])
        if f["index"] not in specs:
            if f["if_exists"]:
                return
            raise ExecutionError(
                f"search index {f['index']} does not exist on {f['table']}"
            )
        del specs[f["index"]]
        shutil.rmtree(
            index_dir(self.table_root(entry), f["index"]), ignore_errors=True
        )
        self._commit_index_specs(entry, t, specs, "DROP SEARCH INDEX")

    def _expand_search_index_calls(self, sql: str) -> tuple[str, list[str]]:
        """Rewrite ``search_index('tbl', 'idx', 'query', k)`` relations to
        temp views holding the top-k lookup result (result_id, score,
        rank). Lookup cost is proportional to the probed partitions —
        the persisted-index serving shape in plain SQL.

        r14 (guide §5): calls sharing one (table, index, k) BATCH into a
        single multi-probe plan (search_index.lookup_many) — one snapshot
        replay, one sidecar read and one partition-pruned probe join for
        the whole group instead of per call; each call's rows (bounded at
        k by construction) re-bind as a LocalRelation temp view, so the
        outer query's references are LocalTableScans. A statement fanning
        N queries over one index (the q_index_serving shape: 12 calls
        over 4 indexes) runs 4 probe plans, not 12."""
        import uuid as _uuid

        from .search_index import index_dir, load_specs, lookup, lookup_many

        # collect the calls, grouped by (table, index, k)
        calls = _search_calls(sql)
        groups: dict[tuple[str, str, int], list[int]] = {}
        for ci, (_s, _e, tbl, idx, _q, k) in enumerate(calls):
            groups.setdefault((tbl, idx, k), []).append(ci)

        aliases: list[str] = []
        view_of: dict[int, str] = {}  # call index -> alias

        def _bind(df, ci: int) -> None:
            alias = f"__sfs_si_{len(aliases)}_{_uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(alias)
            aliases.append(alias)
            view_of[ci] = alias

        try:
            for (tbl, idx, k), cis in groups.items():
                entry = self._resolve(tbl)
                t = DeltaLiteTable(self.spark, self.table_root(entry))
                specs = load_specs(t.snapshot().properties or {})
                spec = specs.get(idx)
                if spec is None:
                    raise ExecutionError(
                        f"search index {idx} does not exist on {tbl} "
                        f"(existing: {sorted(specs) or 'none'})"
                    )
                path = index_dir(self.table_root(entry), idx)
                if not os.path.isdir(path):
                    # a RESTORE past the index's DROP resurrects the spec
                    # without the artifact — fail with the remedy, not a
                    # parquet file-not-found
                    raise ExecutionError(
                        f"search index {idx} on {tbl} has no artifact on "
                        "disk (dropped or restored past it); DROP SEARCH "
                        "INDEX and re-CREATE it"
                    )
                if len(cis) == 1:
                    qtext = calls[cis[0]][4]
                    _bind(lookup(self.spark, path, spec, qtext, k), cis[0])
                else:
                    per_slot = lookup_many(
                        self.spark,
                        path,
                        spec,
                        [(slot, calls[ci][4]) for slot, ci in enumerate(cis)],
                        k,
                    )
                    for slot, ci in enumerate(cis):
                        _bind(per_slot[slot], ci)

            out, pos = [], 0
            for ci, (start, end, *_args) in enumerate(calls):
                out += [sql[pos:start], f"`{view_of[ci]}`"]
                pos = end
            return "".join(out) + sql[pos:], aliases
        except Exception:
            # a later call's failure must not leak the earlier calls'
            # already-registered temp views
            for alias in aliases:
                try:
                    self.spark.catalog.dropTempView(alias)
                except Exception:  # noqa: BLE001
                    pass
            raise

    def _exec_create_external_table(self, stmt) -> None:
        from ..sources.external import read_external

        if stmt.name in self.staging:
            if stmt.if_not_exists:
                return
            raise ExecutionError(f"external table {stmt.name} already exists")
        df = read_external(
            self.spark,
            stmt.format,
            stmt.location,
            columns=stmt.columns,
            options=stmt.options,
        )
        part = stmt.fields.get("partition_by") or []
        missing = [c for c in part if c not in df.columns]
        if missing:
            raise ExecutionError(
                f"PARTITIONED BY column(s) {missing} not present in the "
                f"discovered schema {df.columns}"
            )
        self.staging[stmt.name] = df
        if stmt.format == "table":
            # remote table: keep the spec so per-query LIMITs can be
            # re-pushed into the remote SQL (provider.rs renders LIMIT n)
            self.staging_specs[stmt.name] = (
                stmt.format, stmt.location, dict(stmt.options or {})
            )
        if stmt.format in ("iceberg", "delta", "deltatable"):
            options = dict(stmt.options or {})
            if stmt.format == "iceberg" and "snapshot-id" not in options:
                # pin the snapshot resolved at CREATE so later per-query
                # re-reads (pruned scans) cannot drift to a newer snapshot
                # than the registered view (reference pins at CREATE too)
                from ..sources.iceberg import resolve_snapshot_id

                try:
                    options["snapshot-id"] = str(
                        resolve_snapshot_id(stmt.location, options)
                    )
                except Exception:
                    pass  # unpinnable (e.g. as-of option) -> best effort
            self.staging_specs[stmt.name] = (stmt.format, stmt.location, options)

    def _exec_convert_to_delta(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        existing = self.catalog.get_table(db, schema, name)
        if existing is not None and os.path.realpath(
            self.table_root(existing)
        ) == os.path.realpath(stmt.path):
            # idempotent re-CONVERT of the same path under the same name
            # (reference convert.rs:168-200 runs the statement twice)
            return
        t = DeltaLiteTable.convert_from_parquet(self.spark, stmt.path)
        # conversion registers the existing directory; catalog points at it
        # via a dedicated uuid row whose root IS that path: store relative
        # link in schema_ddl metadata? Simplest: create entry then symlink.
        entry = self.catalog.create_table(db, schema, name, t.snapshot().schema_ddl)
        os.symlink(os.path.abspath(stmt.path), self.table_root(entry))
        self._record(entry, t)

    def _exec_create_function(self, stmt) -> None:
        import json

        from .udf import validate_spec

        try:
            spec = json.loads(stmt.spec)
        except json.JSONDecodeError as exc:
            raise ExecutionError(f"CREATE FUNCTION body is not valid JSON: {exc}") from exc
        validate_spec(spec)
        if spec["language"] == "python" and not self.allow_python_udfs:
            raise ExecutionError(
                "python UDFs are disabled on this server (unsandboxed exec); "
                "pass --enable-python-udfs / allow_python_udfs=True to opt in"
            )
        self.catalog.create_function(self.database, stmt.name, spec, stmt.or_replace)

    def _exec_drop_function(self, stmt) -> None:
        for n in stmt.names:
            self.catalog.drop_function(self.database, n, stmt.if_exists)

    def _exec_rename_table(self, stmt) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db2, schema2, name2 = parser.parse_qualified(stmt.new_name)
        self._guard_staging(schema2)
        db, schema = db or self.database, schema or self.search_schema
        db2, schema2 = db2 or self.database, schema2 or schema
        if db != db2:
            raise ExecutionError("cannot move tables across databases")  # reference parity
        self.catalog.rename_table(db, schema, name, schema2, name2)

    def _exec_drop_table(self, stmt, _allow_view: bool = False) -> None:
        db, schema, name = parser.parse_qualified(stmt.name)
        db, schema = db or self.database, schema or self.search_schema
        if not _allow_view:
            # symmetric with DROP VIEW refusing tables. Best-effort: a
            # table whose storage is missing/corrupt must stay droppable
            # (the pre-guard behavior), so a failed log replay means
            # "not provably a view" and the drop proceeds
            existing = self.catalog.get_table(db, schema, name)
            if existing is not None:
                try:
                    t = DeltaLiteTable(self.spark, self.table_root(existing))
                    is_view = (t.snapshot().properties or {}).get(
                        VIEW_PROP
                    ) is not None
                except Exception:
                    is_view = False
                if is_view:
                    raise ExecutionError(
                        f"{schema}.{name} is a view (use DROP VIEW)"
                    )
        try:
            entry = self.catalog.drop_table(db, schema, name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        DeltaLiteTable(self.spark, self.table_root(entry)).drop_data()
        self.spark.catalog.dropTempView(name)

    def _exec_drop_schema(self, stmt) -> None:
        db, _, name = parser.parse_qualified(stmt.name)
        self._guard_staging(name)
        try:
            dropped = self.catalog.drop_schema(db or self.database, name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        for e in dropped:
            DeltaLiteTable(self.spark, self.table_root(e)).drop_data()

    def _exec_drop_database(self, stmt) -> None:
        try:
            dropped = self.catalog.drop_database(stmt.name)
        except CatalogError:
            if stmt.if_exists:
                return
            raise
        for e in dropped:
            DeltaLiteTable(self.spark, self.table_root(e)).drop_data()
        if self.database == stmt.name:
            self.database = DEFAULT_DB

    # ---- DML

    def _record(self, entry: TableEntry, t: DeltaLiteTable) -> None:
        # mirror EVERY not-yet-recorded commit, not just the latest: a
        # CTAS lands two commits (CREATE + data) before its single
        # _record call, and skipping v0 left system.table_versions
        # missing a version that time travel can reach
        recorded = {
            v for (_, v, _, _) in self.catalog.table_versions(entry.uuid)
        }
        for v in range(t.latest_version() + 1):
            if v in recorded:
                continue
            c = t.read_commit(v)
            self.catalog.record_version(
                entry.uuid, c.version, c.timestamp_ms, c.operation
            )

    def _exec_insert(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_matview(t, "INSERT")
        df = self._exec_query(parser.Statement("query", stmt.query))
        target_cols = [f.name for f in t.schema().fields]
        if stmt.columns:
            if len(stmt.columns) != len(df.columns):
                raise ExecutionError(
                    f"INSERT column list has {len(stmt.columns)} names but query produces {len(df.columns)}"
                )
            unknown = [c for c in stmt.columns if c not in target_cols]
            if unknown:
                raise ExecutionError(f"unknown INSERT columns: {unknown}")
            df = df.toDF(*stmt.columns)
        elif set(df.columns) != set(target_cols):
            # unnamed/positional source (e.g. VALUES): map by position
            if len(df.columns) > len(target_cols):
                raise ExecutionError("INSERT has more expressions than target columns")
            df = df.toDF(*target_cols[: len(df.columns)])
        if stmt.fields.get("overwrite"):
            # INSERT OVERWRITE: one atomic commit replaces the live file
            # set (deltalite.overwrite aligns + enforces constraints, and
            # its OCC base-version rejects racing writers)
            self._retry_conflicts(lambda: t.overwrite(df, operation="INSERT OVERWRITE"))
        else:
            t.append(df)
        self._record(entry, t)

    @staticmethod
    def _retry_conflicts(op) -> None:
        """Statement-level retry for snapshot-based DML: losing the OCC
        race aborts the stale commit (deltalite._next_commit), and the op
        re-snapshots on entry, so re-running it re-plans against the new
        base — lost-update safety AND availability under concurrency."""
        from .deltalite import ConcurrentCommitError

        for _ in range(8):
            try:
                return op()
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError("DML lost the commit race 8 times")

    def _exec_update(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_matview(t, "UPDATE")
        self._retry_conflicts(lambda: t.update(stmt.sets, stmt.where))
        self._record(entry, t)

    def _exec_delete(self, stmt) -> None:
        _, schema, tbl = parser.parse_qualified(stmt.name)
        if schema == STAGING_SCHEMA:
            self._delete_staging_iceberg(tbl, stmt.where)
            return
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_matview(t, "DELETE")
        self._retry_conflicts(lambda: t.delete(stmt.where))
        self._record(entry, t)

    def _delete_staging_iceberg(self, name: str, where: str | None) -> None:
        """DELETE on an iceberg staging table: commits a positional-delete
        (merge-on-read) snapshot via sources.iceberg.iceberg_delete_where
        and re-pins the staging view to it — the deltalite DELETE surface
        extended to the one external format with a write path. Other
        staging formats stay read-only (reference parity: externals are
        scan-only there, iceberg.rs is read-only too — this exceeds it)."""
        from ..sources.external import read_external
        from ..sources.iceberg import iceberg_delete_where

        spec = self.staging_specs.get(name)
        if name not in self.staging:
            raise ExecutionError(f"staging table {name} does not exist")
        if spec is None or spec[0] != "iceberg":
            raise ExecutionError(
                "staging tables are read-only external tables "
                "(DELETE is supported only for STORED AS ICEBERG)"
            )
        fmt, location, options = spec
        if not where:
            raise ExecutionError(
                "DELETE on an iceberg staging table requires a WHERE "
                "clause (unscoped truncation of an external table is "
                "refused; drop and re-create instead)"
            )
        new_meta, _n = iceberg_delete_where(self.spark, location, where, options)
        if new_meta is None:
            return  # nothing matched: no new snapshot, keep the pin
        from ..sources.iceberg import resolve_snapshot_id

        opts = dict(options)
        opts["snapshot-id"] = str(resolve_snapshot_id(new_meta))
        self.staging[name] = read_external(
            self.spark, fmt, new_meta, options=opts
        )
        self.staging_specs[name] = (fmt, new_meta, opts)

    def _exec_merge(self, stmt) -> None:
        """ANSI MERGE INTO (restricted subset) over the engine's merge
        operator — the SQL surface for what CDC sync does programmatically
        (deltalite.merge: pruned full-outer upsert). Supported:

        * full upsert: WHEN MATCHED THEN UPDATE SET * +
          WHEN NOT MATCHED THEN INSERT *
        * upsert with a delete flag column:
          WHEN MATCHED AND s.<flag> THEN DELETE + the two above
        * pure delete-by-key: WHEN MATCHED THEN DELETE (alone)

        The ON clause must be equality conjuncts on same-named columns
        (they become the merge PK). Anything else fails loudly.
        """
        from pyspark.sql import functions as F

        t = self.delta_table(stmt.name)
        self._guard_matview(t, "MERGE")
        cl = stmt.clauses
        if cl["update"] and not cl["insert"]:
            raise ExecutionError(
                "MERGE with UPDATE SET * also needs WHEN NOT MATCHED THEN "
                "INSERT * (update-only merges are not supported)"
            )
        if cl["delete"] and (cl["update"] or cl["insert"] or cl["delete_if"]):
            raise ExecutionError(
                "unconditional WHEN MATCHED THEN DELETE cannot combine with "
                "other clauses; use WHEN MATCHED AND <flag> THEN DELETE"
            )
        if not (cl["update"] or cl["insert"] or cl["delete"]):
            raise ExecutionError("MERGE needs at least one WHEN clause")
        pk_cols: list[str] = []
        for part in re.split(r"(?i)\s+and\s+", stmt.on):
            m = re.match(
                r"\s*(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)\s*$", part
            )
            if not m or m.group(2) != m.group(4):
                raise ExecutionError(
                    "MERGE ON must be equality conjuncts on same-named "
                    f"columns; got: {part.strip()!r}"
                )
            pk_cols.append(m.group(2))
        source_sql = stmt.source_query or f"SELECT * FROM {stmt.source_table}"
        mapping, _ = self.reload_views(source_sql)
        src = self.spark.sql(self._rewrite_names(source_sql, mapping))
        missing = [c for c in pk_cols if c not in src.columns]
        if missing:
            raise ExecutionError(f"MERGE source lacks ON column(s) {missing}")
        delete_col = cl["delete_if"]
        if delete_col and delete_col not in src.columns:
            raise ExecutionError(
                f"MERGE delete flag column {delete_col!r} not in source"
            )
        if cl["delete"]:
            delete_col = "__sfs_merge_delete"
            src = src.withColumn(delete_col, F.lit(True))
        self._retry_conflicts(lambda: t.merge(src, pk_cols, delete_col=delete_col))

    def _exec_truncate(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # matviews too: these rewrite derived contents / desync MvSpec
        self._guard_matview(t, "TRUNCATE")
        t.truncate()
        self._record(entry, t)

    def _exec_restore(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # matviews too: these rewrite derived contents / desync MvSpec
        self._guard_matview(t, "RESTORE")
        t.restore(version=stmt.version, timestamp=stmt.timestamp)
        # restore can rewind schema evolution — resync the cached DDL
        self.catalog.update_schema(entry.uuid, t.snapshot().schema_ddl)
        self._record(entry, t)

    def _exec_add_column(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # matviews too: these rewrite derived contents / desync MvSpec
        self._guard_matview(t, "ALTER TABLE ADD COLUMN")
        t.add_column(stmt.column, stmt.dtype)
        # keep SHOW COLUMNS / DESCRIBE / information_schema in sync (the
        # log is authoritative; the catalog caches the DDL)
        self.catalog.update_schema(entry.uuid, t.snapshot().schema_ddl)
        self._record(entry, t)

    def _exec_drop_column(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # matviews too: these rewrite derived contents / desync MvSpec
        self._guard_matview(t, "ALTER TABLE DROP COLUMN")
        # a search index holds the column name in its spec: dropping it
        # would leave lookups serving a column the table no longer has
        # and crash the NEXT refresh deep inside the rebuild — reject at
        # the DDL boundary instead (PG-style dependent-object error)
        from .search_index import load_specs as _si_load

        for iname, ispec in _si_load(
            t.snapshot().properties or {}
        ).items():
            cols = set(ispec.column.split(","))
            cols.add(ispec.params.get("id_col", "doc_id"))
            if stmt.column in cols:
                raise ExecutionError(
                    f"column {stmt.column} is referenced by search index "
                    f"{iname}; DROP SEARCH INDEX {iname} ON {stmt.name} "
                    "first"
                )
        t.drop_column(stmt.column)
        self.catalog.update_schema(entry.uuid, t.snapshot().schema_ddl)
        self._record(entry, t)

    def _exec_add_constraint(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_view(t, "ALTER TABLE ADD CONSTRAINT")
        t.add_constraint(stmt.constraint, stmt.expr)
        self._record(entry, t)

    def _exec_drop_constraint(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_view(t, "ALTER TABLE DROP CONSTRAINT")
        t.drop_constraint(stmt.constraint)
        self._record(entry, t)

    def _exec_optimize(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        self._guard_view(t, "OPTIMIZE")
        t.optimize(
            zorder_by=stmt.fields.get("zorder_by"),
            predicate_sql=stmt.fields.get("predicate"),
        )
        self._record(entry, t)

    def _exec_vacuum_table(self, stmt) -> None:
        entry = self._resolve(stmt.name)
        t = DeltaLiteTable(self.spark, self.table_root(entry))
        # retention 0 = reference parity; the opt-in table property keeps
        # a CONCURRENT writer's in-flight files out of the orphan sweep
        # (deltalite.vacuum docstring has the race)
        grace = int(
            (t.snapshot().properties or {}).get("vacuum_orphan_grace_ms", 0)
        )
        t.vacuum(retention_ms=0, orphan_grace_ms=grace)
        # search-index artifacts not referenced by the current specs are
        # orphans (a crashed CREATE's partial build, a RESTORE past the
        # index's lifetime) — GC them with the same sweep
        import shutil

        from .search_index import load_specs

        root = self.table_root(entry)
        sdir = os.path.join(root, "_search")
        if os.path.isdir(sdir):
            live = set(load_specs(t.snapshot().properties or {}))
            for name in os.listdir(sdir):
                if name not in live:
                    shutil.rmtree(
                        os.path.join(sdir, name), ignore_errors=True
                    )
        self.catalog.prune_versions(entry.uuid, t.latest_version())

    def _exec_vacuum_database(self, stmt) -> None:
        """GC dropped tables' storage + catalog rows (reference
        utils.rs:50 gc_databases)."""
        gone = []
        for (u, _db, _s, _n, _ms) in self.catalog.dropped_tables():
            root = os.path.join(self.data_dir, u)
            DeltaLiteTable(self.spark, root).drop_data()
            gone.append(u)
        self.catalog.clear_dropped(gone)

    def _exec_copy_to(self, stmt) -> None:
        from ..sources.store import data_plane_url

        if stmt.table:
            df = self.delta_table(stmt.table).to_df()
        else:
            df = self._exec_query(parser.Statement("query", stmt.query))
        # bucket destinations write through the Hadoop connector URI
        # (s3:// -> s3a://), same mapping the external read path uses
        stmt.path = data_plane_url(stmt.path)
        part = stmt.fields.get("partition_by") or []
        if stmt.format == "iceberg":
            # our extension (reference COPY knows csv/parquet/json only):
            # each COPY commits one append snapshot, so repeated COPYs build
            # a time-travelable history rather than clobbering the target
            if part:
                raise ExecutionError("PARTITIONED BY is not supported with ICEBERG")
            from ..sources.iceberg import write_iceberg_table

            write_iceberg_table(self.spark, df, stmt.path)
            return
        if stmt.format == "delta":
            # real Delta Lake export (readable by delta-rs / delta-spark);
            # appends a commit per COPY, like the iceberg path.
            # PARTITIONED BY writes the protocol's hive layout with
            # partitionValues in the add actions (r7 session C)
            from ..sources.delta_log import write_delta_table

            write_delta_table(self.spark, df, stmt.path, partition_by=part)
            return
        fmt = {"csv": "csv", "parquet": "parquet", "ndjson": "json", "json": "json"}.get(
            stmt.format
        )
        if fmt is None:
            raise ExecutionError(f"COPY TO format {stmt.format} not supported")
        if part:
            # hive-layout export (reference A6 PARTITIONED BY,
            # parser.rs:253-337): one directory tree keyed on the columns,
            # parallel writers — no single-file coalesce
            writer = df.write.mode("overwrite").partitionBy(*part)
        else:
            writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", stmt.options.get("header", "true"))
        writer.format(fmt).save(stmt.path)

    # ------------------------------------------------------------ ETag

    def etag_for_query(self, sql: str) -> str:
        """SHA-256 over the (uuid, version) of every table the query reads
        — the reference hashes scanned Delta table URIs+versions
        (src/frontend/http.rs:63-105). What it reads is the statement's
        closure (_closure), the same set reload_views binds: the tables it
        names, the tables each named view's stored query reads
        (transitively), and its time-travel and search_index() targets.
        A query over system.* / information_schema.*, a SHOW / DESCRIBE
        (the engine answers these from its catalog) and any statement
        whose closure holds no table read catalog-wide state, so they
        hash every table's name and latest version plus the
        dropped-table set.

        r10: a query routed through ``search_index()`` additionally mixes
        each referenced index's identity (built_version + artifact file
        fingerprint) into the hash — the reference's cache-invalidation
        contract extended to index artifacts, EXPLICITLY rather than via
        the incidental fact that index DDL commits a table version: a
        REFRESH SEARCH INDEX must flip cached GETs even though the
        table's data files are untouched."""
        from .search_index import load_specs as _si_load

        sql2, travels = parser.extract_time_travel(sql)
        calls = _search_calls(sql2)
        with self._exec_lock, self._ansi_dialect():
            c = self._closure(
                sql2,
                (*(name for _a, name, _ts in travels), *(call[2] for call in calls)),
            )
        h = sha256()
        for u, v in sorted((e.uuid, snap.version) for e, snap in c.tables):
            h.update(f"{u}@{v};".encode())
        if c.introspection or not c.tables or re.match(r"(?i)\s*(show|describe)\b", sql2):
            for e in self.catalog.tables(self.database):
                vs = DeltaLiteTable(self.spark, self.table_root(e)).versions()
                h.update(f"{e.schema}.{e.name}={e.uuid}@{vs[-1:]};".encode())
            for dropped in self.catalog.dropped_tables():
                h.update(f"dropped {dropped};".encode())
        snaps = {e.uuid: snap for e, snap in c.tables}
        touched_idx: set[tuple[str, str, int, str]] = set()
        for _s, _e, tbl, idx, _q, _k in calls:
            try:
                entry = self._resolve(tbl)
                props = snaps[entry.uuid].properties
            except Exception:  # noqa: BLE001 — the query itself will
                continue  # surface the real unresolved-relation error
            spec = _si_load(props or {}).get(idx)
            if spec is not None:
                touched_idx.add((entry.uuid, idx, spec.built_version, spec.file_fp))
        for u, i, bv, fp in sorted(touched_idx):
            h.update(f"{u}:{i}@{bv}:{fp};".encode())
        return h.hexdigest()
