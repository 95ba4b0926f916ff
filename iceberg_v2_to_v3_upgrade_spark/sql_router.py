"""SQL statement router — the in-process replacement for the reference's
``ssh hadoop@master "spark-sql ... -e '<sql>'"`` gateway (K1,
``internal/upgrade_table.py:59-97``).

Accepts the exact statement shapes the reference emits
(``internal/create_demo_table.py:97-138``, ``internal/upgrade_table.py:124-131``,
``README.md:26-38``) and routes them:

- DDL/DML/maintenance (CREATE/DROP/INSERT/DELETE/UPDATE/ALTER/CALL/DESCRIBE)
  -> the ``tables.LocalTable`` API, and
- everything else (SELECT ...) -> ``spark.sql`` with the catalog's tables
  registered as views (catalog-qualified names rewritten).

This is intentionally a *router*, not a SQL parser: SELECTs get Spark's
full parser/Catalyst; only the table-mutation statement heads are matched
here, with the same grammar subset the reference uses.
"""

from __future__ import annotations

import datetime
import io
import json
import re
from contextlib import redirect_stdout
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, functions as F

from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.permissions import PermissionDenied
from iceberg_v2_to_v3_upgrade_spark.tables.table import (
    _PRUNE_PRED,
    LocalTable,
    TableError,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# `glue_catalog.db.t`, `db.t`, or bare `t` (reference always qualifies)
_NAME = rf"(?:{_IDENT}\.)?(?P<db>{_IDENT})\.(?P<table>{_IDENT})"

# Registered per-table view-name suffixes: metadata tables plus the
# time-travel spellings (`db_t_v<snap>`, `db_t_t<digits>`). The SELECT
# gate may treat `db_t<one of these>` as a reference to table `t`; any
# OTHER underscore continuation (`db.orders_items`) is a different
# table, not a spelling of `orders` (advisor finding: the old bare `_`
# alternative spuriously denied principals granted only the sibling).
_VIEW_SUFFIX = (
    r"_(?:snapshots|history|files|partitions|position_deletes"
    r"|metadata_log_entries|all_data_files|v\d+|t\d+)\b"
)


def _sub_outside_literals(
    pattern: str, repl: str, s: str, flags: int = 0
) -> str:
    """re.sub that skips matches STARTING inside a string literal
    (single- or double-quoted): the `db.t` -> `db_t` view rewrite must
    not mangle a literal that happens to contain a table name
    (`SELECT "migrated from shop.orders" ...`). A match may itself
    CONTAIN a literal (``VERSION AS OF 'tag'``) — classification is by
    match start, which for every rewrite pattern sits on the table
    identifier."""
    spans = [m.span() for m in re.finditer(r"'[^']*'|\"[^\"]*\"", s)]
    out: list[str] = []
    last = 0
    for m in re.finditer(pattern, s, flags):
        if any(a <= m.start() < b for a, b in spans):
            continue
        out.append(s[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(s[last:])
    return "".join(out)


def _blank_literals(sql: str) -> str:
    """Blank string literals before permission-gate name matching.

    Spark SQL treats BOTH single- and double-quoted text as string
    literals by default (``spark.sql.ansi.doubleQuotedIdentifiers``
    off), so a double-quoted literal containing a table or denied-view
    name must not trigger a spurious deny any more than a
    single-quoted one (advisor finding).
    """
    return re.sub(r"'[^']*'|\"[^\"]*\"", "''", sql)


@dataclass
class StatementResult:
    statement: str
    kind: str
    df: DataFrame | None = None
    message: str = ""
    # Structured payload for procedures whose result is data, not prose
    # (e.g. expire_snapshots -> the expired snapshot ids). Callers must
    # not parse ``message`` — its wording is presentation, not contract.
    data: object | None = None


def _parse_props(block: str) -> dict[str, str]:
    return {
        k: v for k, v in re.findall(r"'([^']+)'\s*=\s*'([^']*)'", block)
    }


def _parse_options_map(block: str) -> dict[str, str]:
    items = re.findall(r"'([^']*)'", block)
    return dict(zip(items[::2], items[1::2]))


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    out, depth, cur, quote = [], 0, [], False
    for ch in s:
        if ch == "'" :
            quote = not quote
        if not quote:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == sep and depth == 0:
                out.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _cast_by_position(df: DataFrame, t: LocalTable) -> DataFrame:
    """INSERT column binding: the i-th produced column becomes the i-th
    table column, cast to its declared type; the arity must match."""
    target = t.declared_schema()
    if len(df.columns) != len(target):
        raise TableError(
            f"INSERT arity {len(df.columns)} != schema {len(target)}"
        )
    return df.select(
        *[
            F.col(c).cast(f.dataType).alias(f.name)
            for c, f in zip(df.columns, target)
        ]
    )


class EngineSQL:
    """Execute reference-shaped SQL programs against a LocalCatalog.

    ``principal`` is the acting identity for the J7 permission checks —
    ``None`` means an anonymous caller, who passes only via
    IAM_ALLOWED_PRINCIPALS wildcard grants (or a non-enforcing store,
    Lake Formation's IAM-access default)."""

    def __init__(self, catalog: LocalCatalog, principal: str | None = None):
        self.catalog = catalog
        self.principal = principal
        self.spark = catalog.spark
        # session-level views: name -> defining SELECT, re-resolved against
        # the live table state on every use (a view over a table must see
        # later DML, so we can't pin the DataFrame at CREATE VIEW time)
        self._registering_views = False
        # observability: {db.t: pruning-info} for the LAST _select only;
        # None when the last statement pruned nothing (reset per-select so
        # it never reports a stale statement's skips)
        self.last_scan_pruning: dict[str, Any] | None = None

    # ------------------------------------------------------------ public

    def execute(self, sql_program: str) -> list[StatementResult]:
        """Run a multi-statement SQL program (';'-separated), in order —
        the reference ships exactly such programs in one spark-sql session
        (create_demo_table.py:146-163)."""
        results = []
        for stmt in _split_top_level(sql_program, ";"):
            if stmt.strip():
                results.append(self.execute_one(stmt.strip()))
        return results

    def execute_one(self, sql: str) -> StatementResult:
        flat = " ".join(sql.split())  # the reference flattens newlines too
        for pattern, handler in self._ROUTES:
            m = pattern.match(flat)
            if m:
                return handler(self, sql, m)
        return self._select(sql)

    # ------------------------------------------------------- authorization

    def _authorize_db(self, permission: str, db: str) -> None:
        """J7 gate for db-scoped statements (CREATE TABLE needs the
        CREATE_TABLE db grant, lake_formation_setup.py:43)."""
        if not self.catalog.permissions.check_database(self.principal, db, permission):
            raise PermissionDenied(
                f"principal {self.principal!r} lacks {permission} on database {db}"
            )

    def _authorize_table(self, permission: str, db: str, table: str) -> None:
        """J7 gate for table-scoped DML/DDL (lake_formation_setup.py:79)."""
        if not self.catalog.permissions.check_table(
            self.principal, db, table, permission
        ):
            raise PermissionDenied(
                f"principal {self.principal!r} lacks {permission} on {db}.{table}"
            )

    # ---------------------------------------------------------- handlers

    def _create_table(self, sql: str, m: re.Match) -> StatementResult:
        db, table = m.group("db"), m.group("table")
        self._authorize_db("CREATE_TABLE", db)
        cols = m.group("cols").strip()
        partition = m.group("partition")
        props = _parse_props(m.group("props") or "")
        self.catalog.create_table(
            db,
            table,
            cols,
            partition_by=_split_top_level(partition) if partition else None,
            properties=props,
        )
        return StatementResult(sql, "create_table", message=f"created {db}.{table}")

    def _truncate(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("DELETE", m.group("db"), m.group("table"))
        self._deny_row_filtered_mutation(m.group("db"), m.group("table"), "TRUNCATE")
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = t.delete_where("true")
        return StatementResult(sql, "truncate", message=f"snapshot {snap.id}")

    def _show_tables(self, sql: str, m: re.Match) -> StatementResult:
        rows = [
            (m.group("dbname"), i["name"], str(i.get("format_version", "")))
            for i in self.catalog.list_tables(m.group("dbname"))
        ]
        return StatementResult(
            sql,
            "show_tables",
            df=self.spark.createDataFrame(
                rows or [],
                "namespace string, tableName string, format_version string",
            ),
        )

    @property
    def _views(self) -> dict[str, str]:
        """Warehouse-shared view registry (catalog-persisted): every
        engine over this warehouse re-registers each view under ITS
        principal per statement, so views genuinely run with INVOKER
        rights across engines, not just within one instance."""
        return self.catalog.views

    def _create_view(self, sql: str, m: re.Match) -> StatementResult:
        name, select = m.group("view"), m.group("select")
        if name in self._views and not m.group("replace"):
            raise TableError(f"view {name} already exists")
        self.catalog.register_view(name, select)
        return StatementResult(sql, "create_view", message=f"view {name}")

    def _drop_view(self, sql: str, m: re.Match) -> StatementResult:
        name = m.group("view")
        if (
            name not in self._views
            and name not in self.catalog.changelog_views
            and not m.group("ifex")
        ):
            raise TableError(f"view {name} not found")
        self.catalog.unregister_view(name)
        self.spark.catalog.dropTempView(name)
        # a changelog-view registration must die with the view, or its
        # persisted (db, table) gate keeps firing on any future statement
        # that happens to mention the name — in every session, forever
        self.catalog.unregister_changelog_views(view=name)
        return StatementResult(sql, "drop_view", message=f"dropped {name}")

    # ------------------------------------------------ materialized views

    #: Shape eligible for INCREMENTAL maintenance: single-table flat
    #: grouped aggregate. Anything else refreshes by full recompute.
    _MV_SIMPLE_RE = re.compile(
        rf"^\s*SELECT\s+(?P<proj>.+?)\s+FROM\s+"
        rf"(?:{_IDENT}\.)?(?P<bdb>{_IDENT})\.(?P<btbl>{_IDENT})"
        rf"(?:\s+WHERE\s+(?P<where>.+?))?\s+GROUP\s+BY\s+(?P<groupby>.+?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _mv_base_snapshots(self, select: str) -> dict[str, int]:
        """Current snapshot id of every catalog table the MV SELECT
        references — the staleness watermark stored at (re)materialize
        time and consumed by the incremental delta read."""
        snaps: dict[str, int] = {}
        for d in self.catalog.list_databases():
            for info in self.catalog.list_tables(d):
                if re.search(
                    rf"\b{d}\.{info['name']}\b", select, re.IGNORECASE
                ):
                    t = self.catalog.load_table(d, info["name"])
                    snaps[f"{d}.{info['name']}"] = t._meta[
                        "current_snapshot_id"
                    ]
        return snaps

    def _create_materialized_view(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        """CREATE MATERIALIZED VIEW db.mv AS <select> — materializes the
        result as a first-class MoR table (snapshot-versioned, so MV
        refresh history is time-travelable) and records the defining
        SELECT plus per-base-table snapshot watermarks in table
        properties for REFRESH."""
        db, name = m.group("db"), m.group("table")
        select = m.group("select").strip()
        self._authorize_db("CREATE_TABLE", db)
        base_snaps_now = self._mv_base_snapshots(select)
        self._deny_mv_security_bypass(
            db, name, "CREATE MATERIALIZED VIEW", base_snaps_now
        )
        df = self._select(select).df
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema
        )
        t = self.catalog.create_table(db, name, ddl)
        t.insert(df)
        t.set_properties(
            {
                "mv.select": select,
                "mv.base-snapshots": json.dumps(
                    base_snaps_now, sort_keys=True
                ),
            }
        )
        return StatementResult(
            sql,
            "create_materialized_view",
            message=f"materialized {db}.{name}",
        )

    def _refresh_materialized_view(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        """REFRESH MATERIALIZED VIEW db.mv — INCREMENTAL when the
        defining SELECT is a single-table grouped aggregate with a
        COUNT(*) column (delta-aggregate the base table's CDC changelog
        since the stored watermark, MERGE the monoid deltas into the MV,
        drop groups whose count reaches 0 — O(changed rows), the i9
        maintenance math as an engine feature); FULL recompute otherwise.
        COUNT(*) is required for the incremental path because it is what
        detects a group emptying out — without it a fully-deleted group
        would linger with stale sums."""
        db, name = m.group("db"), m.group("table")
        self._authorize_table("INSERT", db, name)
        self._authorize_table("DELETE", db, name)
        t = self.catalog.load_table(db, name)
        select = t.properties.get("mv.select")
        if not select:
            raise TableError(f"{db}.{name} is not a materialized view")
        # one catalog scan per REFRESH: the deny gate, the incremental
        # eligibility check, and the stored watermark all consume this
        base_snaps_now = self._mv_base_snapshots(select)
        self._deny_mv_security_bypass(
            db, name, "REFRESH MATERIALIZED VIEW", base_snaps_now
        )
        base_snaps = json.loads(t.properties.get("mv.base-snapshots", "{}"))
        mode = self._incremental_mv_refresh(
            t, select, base_snaps, base_snaps_now
        )
        if mode is None:
            df = self._select(select).df  # reads BASE views, not the MV
            t.delete_where("true")
            t.insert(df)
            mode = "full"
        t.set_properties(
            {
                "mv.base-snapshots": json.dumps(
                    base_snaps_now, sort_keys=True
                )
            }
        )
        return StatementResult(
            sql,
            "refresh_materialized_view",
            message=f"refreshed {db}.{name} ({mode})",
        )

    def _deny_mv_security_bypass(
        self, db: str, mv: str, what: str, base_snaps: dict[str, int]
    ) -> None:
        """(Re)materializing an MV aggregates base-table rows into a new
        table the principal can read, and the incremental path reads the
        base CDC changelog directly (``base.changes()``) — NOT through the
        masked/filtered ``_select`` boundary. A row-filtered or
        column-masked principal could therefore launder hidden rows /
        masked columns into the MV. Same conservative stance as DML and
        metadata tables: deny outright, for the MV itself and for every
        base table the defining SELECT references."""
        self._deny_row_filtered_mutation(db, mv, what)
        perms = self.catalog.permissions
        for key in base_snaps:
            bdb, btbl = key.split(".", 1)
            self._deny_row_filtered_mutation(bdb, btbl, what)
            if perms.masked_columns(self.principal, bdb, btbl):
                raise PermissionDenied(
                    f"{what} over column-masked base table {bdb}.{btbl} "
                    f"is not available to principal {self.principal!r}"
                )

    def _incremental_mv_refresh(
        self,
        t,
        select: str,
        base_snaps: dict[str, int],
        base_snaps_now: dict[str, int],
    ) -> str | None:
        """Try the delta-merge path; None means 'not eligible, do a full
        recompute'. Eligibility: flat single-table GROUP BY over bare
        group columns with only SUM(expr) AS a / COUNT(*) AS c
        projections (the self-maintainable monoid aggregates)."""
        sm = self._MV_SIMPLE_RE.match(select)
        if not sm:
            return None
        bdb, btbl = sm.group("bdb"), sm.group("btbl")
        if not self.catalog.table_exists(bdb, btbl):
            return None
        if set(base_snaps_now) != {f"{bdb}.{btbl}"}:
            return None
        groups = [g.strip() for g in sm.group("groupby").split(",")]
        if any(not re.fullmatch(_IDENT, g) for g in groups):
            return None
        sums: dict[str, str] = {}
        count_alias = None
        for item in _split_top_level(sm.group("proj")):
            item = item.strip()
            if re.fullmatch(_IDENT, item):
                if item not in groups:
                    return None
                continue
            am = re.fullmatch(
                rf"SUM\((?P<e>[^)]+)\)\s+AS\s+(?P<a>{_IDENT})",
                item,
                re.IGNORECASE,
            )
            cm = re.fullmatch(
                rf"COUNT\(\*\)\s+AS\s+(?P<a>{_IDENT})", item, re.IGNORECASE
            )
            if am:
                sums[am.group("a")] = am.group("e")
            elif cm:
                count_alias = cm.group("a")
            else:
                return None
        if count_alias is None:
            return None
        key = f"{bdb}.{btbl}"
        if key not in base_snaps:
            return None
        base = self.catalog.load_table(bdb, btbl)
        cur = base._meta["current_snapshot_id"]
        if cur == base_snaps[key]:
            return "incremental, no base changes"
        try:
            ch = base.changes(base_snaps[key], cur)
        except TableError:
            # A non-diffable operation (e.g. rollback) in the delta
            # range: the changelog is undefined there, so the watermark
            # must NOT advance past it on a partial delta — fall back to
            # full recompute.
            return None
        if sm.group("where"):
            ch = ch.filter(sm.group("where"))
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        declared = t.declared_schema()
        aggs = [
            F.sum(sign * F.expr(e)).cast(declared[a].dataType).alias(a)
            for a, e in sums.items()
        ]
        aggs.append(
            F.sum(sign).cast(declared[count_alias].dataType).alias(count_alias)
        )
        delta = ch.groupBy(*groups).agg(*aggs)
        sets = {
            a: f"t.{a} + coalesce(s.{a}, 0)"
            for a in [*sums, count_alias]
        }
        t.merge_into(
            delta, on=groups, when_matched=sets, when_not_matched="insert"
        )
        t.delete_where(f"{count_alias} <= 0")
        return "incremental"

    def _register_views(self) -> None:
        """(Re-)materialize session views as temp views in creation order,
        so each SELECT sees the current table state through them. Views
        run with INVOKER rights: each registration goes through _select
        under the CURRENT principal, so the reading principal's grants,
        filters, and masks apply to the view's base tables."""
        if self._registering_views:
            return
        self._registering_views = True
        self._view_register_denied = {}
        try:
            for name, vsql in self._views.items():
                try:
                    self._select(vsql).df.createOrReplaceTempView(name)
                except PermissionDenied as exc:
                    # remember WHY (raised later only if the statement
                    # actually references this view): failing here would
                    # block unrelated statements, swallowing it entirely
                    # would turn a deny into a confusing "view not found"
                    self._view_register_denied[name] = exc
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    # a view invalidated by evolution of what it reads
                    # (e.g. its base view was replaced) must not poison
                    # unrelated queries — it errors when itself queried
                    self.spark.catalog.dropTempView(name)
        finally:
            self._registering_views = False

    def _explain(self, sql: str, m: re.Match) -> StatementResult:
        """EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST] <select> — the
        gateway analog of the reference's --dry-run plan display
        (internal/upgrade_table.py:74-78), but over the real Catalyst
        physical plan."""
        mode = (m.group("mode") or "simple").lower()
        inner = self._select(m.group("select")).df
        buf = io.StringIO()
        with redirect_stdout(buf):
            inner.explain(mode)
        return StatementResult(
            sql,
            "explain",
            df=self.spark.createDataFrame([(buf.getvalue(),)], "plan string"),
        )

    def _show_create_table(self, sql: str, m: re.Match) -> StatementResult:
        db, name = m.group("db"), m.group("table")
        t = self.catalog.load_table(db, name)
        parts = [f"CREATE TABLE {db}.{name} ({t.schema_ddl}) USING iceberg"]
        if t.partition_by:
            parts.append(f"PARTITIONED BY ({', '.join(t.partition_by)})")
        if t.properties:
            props = ", ".join(
                f"'{k}' = '{v}'" for k, v in sorted(t.properties.items())
            )
            parts.append(f"TBLPROPERTIES ({props})")
        return StatementResult(
            sql,
            "show_create_table",
            df=self.spark.createDataFrame(
                [("\n".join(parts),)], "createtab_stmt string"
            ),
        )

    def _show_partitions(self, sql: str, m: re.Match) -> StatementResult:
        db, table = m.group("db"), m.group("table")
        self._authorize_table("SELECT", db, table)
        t = self.catalog.load_table(db, table)
        return StatementResult(
            sql,
            "show_partitions",
            df=self._mask_metadata_df(t.partitions(), db, table),
        )

    def _show_tblproperties(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        rows = sorted(t.properties.items())
        return StatementResult(
            sql,
            "show_tblproperties",
            df=self.spark.createDataFrame(rows or [], "key string, value string"),
        )

    def _create_table_as_select(self, sql: str, m: re.Match) -> StatementResult:
        """CTAS: schema inferred from the SELECT, then a regular append —
        so the new table gets the same snapshot/MoR machinery as DDL ones."""
        db, table = m.group("db"), m.group("table")
        self._authorize_db("CREATE_TABLE", db)
        partition = m.group("partition")
        df = self._select(m.group("select")).df
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema
        )
        t = self.catalog.create_table(
            db,
            table,
            ddl,
            partition_by=_split_top_level(partition) if partition else None,
        )
        snap = t.insert(df)
        return StatementResult(
            sql, "ctas", message=f"created {db}.{table} snapshot {snap.id}"
        )

    def _insert_select(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("INSERT", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        df = self._select(m.group("select")).df
        snap = t.insert(_cast_by_position(df, t))
        return StatementResult(
            sql, "insert", message=f"appended snapshot {snap.id}"
        )

    def _insert_overwrite(self, sql: str, m: re.Match) -> StatementResult:
        """INSERT OVERWRITE [TABLE] db.t <select> — dynamic partition
        overwrite (Iceberg's default for INSERT OVERWRITE): replaces only
        the partitions the SELECT produces rows for, in one commit.
        Requires DELETE as well as INSERT — it removes existing rows."""
        self._authorize_table("INSERT", m.group("db"), m.group("table"))
        self._authorize_table("DELETE", m.group("db"), m.group("table"))
        self._deny_row_filtered_mutation(
            m.group("db"), m.group("table"), "INSERT OVERWRITE"
        )
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        df = self._select(m.group("select")).df
        snap = t.insert_overwrite(_cast_by_position(df, t))
        return StatementResult(
            sql, "insert_overwrite", message=f"overwrite snapshot {snap.id}"
        )

    def _drop_table(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("DROP", m.group("db"), m.group("table"))
        dropped = self.catalog.drop_table(
            m.group("db"), m.group("table"), if_exists=bool(m.group("ifex"))
        )
        return StatementResult(
            sql, "drop_table", message="dropped" if dropped else "no-op"
        )

    def _insert_values(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("INSERT", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        # let Spark's parser evaluate the literal tuples (incl.
        # current_timestamp()), then cast by position to the table schema
        values_df = self.spark.sql(f"SELECT * FROM (VALUES {m.group('values')})")
        snap = t.insert(_cast_by_position(values_df, t))
        return StatementResult(
            sql, "insert", message=f"appended snapshot {snap.id}"
        )

    def _delete(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("DELETE", m.group("db"), m.group("table"))
        self._deny_row_filtered_mutation(m.group("db"), m.group("table"), "DELETE")
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = t.delete_where(m.group("pred"))
        return StatementResult(sql, "delete", message=f"snapshot {snap.id}")

    def _update(self, sql: str, m: re.Match) -> StatementResult:
        # MoR UPDATE = delete + reinsert, so both table grants are required
        self._authorize_table("DELETE", m.group("db"), m.group("table"))
        self._deny_row_filtered_mutation(m.group("db"), m.group("table"), "UPDATE")
        self._authorize_table("INSERT", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        assignments = {}
        for item in _split_top_level(m.group("sets")):
            col, expr = item.split("=", 1)
            assignments[col.strip()] = expr.strip()
        snap = t.update_set(assignments, m.group("pred"))
        return StatementResult(sql, "update", message=f"snapshot {snap.id}")

    def _alter_props(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.set_properties(_parse_props(m.group("props")))
        return StatementResult(sql, "alter", message="properties updated")

    def _alter_add_column(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.add_column(
            m.group("col"),
            m.group("dtype").strip(),
            default=m.group("default"),
        )
        return StatementResult(
            sql, "alter", message=f"added column {m.group('col')}"
        )

    def _alter_drop_column(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.drop_column(m.group("col"))
        return StatementResult(
            sql, "alter", message=f"dropped column {m.group('col')}"
        )

    def _alter_column_type(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.widen_column(m.group("col"), m.group("dtype").strip())
        return StatementResult(
            sql,
            "alter",
            message=f"widened {m.group('col')} to {m.group('dtype').strip()}",
        )

    def _alter_rename_column(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.rename_column(m.group("old"), m.group("new"))
        return StatementResult(
            sql,
            "alter",
            message=f"renamed {m.group('old')} to {m.group('new')}",
        )

    def _alter_add_partition_field(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        """Iceberg's ALTER TABLE ... ADD PARTITION FIELD <transform|col> —
        partition evolution, metadata-only (no rewrite; see
        LocalTable.evolve_partition_spec)."""
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        field = m.group("field").strip()
        spec_id = t.evolve_partition_spec(t.partition_by + [field])
        return StatementResult(
            sql, "alter", message=f"added partition field {field} (spec {spec_id})"
        )

    def _alter_drop_partition_field(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        field = m.group("field").strip()
        current = t.partition_by
        if field not in current:
            raise TableError(
                f"no partition field {field!r} (current spec: {current})"
            )
        spec_id = t.evolve_partition_spec([f for f in current if f != field])
        return StatementResult(
            sql,
            "alter",
            message=f"dropped partition field {field} (spec {spec_id})",
        )

    def _alter_replace_partition_field(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        old = m.group("old").strip()
        new = m.group("new").strip()
        current = t.partition_by
        if old not in current:
            raise TableError(
                f"no partition field {old!r} (current spec: {current})"
            )
        spec_id = t.evolve_partition_spec(
            [new if f == old else f for f in current]
        )
        return StatementResult(
            sql,
            "alter",
            message=f"replaced partition field {old} with {new} (spec {spec_id})",
        )

    def _authorize_mask_admin(self, db: str, table: str) -> None:
        """Mask/row-filter administration gate. Masks and filters are
        enforced on every read even when the store is NON-enforcing, so
        administration cannot ride the non-enforcing ALTER default: a
        masked principal could REVOKE its own mask — or two masked
        principals could REVOKE each other's, which is the same bypass
        one hop removed. Rule: ALL mask/filter administration (grant and
        revoke, any target principal) requires an EXPLICIT ALTER/ALL
        grant, i.e. you are a real table admin. The anonymous session
        (principal None) is the catalog owner — the identity that could
        hand itself any grant via the store API — so it bypasses."""
        self._authorize_table("ALTER", db, table)
        if self.principal is None:
            return
        perms = self.catalog.permissions
        if not perms.check_table_explicit(
            self.principal, db, table, "ALTER"
        ):
            raise PermissionDenied(
                f"principal {self.principal!r} may not administer column "
                f"masks or row filters on {db}.{table} without an "
                "explicit ALTER grant"
            )

    def _resolve_mask_columns(self, db: str, table: str, cols) -> list[str]:
        """Validate mask columns against the live schema (table must
        exist) and normalize to the schema's exact case — a typo'd or
        wrong-case grant would otherwise persist but never match at read
        time, silently protecting nothing."""
        t = self.catalog.load_table(db, table)
        declared = t.declared_schema()
        by_lower = {f.name.lower(): f.name for f in declared.fields}
        out = []
        for c in cols:
            resolved = by_lower.get(c.strip().lower())
            if resolved is None:
                raise TableError(
                    f"no column {c.strip()!r} in {db}.{table} "
                    f"(have: {sorted(by_lower.values())})"
                )
            out.append(resolved)
        return out

    def _grant_column_mask(self, sql: str, m: re.Match) -> StatementResult:
        """GRANT COLUMN MASK (col, ...) ON db.t TO 'principal' — the Lake
        Formation data-filter shape as a statement. Columns are validated
        against the table schema; see _authorize_mask_admin for the gate."""
        db, table, who = m.group("db"), m.group("table"), m.group("who")
        self._authorize_mask_admin(db, table)
        cols = self._resolve_mask_columns(
            db, table, m.group("cols").split(",")
        )
        self.catalog.permissions.set_column_mask(who, db, table, cols)
        return StatementResult(
            sql,
            "grant_column_mask",
            message=f"masked {cols} for {who}",
        )

    def _revoke_column_mask(self, sql: str, m: re.Match) -> StatementResult:
        db, table, who = m.group("db"), m.group("table"), m.group("who")
        self._authorize_mask_admin(db, table)
        self.catalog.permissions.drop_column_mask(who, db, table)
        return StatementResult(
            sql, "revoke_column_mask", message=f"unmasked for {who}"
        )

    def _grant_row_filter(self, sql: str, m: re.Match) -> StatementResult:
        """GRANT ROW FILTER (<pred>) ON db.t TO 'principal' — the Lake
        Formation row-level data filter: the principal's scans only see
        rows satisfying the predicate. Same separation-of-duty gate as
        column masks (filters are enforced even in non-enforcing stores,
        so self-administration cannot ride the permissive default). The
        predicate is validated against the table schema at grant time —
        a typo'd filter must fail loudly, not silently filter nothing."""
        db, table, who = m.group("db"), m.group("table"), m.group("who")
        self._authorize_mask_admin(db, table)
        pred = m.group("pred").strip()
        t = self.catalog.load_table(db, table)
        try:
            self.spark.createDataFrame([], t.schema_ddl).filter(pred)
        except Exception as exc:  # noqa: BLE001
            raise TableError(
                f"row filter does not analyze against {db}.{table}: {exc}"
            ) from None
        self.catalog.permissions.set_row_filter(who, db, table, pred)
        return StatementResult(
            sql, "grant_row_filter", message=f"filter [{pred}] for {who}"
        )

    def _revoke_row_filter(self, sql: str, m: re.Match) -> StatementResult:
        db, table, who = m.group("db"), m.group("table"), m.group("who")
        self._authorize_mask_admin(db, table)
        self.catalog.permissions.drop_row_filter(who, db, table)
        return StatementResult(
            sql, "revoke_row_filter", message=f"unfiltered for {who}"
        )

    def _call_add_files(self, sql: str, m: re.Match) -> StatementResult:
        """CALL system.add_files(table => 'db.t', source => '<dir>') —
        the Iceberg migration procedure: register existing parquet files
        without rewriting them (row ids assigned lazily per file)."""
        db, table = m.group("db"), m.group("table")
        self._authorize_table("INSERT", db, table)
        t = self.catalog.load_table(db, table)
        snap = t.add_files(m.group("source"))
        n_files = len(t.imported_dirs[m.group("source")]["files"])
        return StatementResult(
            sql,
            "add_files",
            message=f"added {n_files} file(s), snapshot {snap.id}",
        )

    def _call_rewrite(self, sql: str, m: re.Match) -> StatementResult:
        db, table = m.group("db"), m.group("table")
        self._authorize_table("ALTER", db, table)
        options = _parse_options_map(m.group("options") or "")
        t = self.catalog.load_table(db, table)
        snap = t.rewrite_data_files(
            rewrite_all=options.get("rewrite-all", "false") == "true",
            delete_file_threshold=int(options.get("delete-file-threshold", "1")),
        )
        return StatementResult(
            sql, "rewrite_data_files", message=f"snapshot {snap.id}"
        )

    def _call_remove_orphans(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        # default grace mirrors Iceberg's refusal to GC recent files;
        # older_than_seconds => 0 is the explicit immediate mode. Args
        # parse in either order; dry_run accepts true AND false (review
        # finding: only the literal true used to route). A repeated arg
        # keeps its last value (named-arg CALLs; last-wins like a conf).
        kwargs = {}
        if m.group("grace") is not None:
            kwargs["older_than_seconds"] = float(m.group("grace"))
        dry = (m.group("dry") or "").lower() == "true"
        removed = t.remove_orphan_files(dry_run=dry, **kwargs)
        return StatementResult(
            sql, "remove_orphan_files", message=f"removed {removed}"
        )

    def _call_consolidate_deletes(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        # Maintenance commits a snapshot — same gate as rewrite_data_files
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = t.consolidate_deletes()
        n = len(snap.delete_dirs)
        return StatementResult(
            sql,
            "consolidate_deletes",
            message=f"snapshot {snap.id}: {n} delete file(s)",
        )

    def _call_create_changelog_view(
        self, sql: str, m: re.Match
    ) -> StatementResult:
        """CALL system.create_changelog_view(table => 'db.t', view => 'v'
        [, from_snapshot => N] [, to_snapshot => N]) — Iceberg's
        changelog-view procedure: registers a queryable view over the
        table's CDC changes (table columns + _change_type +
        _commit_snapshot_id). ``from_snapshot`` (exclusive, like
        changes()) defaults to the table's CREATE snapshot, so the first
        data commit is INSIDE the range and the initial load appears as
        inserts — matching Iceberg's default of reading from the first
        snapshot; ``to_snapshot`` defaults to the current head.

        Security stance matches metadata tables / MV refresh: the
        changelog carries OLD values of deleted rows straight off the
        raw scan, bypassing the masked/filtered read path — row-filtered
        or column-masked principals are denied outright."""
        db, table = m.group("db"), m.group("table")
        self._authorize_table("SELECT", db, table)
        self._deny_row_filtered_mutation(db, table, "changelog views")
        if self.catalog.permissions.masked_columns(self.principal, db, table):
            raise PermissionDenied(
                f"changelog views on column-masked {db}.{table} are not "
                f"available to principal {self.principal!r}"
            )
        t = self.catalog.load_table(db, table)
        snaps = t.snapshots()
        frm = m.group("frm")
        to = m.group("to")
        if frm:
            from_id = int(frm)
        else:
            # default-from is the root of MAIN ancestry — the 'create'
            # snapshot (or the post-expiry surviving root). changes()
            # treats `from` as exclusive, so this puts the first data
            # commit inside the range and the initial load shows up as
            # inserts, matching Iceberg's create_changelog_view default.
            # Must come from the ancestry chain, not the global snapshot
            # list, which can lead with unpublished staging commits that
            # changes() (parent-chain walk) rejects as non-ancestors.
            from_id = t.ancestry()[0].id
        to_id = int(to) if to else None
        view = m.group("view")
        t.changes(from_id, to_id).createOrReplaceTempView(view)
        self.catalog.register_changelog_view(view, db, table)
        return StatementResult(
            sql,
            "create_changelog_view",
            message=f"changelog view {view} over {db}.{table} "
            f"from snapshot {from_id}",
        )

    def _call_snapshot_table(self, sql: str, m: re.Match) -> StatementResult:
        """CALL system.snapshot(source_table => 'db.src', table =>
        'db2.dst') — Iceberg's snapshot procedure: a zero-copy table
        referencing the source's current files (catalog.snapshot_table).

        Security stance matches changelog views: the snapshot table is a
        full raw read path onto the source's data — a row-filtered or
        column-masked principal could snapshot the table and read the
        copy unfiltered — so both are denied outright; everyone else
        needs SELECT on the source AND CREATE_TABLE on the destination
        database (the procedure creates a table — without the target
        check it would bypass the CREATE TABLE grant gate)."""
        sdb, stbl = m.group("sdb"), m.group("stbl")
        ddb, dtbl = m.group("ddb"), m.group("dtbl")
        self._authorize_table("SELECT", sdb, stbl)
        self._authorize_db("CREATE_TABLE", ddb)
        self._deny_row_filtered_mutation(sdb, stbl, "snapshot tables")
        if self.catalog.permissions.masked_columns(self.principal, sdb, stbl):
            raise PermissionDenied(
                f"snapshot tables over column-masked {sdb}.{stbl} are "
                f"not available to principal {self.principal!r}"
            )
        t = self.catalog.snapshot_table(sdb, stbl, ddb, dtbl)
        return StatementResult(
            sql,
            "snapshot",
            message=(
                f"snapshot table {ddb}.{dtbl} of {sdb}.{stbl} at "
                f"snapshot {t.current_snapshot().id}"
            ),
        )

    def _call_expire(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        older = datetime.datetime.fromisoformat(m.group("ts"))
        expired = t.expire_snapshots(
            older_than=older, retain_last=int(m.group("retain") or 1)
        )
        return StatementResult(
            sql,
            "expire_snapshots",
            message=f"expired {expired}",
            data=list(expired),
        )

    def _describe(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        return StatementResult(sql, "describe", df=t.describe())

    def _create_tag(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = m.group("snap")
        t.create_tag(m.group("tag"), int(snap) if snap else None)
        return StatementResult(
            sql, "create_tag", message=f"tag {m.group('tag')}"
        )

    def _drop_tag(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.drop_tag(m.group("tag"))
        return StatementResult(
            sql, "drop_tag", message=f"dropped {m.group('tag')}"
        )

    def _create_branch(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = m.group("snap")
        t.create_branch(m.group("branch"), int(snap) if snap else None)
        return StatementResult(
            sql, "create_branch", message=f"branch {m.group('branch')}"
        )

    def _drop_branch(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.drop_branch(m.group("branch"))
        return StatementResult(
            sql, "drop_branch", message=f"dropped {m.group('branch')}"
        )

    def _call_fast_forward(self, sql: str, m: re.Match) -> StatementResult:
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        t.fast_forward(m.group("branch"))
        return StatementResult(
            sql, "fast_forward", message=f"published {m.group('branch')}"
        )

    def _merge(self, sql: str, m: re.Match) -> StatementResult:
        """MERGE INTO t USING (<query>) s ON t.k = s.k
        [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET c = expr, ... | DELETE]
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT * | INSERT (cols) VALUES (exprs)]
        (Iceberg's MERGE surface: conditional clauses, expression-level
        SET assignments, insert-only merges — the append-dedup ingest
        idiom — and column-list inserts where unlisted columns land as
        typed NULL; matched rows failing the AND-condition stay
        untouched). At least one WHEN clause is required.

        The source query goes through _select, NOT bare spark.sql: _select
        re-registers every catalog table as a view under THIS principal's
        column masks and rewrites db.t names. A bare spark.sql would read
        whatever (possibly unmasked) temp views the last principal on this
        shared SparkSession registered — a mask bypass.
        """
        self._authorize_table("DELETE", m.group("db"), m.group("table"))
        self._authorize_table("INSERT", m.group("db"), m.group("table"))
        self._deny_row_filtered_mutation(m.group("db"), m.group("table"), "MERGE")
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        source = self._select(m.group("src")).df
        keys = [
            km.group(1)
            for km in re.finditer(
                rf"t\.({_IDENT})\s*=\s*s\.\1", m.group("on"), re.IGNORECASE
            )
        ]
        if not keys:
            raise TableError(f"cannot parse merge keys from: {m.group('on')}")
        if m.group("matched") is None and m.group("notmatched") is None:
            raise TableError("MERGE needs at least one WHEN clause")
        when_matched: str | dict | None
        if m.group("matched") is None:
            when_matched = None  # insert-only merge
        elif m.group("matched").upper() == "DELETE":
            when_matched = "delete"
        elif m.group("sets"):
            # UPDATE SET col = expr, ... — expression-level assignments
            when_matched = {}
            for item in _split_top_level(m.group("sets")):
                col, expr = item.split("=", 1)
                col = col.strip()
                if col.lower().startswith("t."):
                    col = col[2:]
                when_matched[col] = expr.strip()
        else:
            when_matched = "update"
        when_not_matched: str | dict | None
        if m.group("notmatched") is None:
            when_not_matched = None
        elif m.group("icols"):
            icols = [c.strip() for c in m.group("icols").split(",")]
            ivals = _split_top_level(m.group("ivals"))
            if len(icols) != len(ivals):
                raise TableError(
                    f"INSERT column/value arity mismatch: "
                    f"{len(icols)} vs {len(ivals)}"
                )
            when_not_matched = dict(zip(icols, (v.strip() for v in ivals)))
        else:
            when_not_matched = "insert"
        snap = t.merge_into(
            source,
            keys,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            matched_condition=m.group("mcond"),
            not_matched_condition=m.group("nmcond"),
        )
        return StatementResult(sql, "merge", message=f"snapshot {snap.id}")

    def _mask_metadata_df(
        self, df: DataFrame, db: str, name: str
    ) -> DataFrame:
        """Close the metadata-table side channel on column masks: a
        partition value appears verbatim in `partitions` output columns
        and in `files.file_path` `k=v` segments. Any output column whose
        name matches a masked column — or its hidden-partitioning derived
        name `<col>_day|_month|_bucket|_trunc` (table._partition_spec
        naming) — reads as typed NULL, and matching path segments are
        redacted. A row-filtered principal is DENIED metadata tables
        outright: per-partition record counts and file sizes are computed
        over ALL rows and would leak the existence and volume of rows the
        filter hides — there is no cheap filtered recomputation, so
        conservative refusal is the only non-leaking answer."""
        if self.catalog.permissions.row_filter(self.principal, db, name):
            raise PermissionDenied(
                f"metadata tables of {db}.{name} are not available to "
                f"row-filtered principal {self.principal!r}"
            )
        masked = self.catalog.permissions.masked_columns(
            self.principal, db, name
        )
        if not masked:
            return df
        masked_l = {c.lower() for c in masked}
        derived_l = {
            f"{c}_{sfx}"
            for c in masked_l
            for sfx in ("day", "month", "bucket", "trunc")
        }
        cols = []
        for f in df.schema.fields:
            nm = f.name.lower()
            if nm in masked_l or nm in derived_l:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif nm == "file_path":
                c = F.col(f.name)
                for seg in sorted(masked_l | derived_l):
                    c = F.regexp_replace(
                        c, f"(^|/){seg}=[^/]*", f"$1{seg}=***"
                    )
                cols.append(c.alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def _deny_row_filtered_mutation(self, db: str, table: str, what: str) -> None:
        """A row-filtered principal must not run statements that READ or
        REWRITE rows the filter hides: UPDATE/DELETE/MERGE/OVERWRITE scan
        the raw table and could pull hidden rows into the visible window
        (or destroy them). Reads stay filtered; whole-row mutations are
        refused outright — the same conservative stance as the metadata-
        table denial."""
        if self.catalog.permissions.row_filter(self.principal, db, table):
            raise PermissionDenied(
                f"{what} on {db}.{table} is not available to row-filtered "
                f"principal {self.principal!r}"
            )

    def _metadata_df(self, db: str, name: str, meta: str) -> DataFrame:
        """Iceberg metadata tables: `db.t.snapshots|history|files|partitions`.
        Row-filtered principals are denied ALL of them (incl. history/
        snapshots): record counts, file sizes, and write-activity metadata
        are computed over hidden rows too."""
        self._deny_row_filtered_mutation(db, name, "metadata tables")
        t = self.catalog.load_table(db, name)
        if meta == "files":
            return self._mask_metadata_df(t.files(), db, name)
        if meta == "history":
            return t.history()
        if meta == "partitions":
            return self._mask_metadata_df(t.partitions(), db, name)
        if meta == "position_deletes":
            return self._mask_metadata_df(t.position_deletes(), db, name)
        if meta == "metadata_log_entries":
            return t.metadata_log_entries()
        if meta == "all_data_files":
            return t.all_data_files()
        snaps = t.snapshots()
        rows = [
            (
                s.id,
                snaps[i - 1].id if i else None,
                s.timestamp,
                s.operation,
            )
            for i, s in enumerate(snaps)
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, parent_id int, committed_at string, "
            "operation string",
        )

    def _apply_column_masks(self, df: DataFrame, db: str, name: str) -> DataFrame:
        """Cell-level security (Lake Formation data-filter analog): any
        column masked for this principal on this table reads as a typed
        NULL — schema preserved, values withheld. Applied at view
        registration so every SELECT shape (joins, CTEs, SELECT *) goes
        through it. A row filter, when granted, applies FIRST (on raw
        values — LF filters evaluate before the mask projection), so a
        filter may reference columns the principal then reads as NULL."""
        pred = self.catalog.permissions.row_filter(self.principal, db, name)
        if pred:
            df = df.filter(pred)
        masked = {
            c.lower()
            for c in self.catalog.permissions.masked_columns(
                self.principal, db, name
            )
        }
        if not masked:
            return df
        return df.select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                if f.name.lower() in masked
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    def _select(self, sql: str) -> StatementResult:
        """Register every catalog table as `<db>_<table>` view, rewrite
        qualified names (incl. `VERSION AS OF <n>` time travel and the
        `db.t.snapshots|history|files|partitions` metadata tables), hand to
        Spark SQL
        (full Catalyst path)."""
        self._register_views()
        # A view whose registration was DENIED for this principal must
        # surface that denial when the statement references it — not a
        # downstream "view not found". Matched only in FROM/JOIN/comma
        # relation position: a bare word-boundary match would hard-deny a
        # statement that merely ALIASES a column to the denied view's
        # name (review finding); a reference shape this regex misses
        # still fails safe as "view not found".
        for vname, exc in getattr(self, "_view_register_denied", {}).items():
            if re.search(
                rf"(\bFROM\b|\bJOIN\b|,)\s*{re.escape(vname)}\b",
                _blank_literals(sql),
                re.IGNORECASE,
            ):
                raise exc
        self.last_scan_pruning = None
        # Changelog views are SparkSession-global temp views carrying RAW
        # old values; the creation-time deny only gates the creator, so
        # re-check the READING principal here (same stance as metadata
        # tables) before the name reaches spark.sql.
        for view, (cdb, ctbl) in self.catalog.changelog_views.items():
            if not re.search(
                rf"\b{re.escape(view)}\b",
                _blank_literals(sql),
                re.IGNORECASE,
            ):
                continue
            self._authorize_table("SELECT", cdb, ctbl)
            self._deny_row_filtered_mutation(cdb, ctbl, "changelog views")
            if self.catalog.permissions.masked_columns(
                self.principal, cdb, ctbl
            ):
                raise PermissionDenied(
                    f"changelog view {view} over column-masked "
                    f"{cdb}.{ctbl} is not available to principal "
                    f"{self.principal!r}"
                )
        rewritten = sql
        # metadata tables first — the plain-name rewrite below would
        # otherwise consume the `db.t` prefix of `db.t.files`
        for tm in re.finditer(
            rf"(?:{_IDENT}\.)?(?P<db>{_IDENT})\.(?P<tbl>{_IDENT})"
            rf"\.(?P<meta>snapshots|history|files|partitions"
            rf"|position_deletes|metadata_log_entries|all_data_files)\b",
            rewritten,
            re.IGNORECASE,
        ):
            db, tbl, meta = tm.group("db"), tm.group("tbl"), tm.group("meta")
            if not self.catalog.table_exists(db, tbl):
                continue
            # same table-level SELECT gate as the handler-style metadata
            # paths — the inline rewrite must not be the one ungated door
            self._authorize_table("SELECT", db, tbl)
            view = f"{db}_{tbl}_{meta.lower()}"
            self._metadata_df(db, tbl, meta.lower()).createOrReplaceTempView(
                view
            )
            rewritten = _sub_outside_literals(
                re.escape(tm.group(0)) + r"\b", view, rewritten
            )
        for db in self.catalog.list_databases():
            for info in self.catalog.list_tables(db):
                name = info["name"]
                # Table-level SELECT enforcement on the core scan path
                # (round-6 permission-model finding): every OTHER read
                # path — SHOW PARTITIONS, metadata tables, changelog
                # views, CALL system.snapshot — checked SELECT, but a
                # plain `SELECT * FROM db.t` under an enforcing store
                # returned rows to a principal with no grant at all.
                # Gate only tables the statement actually references;
                # the rest are registered for name resolution but carry
                # this principal's masks/filters anyway.
                # Two review-hardened details: (a) the registered view
                # spellings (`db_t`, `db_t_files`, `db_t_v3`, ...) are
                # session-global names anyone can address directly, so
                # they gate exactly like `db.t` — without this, `SELECT
                # * FROM sec_t` bypassed the grant the dotted spelling
                # enforces; only the KNOWN view suffixes count as a
                # continuation: a bare `_` alternative also matched the
                # prefix of a sibling table (`db.orders_items` gated
                # `orders` — advisor finding); (b) the match runs on the
                # statement with string literals (single- AND
                # double-quoted) blanked, so a literal that happens to
                # contain a table name ('migrated from sec.t') is not a
                # spurious hard deny.
                gate_sql = _blank_literals(rewritten)
                if re.search(
                    rf"\b{db}[._]{name}(?:\b|{_VIEW_SUFFIX})",
                    gate_sql,
                    re.IGNORECASE,
                ):
                    self._authorize_table("SELECT", db, name)
                table = self.catalog.load_table(db, name)
                # time travel: db.t VERSION AS OF <n | 'tag'> ->
                # snapshot-pinned view
                for tm in re.finditer(
                    rf"(?:{_IDENT}\.)?{db}\.{name}\s+VERSION\s+AS\s+OF\s+"
                    rf"(?:(?P<snap>\d+)|'(?P<tag>[^']+)')",
                    rewritten,
                    re.IGNORECASE,
                ):
                    pin = (
                        int(tm.group("snap"))
                        if tm.group("snap")
                        else tm.group("tag")
                    )
                    view = f"{db}_{name}_v{pin}"
                    self._apply_column_masks(
                        table.scan(snapshot_id=pin), db, name
                    ).createOrReplaceTempView(view)
                    rewritten = _sub_outside_literals(
                        re.escape(tm.group(0)), view, rewritten
                    )
                # time travel: db.t TIMESTAMP AS OF '<iso-instant>' ->
                # latest snapshot at or before the instant
                for tm in re.finditer(
                    rf"(?:{_IDENT}\.)?{db}\.{name}\s+TIMESTAMP\s+AS\s+OF\s+"
                    rf"'(?P<ts>[^']+)'",
                    rewritten,
                    re.IGNORECASE,
                ):
                    ts = tm.group("ts")
                    view = f"{db}_{name}_t{re.sub(r'[^0-9]', '', ts)}"
                    self._apply_column_masks(
                        table.scan(as_of=ts), db, name
                    ).createOrReplaceTempView(view)
                    rewritten = _sub_outside_literals(
                        re.escape(tm.group(0)), view, rewritten
                    )
                view = f"{db}_{name}"
                self._apply_column_masks(
                    table.scan(
                        data_filter=self._pruneable_where(sql, db, name, table)
                    ),
                    db,
                    name,
                ).createOrReplaceTempView(view)
                if table.last_scan_pruning is not None:
                    # observability: which statements actually skipped dirs
                    self.last_scan_pruning = {
                        f"{db}.{name}": table.last_scan_pruning
                    }
                rewritten = _sub_outside_literals(
                    rf"(?:{_IDENT}\.)?{db}\.{name}\b", view, rewritten
                )
        return StatementResult(sql, "select", df=self.spark.sql(rewritten))

    def _pruneable_where(self, sql: str, db: str, name: str, table) -> str | None:
        """Extract a WHERE clause safe to hand to the table's manifest-
        stats pruning (scan(data_filter=...)): ONLY when this table is the
        single catalog table in the statement and the whole WHERE is a
        conjunction of `numeric_col <op> literal` comparisons (the
        table's ``_PRUNE_PRED`` grammar over its ``_stats_columns()``).
        Anything else — joins, ORs, expressions, subqueries — returns None
        and the scan reads everything (Catalyst still filters rows). This
        is what makes `SELECT ... WHERE price > X` on a MoR table skip
        non-matching data dirs straight from SQL.

        Only a single FLAT query block qualifies: a CTE or derived subquery
        can rebind a same-named column (`SELECT * FROM (SELECT p/100 AS p
        FROM db.t) WHERE p > 5`), and pushing that WHERE to the BASE column
        would drop rows — wrong results, not just missed pruning. Bail
        whenever the statement starts with WITH or contains more than one
        SELECT."""
        if re.match(r"\s*WITH\b", sql, re.IGNORECASE):
            return None
        if len(re.findall(r"\bSELECT\b", sql, re.IGNORECASE)) != 1:
            return None
        mentions = set()
        for d in self.catalog.list_databases():
            for info in self.catalog.list_tables(d):
                if re.search(
                    rf"\b{d}\.{info['name']}\b", sql, re.IGNORECASE
                ):
                    mentions.add((d, info["name"]))
        if mentions != {(db, name)}:
            return None
        m = re.search(
            r"\bWHERE\b(?P<w>.+?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|$)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            return None
        w = m.group("w").strip()
        if re.search(r"\bOR\b", w, re.IGNORECASE):
            return None
        numeric = table._stats_columns()
        for part in re.split(r"\bAND\b", w, flags=re.IGNORECASE):
            mm = _PRUNE_PRED.match(part)
            if not mm or mm.group(1) not in numeric:
                return None
        return w


def _snapshot_proc(proc: str, arg):
    """One handler for every snapshot-management CALL (they differ only
    in the LocalTable method and how its argument is read off the
    match): authorize ALTER — a snapshot procedure commits — then call
    and report the resulting snapshot id."""

    def handler(self, sql: str, m: re.Match) -> StatementResult:
        self._authorize_table("ALTER", m.group("db"), m.group("table"))
        t = self.catalog.load_table(m.group("db"), m.group("table"))
        snap = getattr(t, proc)(arg(m))
        return StatementResult(sql, proc, message=f"snapshot {snap.id}")

    return handler


def _snap_arg(m: re.Match) -> int:
    return int(m.group("snap"))


# route table (class attribute referencing unbound methods)
EngineSQL._ROUTES: list[tuple[re.Pattern, Any]] = [
    (
        re.compile(
            rf"CREATE MATERIALIZED VIEW\s+{_NAME}\s+AS\s+"
            rf"(?P<select>SELECT\b.+)$",
            re.IGNORECASE | re.DOTALL,
        ),
        EngineSQL._create_materialized_view,
    ),
    (
        re.compile(
            rf"REFRESH MATERIALIZED VIEW\s+{_NAME}\s*$", re.IGNORECASE
        ),
        EngineSQL._refresh_materialized_view,
    ),
    (
        re.compile(
            rf"CREATE (?P<replace>OR REPLACE )?(?:TEMP(?:ORARY)? )?VIEW\s+"
            rf"(?P<view>{_IDENT})\s+AS\s+(?P<select>SELECT\b.+)$",
            re.IGNORECASE,
        ),
        EngineSQL._create_view,
    ),
    (
        re.compile(
            rf"DROP VIEW (?P<ifex>IF EXISTS )?(?P<view>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._drop_view,
    ),
    (
        re.compile(
            r"EXPLAIN (?:(?P<mode>FORMATTED|EXTENDED|CODEGEN|COST)\s+)?"
            r"(?P<select>SELECT\b.+)$",
            re.IGNORECASE,
        ),
        EngineSQL._explain,
    ),
    (
        re.compile(
            rf"SHOW CREATE TABLE {_NAME}\s*$", re.IGNORECASE
        ),
        EngineSQL._show_create_table,
    ),
    (
        re.compile(
            rf"SHOW PARTITIONS {_NAME}\s*$", re.IGNORECASE
        ),
        EngineSQL._show_partitions,
    ),
    (
        re.compile(
            rf"CREATE TABLE (?:IF NOT EXISTS )?{_NAME}\s*\((?P<cols>.*?)\)\s*"
            rf"USING iceberg"
            rf"(?:\s+PARTITIONED BY \((?P<partition>[^)]*)\))?"
            rf"(?:\s+TBLPROPERTIES \((?P<props>.*)\))?\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._create_table,
    ),
    (
        re.compile(
            rf"CREATE TABLE {_NAME}"
            rf"(?:\s+USING iceberg)?"
            rf"(?:\s+PARTITIONED BY \((?P<partition>[^)]*)\))?"
            rf"\s+AS\s+(?P<select>SELECT\b.+)$",
            re.IGNORECASE,
        ),
        EngineSQL._create_table_as_select,
    ),
    (
        re.compile(
            rf"DROP TABLE (?P<ifex>IF EXISTS )?{_NAME}\s*$", re.IGNORECASE
        ),
        EngineSQL._drop_table,
    ),
    (
        re.compile(
            rf"INSERT INTO {_NAME}\s+VALUES\s+(?P<values>.+)$", re.IGNORECASE
        ),
        EngineSQL._insert_values,
    ),
    (
        re.compile(
            rf"INSERT OVERWRITE (?:TABLE )?{_NAME}\s+(?P<select>SELECT\b.+)$",
            re.IGNORECASE,
        ),
        EngineSQL._insert_overwrite,
    ),
    (
        re.compile(
            rf"INSERT INTO {_NAME}\s+(?P<select>SELECT\b.+)$", re.IGNORECASE
        ),
        EngineSQL._insert_select,
    ),
    (
        re.compile(
            rf"DELETE FROM {_NAME}\s+WHERE\s+(?P<pred>.+)$", re.IGNORECASE
        ),
        EngineSQL._delete,
    ),
    (
        re.compile(
            rf"UPDATE {_NAME}\s+SET\s+(?P<sets>.+?)\s+WHERE\s+(?P<pred>.+)$",
            re.IGNORECASE,
        ),
        EngineSQL._update,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+SET TBLPROPERTIES\s*\((?P<props>.*)\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_props,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+ADD COLUMNS?\s*\(?\s*"
            rf"(?P<col>{_IDENT})\s+(?P<dtype>[^)]+?)"
            rf"(?:\s+DEFAULT\s+(?P<default>'[^']*'|[-0-9.]+|true|false))?"
            rf"\s*\)?\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_add_column,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+DROP COLUMN\s+(?P<col>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_drop_column,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+RENAME COLUMN\s+(?P<old>{_IDENT})"
            rf"\s+TO\s+(?P<new>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_rename_column,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+ALTER COLUMN\s+(?P<col>{_IDENT})"
            rf"\s+TYPE\s+(?P<dtype>.+?)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_column_type,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+ADD PARTITION FIELD\s+"
            rf"(?P<field>[\w]+(?:\s*\(\s*[\w,\s]+?\s*\))?)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_add_partition_field,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+DROP PARTITION FIELD\s+"
            rf"(?P<field>[\w]+(?:\s*\(\s*[\w,\s]+?\s*\))?)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_drop_partition_field,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+REPLACE PARTITION FIELD\s+"
            rf"(?P<old>[\w]+(?:\s*\(\s*[\w,\s]+?\s*\))?)\s+WITH\s+"
            rf"(?P<new>[\w]+(?:\s*\(\s*[\w,\s]+?\s*\))?)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._alter_replace_partition_field,
    ),
    (
        re.compile(
            rf"GRANT COLUMN MASK\s*\((?P<cols>[^)]+)\)\s*ON\s+{_NAME}"
            rf"\s+TO\s+'(?P<who>[^']+)'\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._grant_column_mask,
    ),
    (
        re.compile(
            rf"REVOKE COLUMN MASK\s+ON\s+{_NAME}\s+FROM\s+'(?P<who>[^']+)'\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._revoke_column_mask,
    ),
    (
        re.compile(
            rf"GRANT ROW FILTER\s*\((?P<pred>.+)\)\s*ON\s+{_NAME}"
            rf"\s+TO\s+'(?P<who>[^']+)'\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._grant_row_filter,
    ),
    (
        re.compile(
            rf"REVOKE ROW FILTER\s+ON\s+{_NAME}\s+FROM\s+'(?P<who>[^']+)'\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._revoke_row_filter,
    ),
    (
        re.compile(
            rf"CALL system\.add_files\s*\(\s*table\s*=>\s*'{_NAME}'\s*,"
            rf"\s*source\s*=>\s*'(?P<source>[^']+)'\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_add_files,
    ),
    (
        re.compile(
            rf"CALL system\.snapshot\s*\(\s*source_table\s*=>\s*"
            rf"'(?:{_IDENT}\.)?(?P<sdb>{_IDENT})\.(?P<stbl>{_IDENT})'\s*,"
            rf"\s*table\s*=>\s*"
            rf"'(?:{_IDENT}\.)?(?P<ddb>{_IDENT})\.(?P<dtbl>{_IDENT})'\s*\)",
            re.IGNORECASE,
        ),
        EngineSQL._call_snapshot_table,
    ),
    (
        re.compile(
            rf"CALL system\.rewrite_data_files\s*\(\s*table\s*=>\s*'{_NAME}'"
            rf"(?:\s*,\s*options\s*=>\s*map\((?P<options>.*)\))?\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_rewrite,
    ),
    (
        re.compile(
            rf"CALL system\.expire_snapshots\s*\(\s*table\s*=>\s*'{_NAME}'\s*,"
            rf"\s*older_than\s*=>\s*TIMESTAMP\s*'(?P<ts>[^']+)'"
            rf"(?:\s*,\s*retain_last\s*=>\s*(?P<retain>\d+))?\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_expire,
    ),
    (
        re.compile(
            rf"CALL system\.remove_orphan_files\s*\(\s*table\s*=>\s*'{_NAME}'"
            rf"(?:\s*,\s*(?:dry_run\s*=>\s*(?P<dry>true|false)"
            rf"|older_than_seconds\s*=>\s*(?P<grace>\d+(?:\.\d+)?)))"
            rf"{{0,2}}\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_remove_orphans,
    ),
    (
        re.compile(
            rf"CALL system\.create_changelog_view\s*\(\s*table\s*=>\s*"
            rf"'{_NAME}'\s*,\s*view\s*=>\s*'(?P<view>\w+)'"
            rf"(?:\s*,\s*from_snapshot\s*=>\s*(?P<frm>\d+))?"
            rf"(?:\s*,\s*to_snapshot\s*=>\s*(?P<to>\d+))?\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_create_changelog_view,
    ),
    (
        re.compile(
            rf"CALL system\.consolidate_deletes\s*\(\s*table\s*=>\s*'{_NAME}'"
            rf"\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_consolidate_deletes,
    ),
    (
        re.compile(rf"DESCRIBE (?:TABLE )?{_NAME}\s*$", re.IGNORECASE),
        EngineSQL._describe,
    ),
    (
        re.compile(rf"TRUNCATE TABLE {_NAME}\s*$", re.IGNORECASE),
        EngineSQL._truncate,
    ),
    (
        re.compile(
            rf"SHOW TABLES (?:IN|FROM)\s+(?:{_IDENT}\.)?(?P<dbname>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._show_tables,
    ),
    (
        re.compile(
            rf"SHOW TBLPROPERTIES\s+{_NAME}\s*$", re.IGNORECASE
        ),
        EngineSQL._show_tblproperties,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+CREATE TAG\s+(?P<tag>{_IDENT})"
            rf"(?:\s+AS OF VERSION\s+(?P<snap>\d+))?\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._create_tag,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+DROP TAG\s+(?P<tag>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._drop_tag,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+CREATE BRANCH\s+(?P<branch>{_IDENT})"
            rf"(?:\s+AS OF VERSION\s+(?P<snap>\d+))?\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._create_branch,
    ),
    (
        re.compile(
            rf"ALTER TABLE {_NAME}\s+DROP BRANCH\s+(?P<branch>{_IDENT})\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._drop_branch,
    ),
    (
        re.compile(
            rf"CALL system\.fast_forward\s*\(\s*table\s*=>\s*'{_NAME}'\s*,"
            rf"\s*branch\s*=>\s*'(?P<branch>{_IDENT})'\s*\)\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._call_fast_forward,
    ),
    (
        re.compile(
            rf"CALL system\.rollback_to_snapshot\s*\(\s*table\s*=>\s*"
            rf"'{_NAME}'\s*,\s*snapshot_id\s*=>\s*(?P<snap>\d+)\s*\)\s*$",
            re.IGNORECASE,
        ),
        _snapshot_proc("rollback_to_snapshot", _snap_arg),
    ),
    (
        re.compile(
            rf"CALL system\.rollback_to_timestamp\s*\(\s*table\s*=>\s*"
            rf"'{_NAME}'\s*,\s*timestamp\s*=>\s*'(?P<ts>[^']+)'\s*\)\s*$",
            re.IGNORECASE,
        ),
        _snapshot_proc("rollback_to_timestamp", lambda m: m.group("ts")),
    ),
    (
        re.compile(
            rf"CALL system\.set_current_snapshot\s*\(\s*table\s*=>\s*"
            rf"'{_NAME}'\s*,\s*snapshot_id\s*=>\s*(?P<snap>\d+)\s*\)\s*$",
            re.IGNORECASE,
        ),
        _snapshot_proc("set_current_snapshot", _snap_arg),
    ),
    (
        re.compile(
            rf"CALL system\.cherrypick_snapshot\s*\(\s*table\s*=>\s*"
            rf"'{_NAME}'\s*,\s*snapshot_id\s*=>\s*(?P<snap>\d+)\s*\)\s*$",
            re.IGNORECASE,
        ),
        _snapshot_proc("cherrypick_snapshot", _snap_arg),
    ),
    (
        re.compile(
            rf"MERGE INTO {_NAME}(?:\s+AS)?(?:\s+t)?\s+USING\s*"
            rf"\((?P<src>.+)\)(?:\s+AS)?\s+s\s+ON\s+(?P<on>.+?)"
            rf"(?:\s+WHEN MATCHED(?:\s+AND\s+(?P<mcond>.+?))?\s+THEN\s+"
            rf"(?P<matched>UPDATE SET \*|UPDATE SET (?P<sets>.+?)|DELETE))?"
            rf"(?P<notmatched>\s+WHEN NOT MATCHED"
            rf"(?:\s+AND\s+(?P<nmcond>.+?))?\s+THEN INSERT\s+"
            rf"(?:\*|\((?P<icols>[^)]+)\)\s*VALUES\s*\((?P<ivals>.+)\)))?\s*$",
            re.IGNORECASE,
        ),
        EngineSQL._merge,
    ),
]
