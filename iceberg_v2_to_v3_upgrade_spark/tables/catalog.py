"""Local catalog — the reference's Glue surface (SURVEY.md §2.J) on a
file-backed warehouse.

J1 get_table_info / J2 list_tables / J3 [OK]/[WARN] report / J5 create
database — same fields the reference reads from Glue
(``internal/upgrade_table.py:33-56,149-170``): location, table_type,
format-version, metadata_location.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from iceberg_v2_to_v3_upgrade_spark.tables.permissions import PermissionStore
from iceberg_v2_to_v3_upgrade_spark.tables.table import (
    LocalTable,
    TableError,
    _next_snapshot_id,
)


class LocalCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        os.makedirs(self.warehouse, exist_ok=True)
        # J7/J8: grant table + account id (non-enforcing until enabled —
        # Lake Formation's IAM-access default; see tables/permissions.py)
        self.permissions = PermissionStore(self.warehouse)
        # view name -> (db, table) registrations for CALL
        # system.create_changelog_view live in register_changelog_view /
        # the changelog_views property — persisted per-warehouse (see
        # below), NOT an in-memory dict: temp views are SparkSession-
        # global, so a SECOND LocalCatalog/EngineSQL over the same
        # session or a reopened warehouse must still see the
        # registration, or its _select falls through to plain spark.sql
        # without re-checking the reading principal's row filters /
        # column masks on the source table.

    # ------------------------------------------------- changelog views

    @property
    def _changelog_views_path(self) -> str:
        return os.path.join(self.warehouse, "_changelog_views.json")

    @property
    def changelog_views(self) -> dict[str, tuple[str, str]]:
        """view name -> (db, table) for registered changelog views,
        read from warehouse metadata so every catalog instance over this
        warehouse applies the read-time permission re-check. Parsed once
        per file mtime (the property sits on the per-statement _select
        hot path); a truncated/corrupt file reads as empty rather than
        poisoning every subsequent SELECT — writes are atomic (tmp +
        os.replace, same pattern as table metadata), so corruption only
        means an out-of-band writer died mid-write."""
        path = self._changelog_views_path
        # open-then-fstat (not stat-then-open): the cache key must
        # describe the bytes actually read — see the `views` property
        # for the race this closes (round-6 advisor).
        try:
            f = open(path)
        except FileNotFoundError:
            self._clv_cache = (None, {})
            return {}
        with f:
            st = os.fstat(f.fileno())
            key = (st.st_ino, st.st_mtime_ns)
            cached = getattr(self, "_clv_cache", None)
            if cached is not None and cached[0] == key:
                return dict(cached[1])
            try:
                views = {k: tuple(v) for k, v in json.load(f).items()}
            except (json.JSONDecodeError, ValueError):
                views = {}
        self._clv_cache = (key, views)
        return dict(views)

    def _write_changelog_views(
        self, views: dict[str, tuple[str, str]]
    ) -> None:
        tmp = self._changelog_views_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: list(v) for k, v in views.items()}, f)
        os.replace(tmp, self._changelog_views_path)
        self._clv_cache = None

    @contextmanager
    def _flock(self, lock_path: str):
        """Advisory exclusive flock on `lock_path`, serializing a
        cross-process read-modify-write. The lock file is always
        separate from the data file it guards so os.replace on the data
        file never invalidates a held lock."""
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _changelog_views_lock(self):
        """Serialize the changelog-view register/unregister
        read-modify-write: two engines over the same warehouse would
        otherwise lose each other's registrations, and a LOST
        registration silently disables the row-filter/column-mask
        re-check gate on that view in _select — a security registry
        must not drop writes (round-5 advisor)."""
        return self._flock(self._changelog_views_path + ".lock")

    # --------------------------------------------------- session views

    @property
    def _session_views_path(self) -> str:
        return os.path.join(self.warehouse, "_session_views.json")

    @property
    def views(self) -> dict[str, str]:
        """view name -> defining SELECT, in creation order, persisted at
        the warehouse like changelog_views — views are a per-WAREHOUSE
        security surface, not a per-engine one: temp views are
        SparkSession-global, so an EngineSQL instance that does not know
        a view exists would neither re-register it under the reading
        principal's grants/filters/masks nor gate it (round-6 review:
        the per-instance dict let an ungranted principal read a secured
        view through the creator's stale temp view)."""
        path = self._session_views_path
        # Open FIRST and key the cache on the OPEN fd's (inode, mtime):
        # a stat-then-open pair races with a concurrent os.replace — the
        # new content would be cached under the old key and a rewrite
        # landing within mtime granularity would never be detected
        # (round-6 advisor). fstat on the open fd describes exactly the
        # bytes json.load will read.
        try:
            f = open(path)
        except FileNotFoundError:
            self._sv_cache = (None, {})
            return {}
        with f:
            st = os.fstat(f.fileno())
            key = (st.st_ino, st.st_mtime_ns)
            cached = getattr(self, "_sv_cache", None)
            if cached is not None and cached[0] == key:
                return dict(cached[1])
            try:
                views = dict(json.load(f))
            except (json.JSONDecodeError, ValueError):
                views = {}
        self._sv_cache = (key, views)
        return dict(views)

    def _write_views(self, views: dict[str, str]) -> None:
        tmp = self._session_views_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f)
        os.replace(tmp, self._session_views_path)
        self._sv_cache = None

    def register_view(self, name: str, select: str) -> None:
        with self._changelog_views_lock():
            self._sv_cache = None
            views = self.views
            # re-registration keeps the ORIGINAL creation position so
            # dependent views defined later still register after it
            views[name] = select
            self._write_views(views)

    def unregister_view(self, name: str) -> None:
        with self._changelog_views_lock():
            self._sv_cache = None
            views = self.views
            if name in views:
                del views[name]
                self._write_views(views)

    def register_changelog_view(self, view: str, db: str, table: str) -> None:
        with self._changelog_views_lock():
            self._clv_cache = None  # re-read under the lock, never stale
            views = self.changelog_views
            views[view] = (db, table)
            self._write_changelog_views(views)

    def unregister_changelog_views(self, *, view: str | None = None,
                                   db: str | None = None,
                                   table: str | None = None) -> None:
        """Drop registrations by view name, or every registration over
        ``db.table`` (called from DROP VIEW / drop_table so a dead
        registration can't keep gating unrelated statements forever)."""
        with self._changelog_views_lock():
            self._clv_cache = None
            views = self.changelog_views
            kept = {
                v: (d, t)
                for v, (d, t) in views.items()
                if not (v == view or (d == db and t == table))
            }
            if kept != views:
                self._write_changelog_views(kept)

    # ------------------------------------------------------------ databases

    def create_database(self, db: str) -> bool:
        """Idempotent CREATE DATABASE (reference create_demo_table.py:41-65;
        the S3-bucket step J6 collapses to makedirs locally)."""
        path = os.path.join(self.warehouse, db)
        existed = os.path.isdir(path)
        os.makedirs(path, exist_ok=True)
        return not existed

    def drop_database(self, db: str, cascade: bool = False) -> None:
        path = os.path.join(self.warehouse, db)
        if not os.path.isdir(path):
            return
        if os.listdir(path) and not cascade:
            raise TableError(f"database {db} not empty")
        shutil.rmtree(path)

    def list_databases(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    # --------------------------------------------------------------- tables

    def table_root(self, db: str, table: str) -> str:
        return os.path.join(self.warehouse, db, table)

    def create_table(
        self,
        db: str,
        table: str,
        schema_ddl: str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> LocalTable:
        self.create_database(db)
        return LocalTable.create(
            self.spark,
            self.table_root(db, table),
            schema_ddl,
            partition_by=partition_by,
            properties=properties,
            if_not_exists=if_not_exists,
        )

    def load_table(self, db: str, table: str) -> LocalTable:
        root = self.table_root(db, table)
        if not os.path.exists(os.path.join(root, "metadata.json")):
            raise TableError(f"table {db}.{table} not found")
        return LocalTable(self.spark, root)

    def table_exists(self, db: str, table: str) -> bool:
        return os.path.exists(
            os.path.join(self.table_root(db, table), "metadata.json")
        )

    def drop_table(self, db: str, table: str, if_exists: bool = True) -> bool:
        # DROP deletes the table root wholesale (PURGE semantics), which
        # is the third — and most destructive — physical-deletion path
        # onto files an adopted snapshot table still scans; Iceberg
        # refuses DROP ... PURGE when gc.enabled=false and so do we
        # (round-6 review: the guard covered expire/orphan-GC only).
        meta_path = os.path.join(self.table_root(db, table), "metadata.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                props = json.load(f).get("properties", {})
            if props.get("gc.enabled", "true").lower() == "false":
                deps = props.get("snapshot.adopted-by", "")
                hint = f" (snapshot tables depend on its files: {deps})" if deps else ""
                raise TableError(
                    f"cannot drop {db}.{table}: gc.enabled=false{hint}; "
                    "set gc.enabled=true only after verifying no snapshot "
                    "table still references its files"
                )
        dropped = LocalTable.drop(
            self.table_root(db, table), if_exists=if_exists
        )
        if dropped:
            # changelog views over the dropped table are dead: keeping
            # their registrations would gate unrelated future statements
            self.unregister_changelog_views(db=db, table=table)
        return dropped

    def snapshot_table(
        self, src_db: str, src_table: str, dst_db: str, dst_table: str
    ) -> LocalTable:
        """CALL system.snapshot analog: create a zero-copy table whose
        initial state REFERENCES the source's current data/delete files
        (no data is copied — the commit is pure metadata). The snapshot
        table then lives its own life: DML writes new files under ITS
        root, the source is never touched, and dropping the snapshot
        never deletes source data (its dirs live under the source root,
        which remove_orphan_files on the snapshot also never walks).

        The adopted dirs keep their source snap-N names, whose encoded
        seqs belong to the SOURCE's commit numbering. Rather than remap
        them, the adopt commit FLOORS the destination's own numbering
        above the source's maximum seq: every adopted structure —
        dir-name seqs, eq-delete seqs, cherry-pick overrides, seq-keyed
        renames/defaults/spec-log entries, imported-dir row-id maps, the
        carried-row-id flag — copies VERBATIM and stays mutually
        consistent (scan interprets them through the unchanged dir
        names), while every future destination commit outranks all of
        it, so destination deletes apply to adopted data and adopted
        deletes never touch destination writes. The source's row-id
        watermark carries over too, so destination inserts never reuse
        an adopted row id (a reused id would be masked by an adopted
        positional tombstone)."""
        src = self.load_table(src_db, src_table)
        cur = src.current_snapshot()
        self.create_database(dst_db)
        # The gc guard + adopted-by marker describe the SOURCE's role as
        # an adoption provider; a snapshot of a previously-snapshotted
        # source must not inherit them (it would never be able to expire
        # its own snapshots).
        inherited = {
            k: v
            for k, v in src.properties.items()
            if k not in ("gc.enabled", "snapshot.adopted-by")
        }
        dst = self.create_table(
            dst_db,
            dst_table,
            src.schema_ddl,
            partition_by=src.partition_by or None,
            properties=inherited,
        )
        dst._meta["next_row_id"] = int(src._meta.get("next_row_id", 0))
        # seq-keyed column/partition interpretation and row-lineage
        # state must travel with the files they describe (scan keys them
        # off dir-name seqs, which are preserved verbatim)
        for k in (
            "renames",
            "column_defaults",
            "partition_spec_log",
            "imported_dirs",
            "carried_row_ids",
        ):
            if src._meta.get(k):
                dst._meta[k] = json.loads(json.dumps(src._meta[k]))
        dst._commit(
            "snapshot",
            list(cur.data_dirs),
            list(cur.delete_dirs),
            eq_deletes=[dict(e) for e in cur.eq_deletes],
            seq_overrides=dict(cur.seq_overrides),
            min_id=_next_snapshot_id(src._meta),
        )
        # Record the adoption ON THE SOURCE (after dst inherited the
        # source's ORIGINAL properties above): the snapshot table's scans
        # physically depend on dirs under the source root, so source-side
        # expire_snapshots / remove_orphan_files / drop would break them.
        # Mirror Iceberg's snapshot-table guidance — gc.enabled=false
        # makes all three refuse on the source until an operator who has
        # verified no snapshot table still needs the files re-enables it;
        # snapshot.adopted-by names the dependents so the refusal is
        # actionable (round-5 advisor).
        # Accepted authz trade-off (round-6 review): through CALL
        # system.snapshot a SELECT+CREATE_TABLE principal triggers this
        # protective write to a source it cannot otherwise alter — at
        # worst the owner must flip gc.enabled back (ALTER-gated via
        # SQL); the alternative, NOT recording the dependency, lets the
        # owner's routine GC physically corrupt someone else's table,
        # which is strictly worse.
        # The adopted-by update is a read-modify-write on the SOURCE's
        # properties: two concurrent snapshot_table calls over the same
        # source would each read the list and each write only its own
        # dependent, losing the other's entry from the GC-guard hint
        # (round-6 advisor). Serialize with a per-source flock and
        # RE-READ the properties under the lock — the `src` handle's
        # view predates it.
        src_root = self.table_root(src_db, src_table)
        with self._flock(os.path.join(src_root, "adopted_by.lock")):
            src_fresh = self.load_table(src_db, src_table)
            adopted_by = src_fresh.properties.get("snapshot.adopted-by", "")
            deps = [d for d in adopted_by.split(",") if d]
            deps.append(f"{dst_db}.{dst_table}")
            src_fresh.set_properties(
                {
                    "gc.enabled": "false",
                    "snapshot.adopted-by": ",".join(sorted(set(deps))),
                }
            )
        return dst

    def get_table_info(self, db: str, table: str) -> dict[str, Any] | None:
        """J1 (reference upgrade_table.py:33-56): location, table_type,
        format-version, metadata_location — None when absent, like the
        reference's not-found guard (:108-110)."""
        root = self.table_root(db, table)
        meta_path = os.path.join(root, "metadata.json")
        if not os.path.exists(meta_path):
            ext_path = os.path.join(root, "_external_table.json")
            if os.path.exists(ext_path):
                with open(ext_path) as f:
                    ext = json.load(f)
                return {
                    "name": table,
                    "database": db,
                    "location": ext.get("location", root),
                    "table_type": ext.get("table_type", "EXTERNAL"),
                    "format_version": None,
                    "metadata_location": None,
                    "properties": {},
                    "current_snapshot_id": None,
                }
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        props = meta.get("properties", {})
        return {
            "name": table,
            "database": db,
            "location": root,
            "table_type": "ICEBERG_LOCAL",
            "format_version": props.get("format-version"),
            "metadata_location": meta_path,
            "properties": props,
            "current_snapshot_id": meta.get("current_snapshot_id"),
        }

    def register_external_table(
        self,
        db: str,
        table: str,
        table_type: str = "EXTERNAL",
        location: str | None = None,
    ) -> None:
        """Register a NON-Iceberg table in the catalog (reference
        parity: a Glue database can hold plain CSV/parquet tables, and
        ``internal/upgrade_table.py:117-119`` guards exactly this —
        the upgrade must SKIP them, not fail). Writes a descriptor file
        so ``get_table_info`` / ``--list`` / ``plan_upgrade`` see the
        table with a non-Iceberg ``table_type``."""
        self.create_database(db)
        root = self.table_root(db, table)
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "_external_table.json"), "w") as f:
            json.dump(
                {"table_type": table_type, "location": location or root}, f
            )

    def list_tables(self, db: str) -> list[dict[str, Any]]:
        """J2 (reference upgrade_table.py:149-170): every table with its
        format-version."""
        path = os.path.join(self.warehouse, db)
        if not os.path.isdir(path):
            return []
        out = []
        for name in sorted(os.listdir(path)):
            info = self.get_table_info(db, name)
            if info is not None:
                out.append(info)
        return out

    def list_report(self, db: str) -> DataFrame:
        """J3 `--list` report: [OK] V3 / [WARN] V2 per table
        (reference upgrade_table.py:187-194)."""
        rows = [
            (
                t["name"],
                str(t["format_version"]),
                "[OK]"
                if t["format_version"] == "3"
                else "[SKIP] not an Iceberg table"
                if t["format_version"] is None
                else "[WARN] V2 - needs upgrade",
            )
            for t in self.list_tables(db)
        ]
        return self.spark.createDataFrame(
            rows, "table string, format_version string, status string"
        )
