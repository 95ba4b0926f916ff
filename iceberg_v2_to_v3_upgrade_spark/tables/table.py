"""Mutable, versioned, partitioned table — the reference's data model
(SURVEY.md §1) natively on Spark + parquet.

Semantics mirrored from the reference's Iceberg surface:
- schema-fixed DDL with identity partitioning and table properties
  (create: internal/create_demo_table.py:102-114),
- merge-on-read DELETE/UPDATE writing *delete files* that mask rows at
  read time instead of rewriting data files (:130,133),
- snapshot-versioned commits with time travel and expiry (README.md:34-38),
- format-version 2->3 upgrade gated exactly like
  internal/upgrade_table.py:100-146, exposing `next-row-id` at V3
  (README.md:43-45 — row lineage is why the upgrade exists).

Physical layout (one directory per table):

    <table_root>/metadata.json        # schema, properties, snapshot log
    <table_root>/data/snap-<id>/      # parquet, partitioned by identity cols
    <table_root>/deletes/snap-<id>/   # parquet delete files (_row_id)

Every scan is `data dirs LEFT ANTI JOIN delete dirs ON _row_id` (plus one
anti-join per equality-key set), each side read as few relations as the
dirs' layouts allow and the delete side broadcast — the exact shape of
Iceberg's MoR read path. Delete files are tiny relative to data
(O(deleted rows)), so at 100 TB the anti-join never shuffles the fact side.

Row identity: `_row_id` is assigned at write from
`monotonically_increasing_id()` plus a per-commit base offset — unique and
monotone across commits but intentionally sparse, exactly like Iceberg's
(file, position) identity; `next-row-id` tracks the high-water mark.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import fcntl
import functools
import json
import logging
import math
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    CharType,
    DataType,
    MapType,
    StructField,
    StructType,
    VarcharType,
)

_log = logging.getLogger(__name__)

_ROW_ID = "_row_id"

# Iceberg-style partition transforms: days(ts), months(ts),
# bucket(N, col), truncate(N, col)
_TRANSFORM_RE = re.compile(
    r"^(?P<fn>days|months|bucket|truncate)\(\s*(?:(?P<n>\d+)\s*,\s*)?"
    r"(?P<col>\w+)\s*\)$",
    re.IGNORECASE,
)


class TableError(Exception):
    pass


class CommitConflictError(TableError):
    """Another writer advanced the table since this handle loaded its
    metadata, and the change could not be safely re-applied on top —
    the analog of Iceberg's ``CommitFailedException`` after its
    optimistic-concurrency retries are exhausted. Reload the table
    (open a fresh handle) and re-run the operation."""


@contextlib.contextmanager
def _table_lock(root: str):
    """Exclusive per-table commit lock (flock on ``<root>/.commit.lock``).

    Held across every metadata read-check-modify-write so the version
    check in ``_write_meta`` and the rebase in ``_commit`` are atomic
    with the ``os.replace`` that publishes the new metadata — the
    single-filesystem stand-in for the atomic compare-and-swap a real
    Iceberg catalog provides on the table pointer
    (reference README.md:7 — concurrent engines share one table)."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".commit.lock"), "w") as fd:
        fcntl.flock(fd, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)


@dataclass
class Snapshot:
    id: int
    timestamp: str  # ISO-8601 UTC
    operation: str  # append | delete | update | replace | create
    data_dirs: list[str] = field(default_factory=list)
    delete_dirs: list[str] = field(default_factory=list)  # positional
    # equality deletes: [{"dir": path, "cols": [...], "seq": snap_id}];
    # each applies only to data committed BEFORE seq (Iceberg sequence-
    # number semantics)
    eq_deletes: list[dict] = field(default_factory=list)
    # Iceberg parent-snapshot-id: the snapshot this commit built on (the
    # branch head for branch-staged writes, else the then-current main
    # head). None only for the initial 'create' snapshot and metadata
    # written before this field existed (readers fall back to the
    # positional predecessor in the global list).
    parent_id: int | None = None
    # cherry-pick seq overrides, scoped to THIS snapshot and inherited by
    # descendants at commit time: {data_dir: publish_seq}. Iceberg gives
    # cherry-picked files the publish snapshot's sequence number, but only
    # in the publish lineage — the branch snapshot that originally staged
    # the dir keeps its staged seq, so branch-side deletes still apply
    # there (a global per-table map would resurrect branch-deleted rows).
    seq_overrides: dict[str, int] = field(default_factory=dict)
    # data dirs this commit ADDED relative to its parent (Iceberg's
    # added-files manifest entry), recorded at commit time. None on
    # metadata written before the field existed — readers needing the
    # delta (cherry-pick) then fall back to diffing against earlier
    # snapshots, which is only sound while that history is retained.
    added_dirs: list[str] | None = None

    def to_json(self) -> dict[str, Any]:
        out = {
            "id": self.id,
            "timestamp": self.timestamp,
            "operation": self.operation,
            "data_dirs": self.data_dirs,
            "delete_dirs": self.delete_dirs,
            "eq_deletes": self.eq_deletes,
            "parent_id": self.parent_id,
        }
        if self.seq_overrides:
            out["seq_overrides"] = self.seq_overrides
        if self.added_dirs is not None:
            out["added_dirs"] = self.added_dirs
        return out

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(
            id=d["id"],
            timestamp=d["timestamp"],
            operation=d["operation"],
            data_dirs=list(d["data_dirs"]),
            delete_dirs=list(d["delete_dirs"]),
            eq_deletes=list(d.get("eq_deletes", [])),
            parent_id=d.get("parent_id"),
            seq_overrides={
                k: int(v) for k, v in d.get("seq_overrides", {}).items()
            },
            added_dirs=d.get("added_dirs"),
        )


def _utcnow() -> str:
    return datetime.datetime.now(datetime.timezone.utc).isoformat()


def _norm_ts(ts: str) -> str:
    """Canonicalize a user-supplied instant so lexicographic comparison
    against stored snapshot timestamps (``isoformat()`` at UTC — 'T'
    separator, '+00:00' offset) is chronologically correct. Handles the
    SQL space separator, the 'Z' UTC suffix (which sorts AFTER the
    fractional-seconds digits and would wrongly admit later snapshots),
    and non-UTC offsets (converted to UTC). A naive instant is taken as
    UTC, matching the session timezone pin."""
    raw = ts.strip().replace(" ", "T", 1)
    try:
        parsed = datetime.datetime.fromisoformat(raw.replace("Z", "+00:00"))
    except ValueError:
        return raw  # not ISO-8601; compare as given (legacy behavior)
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=datetime.timezone.utc)
    return parsed.astimezone(datetime.timezone.utc).isoformat()


def _next_snapshot_id(meta: dict[str, Any]) -> int:
    """The id the next commit on ``meta`` allocates: global max + 1
    across every branch, so ids strictly increase along any parent chain."""
    return max(s["id"] for s in meta["snapshots"]) + 1


def _stats_range(lo: Any, hi: Any) -> list:
    """A dir-stats ``[lo, hi]`` entry of JSON numbers. A bound stays exact
    when its JSON number equals it: ints (arbitrary precision), floats,
    and decimals a float holds exactly (0.00, 99.50). Only an inexact
    decimal is widened OUTWARD by one ULP, so a rounded bound can never
    make a dir look narrower than its rows."""

    def bound(v: Any, away: float) -> int | float:
        if isinstance(v, int):
            return v
        f = float(v)
        return f if decimal.Decimal(f) == v else math.nextafter(f, away)

    return [bound(lo, -math.inf), bound(hi, math.inf)]


def _footer_decimal(raw: int | bytes, scale: int) -> decimal.Decimal:
    """A DECIMAL footer bound from its raw statistics: the unscaled value
    as stored (INT32/INT64), or big-endian two's-complement bytes
    (FIXED_LEN_BYTE_ARRAY), times 10^-scale of that file's column."""
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    return decimal.Decimal(raw).scaleb(-scale)


#: The one pruning grammar: a ``col <op> literal`` conjunct that dir
#: stats can decide (``_prune_dirs_by_stats``, the SQL router's WHERE).
_PRUNE_PRED = re.compile(
    r"^\s*(\w+)\s*(<=|>=|<|>|==|=)\s*(-?\d+(?:\.\d+)?)\s*$"
)


def _prune_literal(lit: str, typ: str | None) -> Any:
    """A ``_PRUNE_PRED`` literal as Spark compares it with a column of
    type ``typ`` (a ``_stats_columns()`` type name), or None when the
    bounds cannot decide that comparison. Against DOUBLE and FLOAT
    columns Spark casts the literal to double (``d = 0.1`` compares
    with ``float('0.1')``, ``2**53 + 1`` becomes ``2**53``); without
    ANSI mode an integer literal meets FLOAT as a float32 instead, so
    one past 2^24, which float32 may round, is not used. Against
    integral and DECIMAL columns the comparison is exact: an int, or a
    Decimal for a literal with a '.', so ``98.9999999999999999`` stays
    below 99."""
    exact = decimal.Decimal(lit) if "." in lit else int(lit)
    if typ in ("double", "float"):
        if typ == "float" and "." not in lit and abs(exact) > 2**24:
            return None
        return float(exact)
    return None if typ is None else exact


def _parquet_files(d: str):
    """Yield ``(path, {name: value})`` for every parquet file under data
    dir ``d``, in path order, with the file's identity-partition values
    from its ``name=value`` dirs. Spark writes them Hive-escaped (e.g.
    '#' -> '%23'); they are unquoted so they match the scan-side values."""
    import glob as _glob
    from urllib.parse import unquote

    for path in sorted(
        _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    ):
        segs = os.path.relpath(path, d).split(os.sep)[:-1]
        pairs = (seg.partition("=") for seg in segs if "=" in seg)
        yield path, {k: unquote(v) for k, _, v in pairs}


def _union_all(dfs: list[DataFrame]) -> DataFrame | None:
    """Left-fold ``unionByName`` over ``dfs``; None when there are none."""
    return functools.reduce(DataFrame.unionByName, dfs) if dfs else None


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


# Scan building speaks SQL text (``selectExpr`` / ``F.expr``) rather than
# one Column object per column: every Column is a py4j round trip, and a
# scan is planned eagerly on every read and DML statement.
def _keys_match(cols) -> str:
    """SQL: data columns equal to their ``_eq_<col>`` equality-delete
    keys — null-UNSAFE: a NULL key deletes nothing."""
    return " AND ".join(f"{_q(c)} = {_q('_eq_' + c)}" for c in cols)


def _seq_tag(seq: int | None, default: int = 0) -> str:
    """SQL: the literal ``seq``, or for None ``LocalTable._parse_dir_seq``
    of the dir holding each row's file — so one relation over many dirs
    tags each row with its own dir's seq."""
    if seq is not None:
        return str(int(seq))
    return (
        "coalesce(CAST(nullif(regexp_extract(_metadata.file_path, "
        f"'snap-([0-9]+)[^/]*/[^/]+$', 1), '') AS BIGINT), {default})"
    )


def _has_char_type(dt: DataType) -> bool:
    if isinstance(dt, (CharType, VarcharType)):
        return True
    if isinstance(dt, StructType):
        return any(_has_char_type(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_char_type(dt.elementType)
    if isinstance(dt, MapType):
        return _has_char_type(dt.keyType) or _has_char_type(dt.valueType)
    return False


class LocalTable:
    """One mutable table rooted at ``root`` (see module docstring)."""

    #: set by the last scan(data_filter=...): {"candidate_dirs": n,
    #: "read_dirs": m}; None when no stats pruning was attempted.
    last_scan_pruning: dict | None = None

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        #: Set by at_metadata_version: a historical handle whose metadata
        #: lives only in memory. Checked at the TOP of _commit, _write_meta
        #: and _write_data_dir so ANY mutator — including one added later
        #: and never appended to the per-name refusal list — fails before
        #: its first filesystem side effect (round-5 advisor: the late
        #: _write_meta backstop alone let a stale-id insert overwrite a
        #: live data dir before refusing).
        self._read_only = False
        self._meta = self._read_meta()
        #: DDL text -> parsed StructType (see ``declared_schema``)
        self._schemas: dict[str, StructType] = {}

    def _check_writable(self) -> None:
        if self._read_only:
            raise TableError(
                "table handle opened at a historical metadata version "
                "is read-only"
            )

    # ---------------------------------------------------------------- DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema_ddl: str,
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "LocalTable":
        """CREATE TABLE ... PARTITIONED BY ... TBLPROPERTIES (...).

        Reference: internal/create_demo_table.py:102-114. Defaults match the
        demo table: format-version 2, merge-on-read delete/update modes.
        """
        meta_path = os.path.join(root, "metadata.json")
        if os.path.exists(meta_path):
            if if_not_exists:
                return cls(spark, root)
            raise TableError(f"table already exists at {root}")
        os.makedirs(root, exist_ok=True)
        props = {
            "format-version": "2",
            "write.delete.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
        }
        props.update(properties or {})
        meta = {
            "schema_ddl": schema_ddl,
            "partition_by": partition_by or [],
            "partition_spec_log": [
                {"spec_id": 0, "seq": 0, "partition_by": partition_by or []}
            ],
            "properties": props,
            "next_row_id": 0,
            "snapshots": [
                Snapshot(id=1, timestamp=_utcnow(), operation="create").to_json()
            ],
            "current_snapshot_id": 1,
        }
        with open(meta_path, "w") as f:
            json.dump(meta, f, indent=2)
        return cls(spark, root)

    @staticmethod
    def drop(root: str, if_exists: bool = True) -> bool:
        """DROP TABLE IF EXISTS (reference internal/create_demo_table.py:99)."""
        if not os.path.exists(os.path.join(root, "metadata.json")):
            if if_exists:
                return False
            raise TableError(f"no table at {root}")
        shutil.rmtree(root)
        return True

    # ----------------------------------------------------------- metadata

    def _read_meta(self) -> dict[str, Any]:
        with open(os.path.join(self.root, "metadata.json")) as f:
            return json.load(f)

    def _metadata_version_path(self, version: int) -> str:
        """The one spelling of the metadata-log filename scheme —
        _write_meta (producer), metadata_log_entries, and
        at_metadata_version (consumers) must agree on it."""
        return os.path.join(
            self.root, "metadata", f"v{version:06d}.metadata.json"
        )

    def _write_meta(self, locked: bool = False) -> None:
        """Atomically replace metadata.json and append a versioned copy
        to the metadata log (Iceberg writes v{N}.metadata.json per commit
        and `metadata_log_entries` reads the trail). Retention follows
        `write.metadata.previous-versions-max` (Iceberg property, default
        100): oldest versioned copies beyond the cap are deleted — the
        current metadata.json itself is never at risk.

        Concurrency: runs under the per-table flock and CAS-checks the
        metadata version — if another writer advanced the table since
        this handle loaded it, the write REFUSES with
        ``CommitConflictError`` instead of silently dropping the other
        writer's snapshots (the lost-update hazard of dumping a stale
        in-memory ``_meta`` wholesale). ``_commit`` pre-reconciles under
        the same lock (rebase) and passes ``locked=True`` so its write
        sails through; direct metadata mutators (set_properties,
        rollback, expire, schema DDL) surface the conflict to the caller,
        whose remedy is a fresh handle."""
        self._check_writable()
        if not locked:
            with _table_lock(self.root):
                return self._write_meta(locked=True)
        disk_meta: dict[str, Any] | None
        try:
            with open(os.path.join(self.root, "metadata.json")) as f:
                disk_meta = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            disk_meta = None  # initial create: nothing on disk yet
        if disk_meta is not None:
            disk_ver = int(disk_meta.get("last_metadata_version", 0))
            mem_ver = int(self._meta.get("last_metadata_version", 0))
            # versions only ever increase, so disk AHEAD of this handle
            # means a concurrent writer committed since we loaded.
            # (disk BEHIND can only mean the caller advanced the counter
            # deliberately — e.g. the 6->7-digit rollover test — never a
            # concurrency hazard, so it is not refused.)
            if disk_ver > mem_ver:
                raise CommitConflictError(
                    f"metadata.json at {self.root} is at version "
                    f"{disk_ver} but this handle loaded version "
                    f"{mem_ver}: a concurrent writer committed first. "
                    f"Reload the table and retry."
                )
            # Guard-property carry-forward (round-6 review): the snapshot
            # procedure records gc.enabled=false / snapshot.adopted-by on
            # the source through a FRESH handle; a caller-held stale
            # handle's next commit dumps its own _meta wholesale and would
            # silently erase the guard — re-enabling the GC the guard
            # exists to block. A guard key present on disk but absent in
            # memory is therefore re-adopted before the write; a key
            # present in memory (e.g. an explicit gc.enabled=true
            # re-enable) always wins. (With the version CAS above this
            # only fires for same-version property races, but it is cheap
            # insurance and keeps the round-6 regression covered.)
            disk_props = disk_meta.get("properties", {})
            for k in ("gc.enabled", "snapshot.adopted-by"):
                if k in disk_props and k not in self._meta["properties"]:
                    self._meta["properties"][k] = disk_props[k]
        ver = int(self._meta.get("last_metadata_version", 0)) + 1
        self._meta["last_metadata_version"] = ver
        tmp = os.path.join(self.root, "metadata.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self._meta, f, indent=2)
        os.replace(tmp, os.path.join(self.root, "metadata.json"))
        log_dir = os.path.join(self.root, "metadata")
        os.makedirs(log_dir, exist_ok=True)
        shutil.copyfile(
            os.path.join(self.root, "metadata.json"),
            self._metadata_version_path(ver),
        )
        keep = int(
            self._meta["properties"].get(
                "write.metadata.previous-versions-max", "100"
            )
        )
        # Sort by the PARSED version: past v999999 the %06d scheme emits
        # 7-digit names that misorder lexically (v1000000 < v999999), and
        # a lexical prune would delete the newest file (round-5 advisor).
        versions = sorted(
            (
                f
                for f in os.listdir(log_dir)
                if re.fullmatch(r"v\d+\.metadata\.json", f)
            ),
            key=lambda f: int(f[1:].split(".")[0]),
        )
        # Iceberg semantics: the property counts PREVIOUS versions, so
        # keep+1 files survive (the current version's copy plus `keep`
        # older ones) — at max=1 the immediately preceding version must
        # remain reachable
        for old in versions[: max(0, len(versions) - (keep + 1))]:
            os.remove(os.path.join(log_dir, old))

    @property
    def properties(self) -> dict[str, str]:
        return dict(self._meta["properties"])

    @property
    def format_version(self) -> int:
        return int(self._meta["properties"].get("format-version", "1"))

    @property
    def partition_by(self) -> list[str]:
        return list(self._meta["partition_by"])

    @property
    def schema_ddl(self) -> str:
        return self._meta["schema_ddl"]

    def declared_schema(self, ddl: str | None = None) -> StructType:
        """The ``StructType`` of ``ddl`` (default: the table's current
        ``schema_ddl``), memoized on this handle by DDL text — schema
        evolution changes the text, so a later call sees the new schema.
        Parsed by the session's DDL parser (``spark.sql.timestampType``
        applies), which is why the memo is per handle, not per process.
        CHAR/VARCHAR are refused, as ``createDataFrame([], ddl)`` refuses
        them."""
        ddl = self.schema_ddl if ddl is None else ddl
        schema = self._schemas.get(ddl)
        if schema is None:
            schema = StructType.fromDDL(ddl)
            if _has_char_type(schema):
                raise TableError(
                    f"CHAR/VARCHAR columns are not supported: {ddl!r}"
                )
            self._schemas[ddl] = schema
        return schema

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self._meta["snapshots"]]

    def current_snapshot(self) -> Snapshot:
        cur = self._meta["current_snapshot_id"]
        for s in self._meta["snapshots"]:
            if s["id"] == cur:
                return Snapshot.from_json(s)
        raise TableError(f"current snapshot {cur} missing")

    def ancestry(self, head_id: int | None = None) -> list[Snapshot]:
        """The parent chain from the initial snapshot to ``head_id``
        (default: the current main head), oldest first — Iceberg's
        snapshot ancestry. Branch-staged commits that were never
        published are NOT in main's ancestry; after a fast_forward or
        cherrypick publish, the adopted commits are. Snapshots written
        before parent_id existed fall back to the positional predecessor
        in the global list (exactly the legacy traversal)."""
        snaps = self.snapshots()
        by_id = {s.id: s for s in snaps}
        pos = {s.id: i for i, s in enumerate(snaps)}
        cur = by_id.get(
            head_id if head_id is not None
            else self._meta["current_snapshot_id"]
        )
        if cur is None:
            raise TableError(f"no snapshot {head_id}")
        chain = [cur]
        while True:
            if chain[-1].parent_id is not None:
                # parent_id 0 is the explicit root sentinel written by
                # expire_snapshots when the whole chain below was expired
                # — the walk ends here, it must NOT fall through to the
                # positional guess (by_id has no 0, so get() ends it).
                parent = by_id.get(chain[-1].parent_id)
            elif pos[chain[-1].id] > 0:  # legacy metadata: positional
                parent = snaps[pos[chain[-1].id] - 1]
            else:
                parent = None
            if parent is None:
                break
            chain.append(parent)
        chain.reverse()
        return chain

    def _snapshot_at(self, ts: str, head_id: int | None = None) -> Snapshot:
        """TIMESTAMP AS OF resolution: the latest snapshot in the MAIN
        ancestry (never an unpublished branch staging commit) whose
        commit timestamp is <= the given instant."""
        ts = _norm_ts(ts)
        eligible = [s for s in self.ancestry(head_id) if s.timestamp <= ts]
        if not eligible:
            raise TableError(f"no snapshot at or before {ts!r}")
        return max(eligible, key=lambda s: (s.timestamp, s.id))

    def history(self) -> DataFrame:
        """Snapshot log as a DataFrame (Iceberg `table.history` analog,
        including its `is_current_ancestor` column: false for snapshots
        outside the current head's parent chain — rolled-back-away lines
        and unpublished branch staging commits)."""
        ancestors = {s.id for s in self.ancestry()}
        rows = [
            (
                s.id,
                s.timestamp,
                s.operation,
                len(s.data_dirs),
                len(s.delete_dirs),
                s.id in ancestors,
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, committed_at string, operation string, "
            "n_data_dirs int, n_delete_dirs int, is_current_ancestor boolean",
        )

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE ... SET TBLPROPERTIES (reference upgrade_table.py:128).

        Guards the format-version state machine: only 2->3 is a legal
        transition (the reference never downgrades; V3->V2 would strand
        row-lineage metadata, so we refuse it).
        """
        if "format-version" in props:
            new = int(props["format-version"])
            cur = self.format_version
            if new < cur:
                raise TableError(
                    f"cannot downgrade format-version {cur} -> {new}"
                )
            if new not in (2, 3):
                raise TableError(f"unsupported format-version {new}")
            if new == 3:
                # V3 metadata must carry next-row-id (README.md:43-45);
                # missing it is the reference's documented failure mode.
                props = {**props, "next-row-id": str(self._meta["next_row_id"])}
        self._meta["properties"].update(props)
        self._write_meta()

    # -------------------------------------------------------------- write

    def _base_snapshot(self, branch: str | None = None) -> Snapshot:
        """The snapshot a write builds on: the branch head when writing to
        a branch (WAP staging), else the table's current snapshot."""
        if branch is None:
            return self.current_snapshot()
        branches = self._meta.get("branches", {})
        if branch not in branches:
            raise TableError(f"no branch {branch!r}")
        for s in self.snapshots():
            if s.id == branches[branch]:
                return s
        raise TableError(f"branch {branch!r} head missing")

    def _commit(
        self,
        operation: str,
        data_dirs,
        delete_dirs,
        branch: str | None = None,
        eq_deletes: list[dict] | None = None,
        parent_id: int | None = None,
        seq_overrides: dict[str, int] | None = None,
        min_id: int | None = None,
        fresh_row_dirs: list[str] | None = None,
        row_id_base: int | None = None,
    ) -> Snapshot:
        """Append one snapshot and publish it — optimistic concurrency.

        Under the per-table flock the current metadata is re-read; if
        another writer advanced the table since this handle loaded it,
        the commit is REBASED onto the new head (Iceberg's
        commit-retry: re-read, revalidate, re-apply) when that is
        provably safe, else refused with ``CommitConflictError``:

        - our change is a pure append (new data dirs only) → always
          rebases, onto any head;
        - the other writer's changes were pure appends → our
          delete/update/overwrite/compaction rebases on top (snapshot
          isolation — Iceberg's ``write.delete.isolation-level=
          snapshot``: rows appended concurrently are not subject to a
          predicate evaluated against the older snapshot);
        - both sides changed delete state or removed files → refuse
          (the serializable-conflict case Iceberg also fails).

        ``fresh_row_dirs``/``row_id_base``: dirs whose ``_row_id``s were
        assigned from this handle's (possibly stale) ``next_row_id``.
        If the winner allocated overlapping ids, the rebase shifts ours
        above the winner's watermark (rewriting only the just-written
        dirs) so row identity stays globally unique — the invariant the
        MoR anti-join depends on.
        """
        self._check_writable()
        with _table_lock(self.root):
            try:
                disk = self._read_meta()
            except (FileNotFoundError, json.JSONDecodeError):
                disk = None
            if disk is not None and int(
                disk.get("last_metadata_version", 0)
            ) > int(self._meta.get("last_metadata_version", 0)):
                if parent_id is not None:
                    # explicit-parent commits are history surgery (publish
                    # / adoption); re-pointing them under a moved head is
                    # not a mechanical merge — surface the conflict instead
                    raise CommitConflictError(
                        f"cannot {operation} with an explicit parent: the "
                        f"table moved underneath this handle; reload and "
                        f"retry"
                    )
                data_dirs, delete_dirs, eq_deletes, rebased_overrides = (
                    self._rebase_commit(
                        disk,
                        operation,
                        list(data_dirs),
                        list(delete_dirs),
                        list(eq_deletes or []),
                        branch,
                        list(fresh_row_dirs or []),
                        row_id_base,
                        min_id,
                    )
                )
                seq_overrides = {
                    **(seq_overrides or {}), **rebased_overrides
                }
            resolved_parent = (
                parent_id
                if parent_id is not None
                else self._meta["branches"][branch]
                if branch is not None
                else self._meta["current_snapshot_id"]
            )
            # Inherit the parent's seq overrides (cherry-pick scoping
            # follows the publish lineage), merge any new ones, and prune
            # entries for dirs this snapshot no longer carries.
            parent_rec = next(
                (
                    s
                    for s in self._meta["snapshots"]
                    if s["id"] == resolved_parent
                ),
                None,
            )
            merged = dict((parent_rec or {}).get("seq_overrides", {}))
            merged.update(seq_overrides or {})
            live = set(data_dirs)
            merged = {d: int(s) for d, s in merged.items() if d in live}
            parent_data = set((parent_rec or {}).get("data_dirs", []))
            snap = Snapshot(
                # min_id lets an adopting commit (snapshot_table) floor the
                # numbering above every adopted source seq, so the two
                # numbering systems never interleave
                id=max(_next_snapshot_id(self._meta), min_id or 0),
                timestamp=_utcnow(),
                operation=operation,
                data_dirs=data_dirs,
                delete_dirs=delete_dirs,
                eq_deletes=list(eq_deletes or []),
                # parent = the head this commit builds on (branch head for
                # staged writes, else main) — Iceberg parent-snapshot-id.
                # Rollback/set_current override it with the TARGET so the
                # abandoned line leaves the ancestry (Iceberg ancestorsOf).
                parent_id=resolved_parent,
                seq_overrides=merged,
                added_dirs=[d for d in data_dirs if d not in parent_data],
            )
            self._meta["snapshots"].append(snap.to_json())
            if branch is None:
                self._meta["current_snapshot_id"] = snap.id
            else:
                self._meta["branches"][branch] = snap.id
            self._write_meta(locked=True)
            return snap

    def _rebase_commit(
        self,
        disk: dict[str, Any],
        operation: str,
        data_dirs: list[str],
        delete_dirs: list[str],
        eq_deletes: list[dict],
        branch: str | None,
        fresh_row_dirs: list[str],
        row_id_base: int | None,
        min_id: int | None,
    ) -> tuple[list[str], list[str], list[dict], dict[str, int]]:
        """Re-apply this handle's staged change on top of the metadata a
        concurrent writer published (see ``_commit``). Mutates
        ``self._meta`` to the merged state and returns the rebased
        (data_dirs, delete_dirs, eq_deletes, seq_overrides)."""
        stale = self._meta
        # P = the head this change was built against; H = the disk head
        if branch is not None:
            if branch not in stale.get("branches", {}) or branch not in disk.get(
                "branches", {}
            ):
                raise CommitConflictError(
                    f"branch {branch!r} changed concurrently; reload and retry"
                )
            p_id = stale["branches"][branch]
            h_id = disk["branches"][branch]
        else:
            p_id = stale["current_snapshot_id"]
            h_id = disk["current_snapshot_id"]
        p_rec = next((s for s in stale["snapshots"] if s["id"] == p_id), None)
        h_rec = next((s for s in disk["snapshots"] if s["id"] == h_id), None)
        if p_rec is None or h_rec is None:
            raise CommitConflictError(
                "snapshot history rewritten concurrently (rollback/expire); "
                "reload and retry"
            )
        if p_rec != next(
            (s for s in disk["snapshots"] if s["id"] == p_id), None
        ):
            raise CommitConflictError(
                f"base snapshot {p_id} no longer on disk as loaded; "
                f"reload and retry"
            )

        def _ser(e: dict) -> str:
            return json.dumps(e, sort_keys=True)

        p_data = list(p_rec.get("data_dirs", []))
        p_del = list(p_rec.get("delete_dirs", []))
        p_eq = [_ser(e) for e in p_rec.get("eq_deletes", [])]
        # hoisted set views: `x in set(...)` inside a comprehension
        # rebuilds the set per element — quadratic inside the table-wide
        # commit lock (review finding)
        p_data_set, p_del_set, p_eq_set = set(p_data), set(p_del), set(p_eq)
        data_set, del_set = set(data_dirs), set(delete_dirs)
        added_data = [d for d in data_dirs if d not in p_data_set]
        removed_data = [d for d in p_data if d not in data_set]
        added_del = [d for d in delete_dirs if d not in p_del_set]
        removed_del = [d for d in p_del if d not in del_set]
        our_eq_set = {_ser(e) for e in eq_deletes}
        added_eq = [e for e in eq_deletes if _ser(e) not in p_eq_set]
        removed_eq = [s for s in p_eq if s not in our_eq_set]
        ours_pure_append = not (
            removed_data or added_del or removed_del or added_eq or removed_eq
        )
        h_data = list(h_rec.get("data_dirs", []))
        h_del = list(h_rec.get("delete_dirs", []))
        h_eq = [_ser(e) for e in h_rec.get("eq_deletes", [])]
        h_data_set = set(h_data)
        h_pure_append = (
            p_data_set <= h_data_set
            and sorted(h_del) == sorted(p_del)
            and sorted(h_eq) == sorted(p_eq)
        )
        if not (ours_pure_append or h_pure_append):
            raise CommitConflictError(
                f"concurrent writers both changed delete state of "
                f"{self.root} ({operation} vs snapshot {h_id}); reload "
                f"and retry"
            )
        # a dir WE claim to add that the winner already carries can only
        # be an externally named dir (add_files import — reserved write
        # paths are unique): committing it again would double-count every
        # row, and pinning a fresh seq override on the winner's dir would
        # lift it past delete files that already applied (review finding:
        # eq-deleted rows resurrected by a duplicate concurrent import)
        for d in added_data:
            if d in h_data_set:
                raise CommitConflictError(
                    f"{d} was added by a concurrent writer"
                )
        # imported-dir (add_files) reconciliation: duplicate concurrent
        # imports of the same dir would double-read every row
        ours_imports = {
            k: v
            for k, v in stale.get("imported_dirs", {}).items()
            if k not in disk.get("imported_dirs", {})
        }
        new_id = max(_next_snapshot_id(disk), min_id or 0)
        # row-id reconciliation: if the winner advanced next_row_id past
        # the base we assigned from, our materialized ids overlap theirs —
        # shift ours above the winner's watermark
        disk_next = int(disk.get("next_row_id", 0))
        stale_next = int(stale.get("next_row_id", 0))
        if row_id_base is not None and disk_next > row_id_base:
            shift = disk_next - row_id_base
            for d in fresh_row_dirs:
                self._shift_row_ids(d, shift)
            for entry in ours_imports.values():
                entry["files"] = {
                    fp: int(rid) + shift for fp, rid in entry["files"].items()
                }
            merged_next = stale_next + shift
        else:
            merged_next = max(stale_next, disk_next)
        # merged metadata: the winner's state is the base; fold in what
        # this handle staged before its commit (dir stats for the new
        # dirs, imports, the V3 carried-rows flag, the id watermark)
        merged = disk
        merged["next_row_id"] = merged_next
        if int(merged["properties"].get("format-version", "1")) >= 3:
            merged["properties"]["next-row-id"] = str(merged_next)
        # only OUR new dirs' stats: the rest of the stale map may name
        # dirs the winner's expiry already pruned
        stale_stats = stale.get("dir_stats", {})
        stats = merged.setdefault("dir_stats", {})
        for d in added_data:
            if d in stale_stats:
                stats.setdefault(d, stale_stats[d])
        imports = merged.setdefault("imported_dirs", {})
        for k, v in ours_imports.items():
            v["seq"] = new_id
            imports[k] = v
        if stale.get("carried_row_ids"):
            merged["carried_row_ids"] = True
        self._meta = merged
        if ours_pure_append:
            new_data = h_data + added_data  # disjoint: checked above
            new_del = list(h_del)
            new_eq = [e for e in h_rec.get("eq_deletes", [])]
        else:
            h_added = [d for d in h_data if d not in p_data_set]
            new_data = data_dirs + [d for d in h_added if d not in data_set]
            new_del = list(delete_dirs)
            new_eq = list(eq_deletes)
        # our added data dirs were named for the STALE next snapshot id;
        # pin their delete-scope sequence to the id they actually commit
        # under, so e.g. an equality delete the winner committed in
        # between does not swallow rows appended after it. Only OUR dirs
        # (never the winner's — their seq story is already right) get
        # the pin. Deliberately NOT re-pinned: our own delete files and
        # eq entries keep the stale-stamped sequence — that IS snapshot
        # isolation (write.delete.isolation-level=snapshot): a delete
        # evaluated against snapshot P must not swallow rows a
        # concurrent append committed after P, even though the delete
        # lands later in the linear history.
        new_data_set = set(new_data)
        overrides = {
            d: new_id
            for d in added_data
            if d in new_data_set and self._parse_dir_seq(d) != new_id
        }
        return new_data, new_del, new_eq, overrides

    @staticmethod
    def _parse_dir_seq(d: str, default: int = 0) -> int:
        """The commit sequence a ``snap-N[...]`` dir name encodes."""
        m = re.search(r"snap-(\d+)", os.path.basename(d))
        return int(m.group(1)) if m else default

    def _shift_row_ids(self, d: str, shift: int) -> None:
        """Rewrite one just-written data dir with ``_row_id += shift``
        (rebase path only — conflicts are rare, and only the losing
        writer's newest dir is touched, never table history)."""
        df = self._read_one_dir(d, self._data_read_schema()).withColumn(
            _ROW_ID, (F.col(_ROW_ID) + F.lit(int(shift))).cast("long")
        )
        spec = self._partition_spec()
        for name, expr in spec:
            if expr is not None and name not in df.columns:
                df = df.withColumn(name, expr)
        tmp = d + ".rbshift"
        writer = df.write.mode("overwrite")
        if spec:
            writer = writer.partitionBy(*[name for name, _ in spec])
        writer.parquet(tmp)
        shutil.rmtree(d)
        os.rename(tmp, d)

    def _next_dir(self, kind: str, snap_id: int, suffix: str = "") -> str:
        self._check_writable()  # before the reservation marker lands
        return self._reserve_dir(
            os.path.join(self.root, kind, f"snap-{snap_id:05d}{suffix}")
        )

    def _write_new_rows(
        self,
        df: DataFrame,
        snap_id: int,
        keep_row_ids: bool = False,
        max_records_per_file: int | None = None,
    ) -> tuple[str, dict[str, Any]]:
        """The one way rows become a new data dir: reserve
        ``data/snap-N``, give the rows fresh ``_row_id``s from
        ``next_row_id``, write, then one footer pass over the new files
        (``_record_new_dir``) advances the watermark and records the
        dir's stats before the commit. ``keep_row_ids``: the rows already
        carry their ids (compaction, copy-on-write, V3 carried-lineage
        updates). Returns the dir and the ``_commit`` keywords a rebase
        needs to shift fresh ids above a concurrent writer's (none for
        kept ids — they are not this commit's to move)."""
        row_id_base = int(self._meta["next_row_id"])
        if not keep_row_ids:
            df = df.withColumn(
                _ROW_ID, F.monotonically_increasing_id() + F.lit(row_id_base)
            )
        path = self._next_dir("data", snap_id)
        self._write_data_dir(df, path, max_records_per_file)
        self._record_new_dir(path)
        if keep_row_ids:
            return path, {}
        return path, {"fresh_row_dirs": [path], "row_id_base": row_id_base}

    def _write_delete_dir(
        self, df: DataFrame, snap_id: int, suffix: str = ""
    ) -> str:
        """The one way delete files land: reserve ``deletes/snap-N`` and
        write ``df`` there — positional ``_row_id``s, or key values for
        an equality delete. The ``-eq`` / ``-dv`` name suffixes are read
        back by orphan GC and sequence parsing."""
        path = self._next_dir("deletes", snap_id, suffix)
        df.write.mode("overwrite").parquet(path)
        return path

    @staticmethod
    def _reserve_dir(base: str) -> str:
        """Atomically reserve a write path. Two writers holding the same
        stale metadata both compute ``snap-{max+1}``; without reservation
        the second ``mode("overwrite")`` write would destroy the first
        writer's files before either commit runs. The CAS is an O_EXCL
        marker FILE (``.<name>.rsv``) BESIDE the dir, not the dir itself:
        Spark's overwrite briefly DELETES the target dir before
        recreating it, so a dir-existence check alone has a window in
        which a second writer's mkdir succeeds on the same path (review
        finding). The sibling marker survives the overwrite cycle; the
        loser takes a suffixed sibling (the ``snap-(\\d+)`` prefix that
        encodes the delete-scope sequence is preserved; the rebase in
        ``_commit`` re-pins the sequence anyway). Markers are dotfiles,
        invisible to the ``snap-*`` dir listers and the orphan walk."""
        candidate, i = base, 0
        while True:
            parent = os.path.dirname(candidate)
            os.makedirs(parent, exist_ok=True)
            marker = os.path.join(
                parent, f".{os.path.basename(candidate)}.rsv"
            )
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                i += 1
                candidate = f"{base}-c{i}"
                continue
            os.close(fd)
            os.makedirs(candidate, exist_ok=True)
            return candidate

    @staticmethod
    def _remove_reservation_marker(d: str) -> None:
        """Reclaim the ``.{name}.rsv`` sibling when its dir is physically
        deleted (expire / orphan GC) — markers otherwise accumulate one
        per lifetime write (review finding)."""
        marker = os.path.join(
            os.path.dirname(d), f".{os.path.basename(d)}.rsv"
        )
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass

    def _record_new_dir(self, path: str) -> None:
        """One footer pass over a just-written data dir: each parquet
        file's footer is opened once and gives both the ``_row_id`` max,
        which moves ``next_row_id`` (monotonically: a V3 carried-row
        update keeps OLD, possibly low, ids), and the dir's ``[lo, hi]``
        per ``_stats_columns()`` column — Iceberg's manifest stats,
        which scans prune on (``_prune_dirs_by_stats``). Stats are keyed
        by the CURRENT column names: after a rename old entries stop
        matching and pruning turns conservative, never wrong.

        INT and FLOAT bounds are taken as stored. DECIMAL bounds are
        decoded from ``min_raw``/``max_raw`` (pyarrow cannot convert the
        INT32/INT64 layout Spark writes for precision <= 18; FIXED_LEN
        bytes are big-endian two's complement) scaled by that file's own
        column scale. Identity-partition columns take theirs from the
        ``name=value`` dirs. A column gets no entry — the dir never
        prunes on it, its other columns still do — when a row group that
        has values lacks min/max or has a NaN bound (Iceberg's bounds
        leave NaN out; parquet-mr writes NaN as a double's footer max),
        or when its partition value does not parse; that is logged at
        DEBUG with the dir and the columns. ``_row_id`` is never stored
        (a rebase's ``_shift_row_ids`` rewrites it); a row group without
        ``_row_id`` stats reads that column, because the watermark guards
        row-id uniqueness. An unreadable footer raises."""
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        numeric = self._stats_columns()
        lo: dict[str, Any] = {}
        hi: dict[str, Any] = {}
        unusable: set[str] = set()
        top: int | None = None

        def take(col: str, mn: Any, mx: Any) -> None:
            if mn != mn or mx != mx:  # NaN
                unusable.add(col)
            elif col in lo:
                lo[col], hi[col] = min(lo[col], mn), max(hi[col], mx)
            else:
                lo[col], hi[col] = mn, mx

        for f, parts in _parquet_files(path):
            for name, raw in parts.items():
                if name not in numeric or raw == "__HIVE_DEFAULT_PARTITION__":
                    continue  # null partition value: min/max ignore nulls
                typ = numeric[name]
                parse = (
                    float if typ in ("double", "float")
                    else decimal.Decimal if typ == "decimal"
                    else int
                )
                try:
                    v = parse(raw)
                except (ValueError, decimal.InvalidOperation):
                    unusable.add(name)
                    continue
                take(name, v, v)
            pf = _pq.ParquetFile(f)
            md = pf.metadata
            for i in range(md.num_columns):
                kind = md.schema.column(i)
                col = kind.path  # a struct's leaf may reuse a column name
                if col != _ROW_ID and col not in numeric:
                    continue
                scale = (
                    kind.scale if kind.logical_type.type == "DECIMAL" else None
                )
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    has = st is not None and st.has_min_max
                    if col == _ROW_ID:
                        mx = st.max if has else _pc.max(
                            pf.read_row_group(rg, columns=[_ROW_ID])[_ROW_ID]
                        ).as_py()
                        if mx is not None:
                            top = mx if top is None else max(top, mx)
                    elif st is not None and st.num_values == 0:
                        continue  # all-null row group: nothing to record
                    elif not has:
                        unusable.add(col)
                    elif scale is None:
                        take(col, st.min, st.max)
                    else:
                        take(
                            col,
                            _footer_decimal(st.min_raw, scale),
                            _footer_decimal(st.max_raw, scale),
                        )
        if top is not None:
            self._set_next_row_id(
                max(int(self._meta["next_row_id"]), int(top) + 1)
            )
        if not numeric:
            return
        if unusable:
            _log.debug(
                "dir stats of %s: no bounds for %s", path, sorted(unusable)
            )
        self._meta.setdefault("dir_stats", {})[path] = {
            col: _stats_range(lo[col], hi[col])
            for col in numeric
            if col in lo and col not in unusable
        }

    def _set_next_row_id(self, nxt: int) -> None:
        """Move the row-id watermark; V3 mirrors it in ``next-row-id``."""
        self._meta["next_row_id"] = nxt
        if self.format_version >= 3:
            self._meta["properties"]["next-row-id"] = str(nxt)

    @property
    def partition_spec_log(self) -> list[dict]:
        """Partition-spec history (Iceberg partition evolution): each entry
        is ``{"spec_id": i, "seq": first_commit_seq, "partition_by": [...]}``.
        Data dirs written at commit sequence s use the spec with the
        largest ``seq <= s``. Tables created before evolution existed get a
        synthetic single-entry log (spec 0 from seq 0)."""
        log = self._meta.get("partition_spec_log")
        if log:
            return [dict(e) for e in log]
        return [{"spec_id": 0, "seq": 0, "partition_by": self.partition_by}]

    def evolve_partition_spec(self, new_partition_by: list[str]) -> int:
        """ALTER TABLE ... partition evolution (Iceberg V2 metadata-only
        spec change): NEW writes lay out data under ``new_partition_by``;
        existing data dirs keep their original layout and stay readable —
        no data is rewritten. ``rewrite_data_files`` migrates old dirs to
        the current spec, exactly as Iceberg's rewrite action does.
        Returns the new spec_id.

        Validated at ALTER time (as Iceberg does): every referenced
        column must exist in the schema, and the spec's directory-column
        names must be unique — committing a broken spec would poison
        every subsequent INSERT instead of failing here."""
        schema_cols = {
            f.name
            for f in self.declared_schema()
        }
        seen_names: set[str] = set()
        for name, canon, _derived, src in self._spec_names(new_partition_by):
            if src not in schema_cols:
                raise TableError(
                    f"partition field references unknown column {src!r} "
                    f"(schema: {sorted(schema_cols)})"
                )
            if name in seen_names:
                raise TableError(
                    f"duplicate partition field {name!r} in spec "
                    f"{new_partition_by}"
                )
            # bucket/truncate REQUIRE the width parameter: the regex makes
            # it optional, and a parameterless form would silently write
            # NULL partition values on every later insert
            if canon.startswith(("bucket(", "truncate(")) and ", " not in canon:
                raise TableError(
                    f"partition transform {canon!r} requires a width "
                    "parameter, e.g. bucket(8, col)"
                )
            seen_names.add(name)
        log = self.partition_spec_log
        start_seq = _next_snapshot_id(self._meta)
        spec_id = max(e["spec_id"] for e in log) + 1
        log.append(
            {
                "spec_id": spec_id,
                "seq": start_seq,
                "partition_by": list(new_partition_by),
            }
        )
        self._meta["partition_spec_log"] = log
        self._meta["partition_by"] = list(new_partition_by)
        self._meta["properties"]["default-spec-id"] = str(spec_id)
        self._write_meta()
        return spec_id

    def _spec_for_seq(self, seq: int) -> dict:
        """The partition-spec log entry active at commit sequence ``seq``."""
        best = None
        for e in self.partition_spec_log:
            if e["seq"] <= seq and (best is None or e["seq"] >= best["seq"]):
                best = e
        return best or {"spec_id": 0, "partition_by": []}

    @staticmethod
    def _spec_names(
        partition_by: list[str],
    ) -> list[tuple[str, str, bool, str]]:
        """Pure-regex spec parse (no Spark session touched):
        ``[(dir_column, canonical_transform, is_derived, source_col)]``.
        The canonical form distinguishes ``bucket(4, k)`` from
        ``bucket(8, k)`` even though both derive the same dir column name
        — the distinction filter scoping depends on."""
        out: list[tuple[str, str, bool, str]] = []
        for spec in partition_by:
            m = _TRANSFORM_RE.match(spec.strip())
            if not m:
                col = spec.strip()
                out.append((col, col, False, col))
                continue
            fn = m.group("fn").lower()
            col = m.group("col")
            n = m.group("n")
            canon = f"{fn}({n + ', ' if n else ''}{col})"
            suffix = {"days": "day", "months": "month", "bucket": "bucket"}.get(
                fn, "trunc"
            )
            out.append((f"{col}_{suffix}", canon, True, col))
        return out

    def _partition_spec(
        self, partition_by: list[str] | None = None
    ) -> list[tuple[str, Column | None]]:
        """Parse a partition spec into (dir_column, derivation) pairs
        (defaults to the table's CURRENT spec).

        Identity entries ("col") keep derivation None — the column itself
        lands in the directory name. Transform entries implement Iceberg's
        hidden partitioning: ``days(ts)`` / ``months(ts)`` /
        ``bucket(N, col)`` / ``truncate(N, col)`` derive a directory-only
        column (dropped on scan) so data clusters by the transform while
        queries keep using the source column. bucket() hashes with
        xxhash64 (Iceberg specifies murmur3 — same contract, different
        hash; documented engine-specific)."""
        out: list[tuple[str, Column | None]] = []
        types = {
            f.name: f.dataType.simpleString()
            for f in self.declared_schema()
        }
        for spec in (
            self.partition_by if partition_by is None else partition_by
        ):
            m = _TRANSFORM_RE.match(spec.strip())
            if not m:
                out.append((spec, None))
                continue
            fn = m.group("fn").lower()
            col = m.group("col")
            n = int(m.group("n")) if m.group("n") else None
            if fn == "days":
                out.append(
                    (f"{col}_day", F.date_format(F.col(col), "yyyy-MM-dd"))
                )
            elif fn == "months":
                out.append(
                    (f"{col}_month", F.date_format(F.col(col), "yyyy-MM"))
                )
            elif fn == "bucket":
                out.append(
                    (
                        f"{col}_bucket",
                        F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast(
                            "int"
                        ),
                    )
                )
            else:  # truncate
                if types.get(col, "string").startswith(
                    ("int", "bigint", "smallint", "tinyint")
                ):
                    expr = F.col(col) - F.pmod(F.col(col), F.lit(n))
                else:
                    expr = F.substring(F.col(col), 1, n)
                out.append((f"{col}_trunc", expr))
        return out

    def _derived_partition_ddl(self) -> str:
        """Read-schema suffix for transform-derived directory columns
        (string-typed: they come from directory names). Under partition
        evolution the union of EVERY historical spec's derived columns is
        declared — a dir written under another spec simply null-fills the
        columns it never encoded."""
        derived: list[str] = []
        for entry in self.partition_spec_log:
            for name, _canon, is_derived, _src in self._spec_names(
                entry["partition_by"]
            ):
                if is_derived and name not in derived:
                    derived.append(name)
        return "".join(f", {name} string" for name in derived)

    def _pf_scope(self, pf: str) -> dict[str, str] | None:
        """Precompute (once per scan, not per dir) what a partition
        filter needs from a dir's spec: {derived dir column referenced by
        ``pf`` -> its canonical transform in the LATEST spec defining it}.
        Returns None when the filter references no derived column (always
        applicable). The canonical transform matters: ``bucket(4, k)``
        and ``bucket(8, k)`` share the dir column name ``k_bucket`` but
        encode different values — a name-only match would silently drop
        rows from old-spec dirs."""
        log = self.partition_spec_log
        ref_defs: dict[str, str] = {}
        for entry in log:  # later entries overwrite: latest definition wins
            for name, canon, derived, _src in self._spec_names(
                entry["partition_by"]
            ):
                if derived:
                    ref_defs[name] = canon
        referenced = {
            tok
            for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", pf)
            if tok in ref_defs
        }
        if not referenced:
            return None
        return {name: ref_defs[name] for name in referenced}

    def _partition_filter_applies(
        self, d: str, scope: dict[str, str] | None
    ) -> bool:
        """Whether a partition filter with ``_pf_scope`` ``scope`` may be
        applied to rows read from dir ``d``. Partition evolution makes
        transform-derived dir columns spec-dependent: a dir whose spec
        never encoded ``p_partkey_bucket`` reads it as NULL, and filtering
        on it would DROP every row. So a filter applies only where the
        dir's spec derives every referenced transform column WITH THE SAME
        canonical transform; other dirs pass through unfiltered (extra
        rows for the residual, never wrong). Identity partition columns
        are recoverable from every dir, so they never gate."""
        if scope is None or len(self.partition_spec_log) == 1:
            return True
        seq = self._parse_dir_seq(d)
        mine = {
            name: canon
            for name, canon, derived, _src in self._spec_names(
                self._spec_for_seq(seq)["partition_by"]
            )
            if derived
        }
        return all(mine.get(name) == canon for name, canon in scope.items())

    def _write_data_dir(
        self,
        df: DataFrame,
        path: str,
        max_records_per_file: int | None = None,
    ) -> None:
        self._check_writable()
        spec = self._partition_spec()
        for name, expr in spec:
            if expr is not None:
                df = df.withColumn(name, expr)
        sort_order = self._meta["properties"].get("write.sort-order")
        if sort_order:
            # Iceberg WRITE ORDERED BY analog: cluster rows inside each
            # task's files so parquet row-group min/max (and the dir stats
            # above) stay narrow — the write-side half of data skipping.
            # "col [DESC][, col2 ...]" — task-local sort, no extra shuffle.
            cols = []
            for piece in sort_order.split(","):
                toks = piece.split()
                col = F.col(toks[0])
                if len(toks) > 1 and toks[1].upper() == "DESC":
                    col = col.desc()
                cols.append(col)
            df = df.sortWithinPartitions(*cols)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            # target-file-size-bytes analog: the writer splits oversized
            # tasks so compaction can hit a file-size target regardless of
            # upstream partitioning
            writer = writer.option(
                "maxRecordsPerFile", max_records_per_file
            )
        if spec:
            writer = writer.partitionBy(*[name for name, _ in spec])
        writer.parquet(path)

    def _stats_columns(self) -> dict[str, str]:
        """Declared numeric columns (name -> type name) that get dir stats."""
        return {
            f.name: f.dataType.typeName()
            for f in self.declared_schema()
            if f.dataType.typeName()
            in ("integer", "long", "short", "double", "float", "decimal")
        }

    def _prune_dirs_by_stats(
        self, dirs: list[str], data_filter: str
    ) -> list[str]:
        """Drop dirs whose recorded min/max provably exclude the filter.
        Only AND-ed ``_PRUNE_PRED`` comparisons (`col <op> literal`)
        prune; anything else (ORs, expressions, strings) is
        conservatively kept — the same residual-evaluation posture as
        Iceberg manifest pruning."""
        if re.search(r"\bOR\b", data_filter, re.IGNORECASE):
            return dirs
        types = self._stats_columns()
        conjuncts = []
        for part in re.split(r"\bAND\b", data_filter, flags=re.IGNORECASE):
            m = _PRUNE_PRED.match(part)
            if m:
                # Python compares int, Decimal and float exactly, so the
                # literal is converted by Spark's rule for the column
                val = _prune_literal(m.group(3), types.get(m.group(1)))
                if val is not None:
                    conjuncts.append((m.group(1), m.group(2), val))
        if not conjuncts:
            return dirs
        all_stats = self._meta.get("dir_stats", {})
        kept = []
        for d in dirs:
            stats = all_stats.get(d)
            skip = False
            if stats:
                for col, op, val in conjuncts:
                    if col not in stats:
                        continue
                    lo, hi = stats[col]
                    if (
                        (op == ">" and hi <= val)
                        or (op == ">=" and hi < val)
                        or (op == "<" and lo >= val)
                        or (op == "<=" and lo > val)
                        or (op in ("=", "==") and (val < lo or val > hi))
                    ):
                        skip = True
                        break
            if not skip:
                kept.append(d)
        return kept

    def _align_to_schema(
        self, df: DataFrame, keep_row_ids: bool = False
    ) -> DataFrame:
        """Project/cast incoming rows to the declared schema (missing
        columns null-fill — schema evolution; extras are rejected).
        Column names match case-insensitively, as SQL identifiers do, and
        are written in the declared casing. ``_row_id`` is carried along
        only under ``keep_row_ids``."""
        declared = self.declared_schema()
        present = {c.lower(): c for c in df.columns}
        extra = set(present) - {f.name.lower() for f in declared} - {_ROW_ID}
        if extra:
            raise TableError(
                f"columns not in table schema: {sorted(present[c] for c in extra)}"
            )
        cols = [
            F.col(present[f.name.lower()]).cast(f.dataType).alias(f.name)
            if f.name.lower() in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in declared
        ]
        if keep_row_ids:
            cols.append(F.col(_ROW_ID))
        return df.select(*cols)

    def _change_rows(
        self,
        operation: str,
        cur: Snapshot,
        gone: DataFrame | None,
        added: list[DataFrame],
        branch: str | None = None,
        copy_on_write: bool = False,
        keep_row_ids: bool = False,
        eq_cols: list[str] | None = None,
    ) -> Snapshot:
        """The one commit step under every row-level change: INSERT,
        partitioned INSERT OVERWRITE, DELETE, UPDATE, MERGE and the
        equality delete / upsert of ``delete_by_keys``.

        ``gone`` holds the rows of ``cur`` (with ``_row_id``) that stop
        being visible, or None; ``added`` the frames that appear.

        - merge-on-read: one positional delete dir of ``gone``'s ids and
          one data dir of ``added``; ``cur``'s files stay cited.
        - equality form (``eq_cols``, merge-on-read only): ``gone`` holds
          KEY VALUES, written as one ``-eq`` delete dir whose entry's seq
          is this snapshot's id. It hides every row of ``cur`` with an
          equal key (a NULL key hides nothing) and none of ``added``,
          which commits under the same seq. No row of ``cur`` is read.
        - copy-on-write: one data dir of ``cur``'s survivors (``left_anti``
          on ``_row_id`` against ``gone``) plus ``added``, and nothing
          else cited — no delete files.

        Every written frame is aligned to the declared schema
        (``_align_to_schema``: cast, null-fill, extras rejected; equality
        keys are cast too). Row ids: ``keep_row_ids`` writes each row's
        own ``_row_id`` (V3 carried lineage, copy-on-write DELETE);
        otherwise the whole dir gets fresh ids. One dir never mixes the
        two: a rebase onto a concurrent writer shifts a fresh dir as a
        whole."""
        snap_id = _next_snapshot_id(self._meta)
        eq_deletes = [] if copy_on_write else list(cur.eq_deletes)
        if copy_on_write:
            survivors = self._scan_raw(cur)
            if gone is not None:
                survivors = survivors.join(gone.select(_ROW_ID), _ROW_ID, "left_anti")
            added, data_dirs, delete_dirs = [survivors, *added], [], []
        else:
            data_dirs, delete_dirs = list(cur.data_dirs), list(cur.delete_dirs)
            if gone is not None and eq_cols:
                keys = gone.selectExpr(
                    *[
                        f"CAST({_q(f.name)} AS {f.dataType.simpleString()}) "
                        f"AS {_q(f.name)}"
                        for f in self._eq_key_fields(eq_cols)
                    ]
                )
                path = self._write_delete_dir(keys, snap_id, "-eq")
                eq_deletes.append({"dir": path, "cols": list(eq_cols), "seq": snap_id})
            elif gone is not None:
                delete_dirs.append(
                    self._write_delete_dir(gone.select(_ROW_ID), snap_id)
                )
        rows = _union_all([self._align_to_schema(df, keep_row_ids) for df in added])
        fresh: dict[str, Any] = {}
        if rows is not None:
            path, fresh = self._write_new_rows(rows, snap_id, keep_row_ids)
            data_dirs.append(path)
        return self._commit(
            operation,
            data_dirs,
            delete_dirs,
            branch=branch,
            eq_deletes=eq_deletes,
            **fresh,
        )

    def insert(self, df: DataFrame, branch: str | None = None) -> Snapshot:
        """INSERT INTO ... (reference internal/create_demo_table.py:117-127).

        Appends a new data dir (``_change_rows``); never touches existing
        files (snapshot isolation). Written partitioned by the identity
        partition columns. ``branch`` stages the commit on a branch ref
        (WAP) instead of advancing the table's current snapshot.
        """
        return self._change_rows(
            "append", self._base_snapshot(branch), None, [df], branch
        )

    def insert_values(self, rows: list[tuple]) -> Snapshot:
        """INSERT INTO ... VALUES literal batch (create_demo_table.py:117-127)."""
        return self.insert(self.spark.createDataFrame(rows, self.schema_ddl))

    def insert_overwrite(self, df: DataFrame) -> Snapshot:
        """INSERT OVERWRITE — Iceberg's dynamic partition overwrite: one
        atomic commit that replaces EXACTLY the partitions present in the
        incoming rows and leaves every other partition's files untouched
        (the backfill/restatement idiom): the touched partitions' rows are
        ``gone`` and the incoming rows ``added`` in one merge-on-read
        ``_change_rows``. Unpartitioned tables degrade to a full-table
        replace whose snapshot cites only the new data dir — prior
        snapshots keep their dir lists, so time travel still reads the
        pre-overwrite data.

        Scale: the touched-partition list is a DISTINCT over the incoming
        rows' partition transforms (metadata-sized — bounded by partition
        count, never row count) broadcast against the scan, so the delete
        side is one semi-join; no shuffle of existing table data, no
        rewrite of untouched partitions.
        """
        aligned = self._align_to_schema(df)
        spec = self._partition_spec()
        if not spec:
            data_path, fresh = self._write_new_rows(
                aligned, _next_snapshot_id(self._meta)
            )
            return self._commit(
                "overwrite", [data_path], [], eq_deletes=[], **fresh
            )
        cur = self.current_snapshot()
        exprs = [
            (expr if expr is not None else F.col(name)).alias(name)
            for name, expr in spec
        ]
        touched = aligned.select(*exprs).distinct()
        # NULL-safe equality: Iceberg treats NULL as a partition value —
        # incoming NULL-partition rows must REPLACE existing ones, and a
        # plain equi-join would never match them
        cond = F.lit(True)
        for name, _ in spec:
            cond = cond & F.col(f"t.{name}").eqNullSafe(F.col(f"p.{name}"))
        gone = (
            self._scan_raw(cur)
            .select(_ROW_ID, *exprs)
            .alias("t")
            .join(F.broadcast(touched.alias("p")), cond, "left_semi")
        )
        return self._change_rows("overwrite", cur, gone, [aligned])

    @property
    def imported_dirs(self) -> dict:
        """Dirs registered via ``add_files``: ``{dir: {"seq": commit_seq,
        "files": {file_path: first_row_id}}}`` (read-only copy)."""
        return dict(self._meta.get("imported_dirs", {}))

    def add_files(self, source_dir: str) -> Snapshot:
        """CALL system.add_files analog — the Iceberg migration
        procedure: register EXISTING parquet files as table data without
        rewriting a byte. The commit cites the external dir; row ids are
        assigned LAZILY, V3-style: each file gets a ``first_row_id`` at
        import time and readers compute ``first_row_id + row position in
        file`` (``_metadata.row_index``) — deterministic, so positional
        deletes and row lineage work on imported data exactly as on
        managed data.

        Costs at import: one footer-level per-file row count (metadata-
        sized), zero data movement. Restricted to unpartitioned tables —
        imported files carry no partition layout.
        """
        if self._partition_spec():
            raise TableError(
                "add_files requires an unpartitioned table (imported "
                "files carry no partition layout)"
            )
        # duplicate-import guard (Iceberg add_files check_duplicate_files):
        # citing the dir twice would read every row twice under the SAME
        # row ids, and re-basing first_row_id would re-point existing
        # positional deletes at the wrong rows
        if source_dir in self._meta.get("imported_dirs", {}):
            raise TableError(f"{source_dir} was already imported")
        if source_dir in self.current_snapshot().data_dirs:
            raise TableError(f"{source_dir} is already table data")
        probe = self.spark.read.parquet(source_dir)
        declared = self.declared_schema()
        extra = set(probe.columns) - set(declared.fieldNames())
        if _ROW_ID in probe.columns:
            raise TableError(
                f"source files already carry {_ROW_ID} — use insert() "
                f"for data exported from a managed table"
            )
        if extra:
            raise TableError(f"columns not in table schema: {sorted(extra)}")
        per_file = sorted(
            (r["fp"], r["n"])
            for r in probe.groupBy(
                F.col("_metadata.file_path").alias("fp")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        row_id_base = base = int(self._meta["next_row_id"])
        files: dict[str, int] = {}
        for fp, n in per_file:
            files[fp] = base
            base += int(n)
        self._set_next_row_id(base)
        cur = self.current_snapshot()
        self._meta.setdefault("imported_dirs", {})[source_dir] = {
            "seq": _next_snapshot_id(self._meta),
            "files": files,
        }
        return self._commit(
            "append",
            cur.data_dirs + [source_dir],
            list(cur.delete_dirs),
            eq_deletes=cur.eq_deletes,
            row_id_base=row_id_base,
        )

    def delete_where(
        self, predicate: str | Column, branch: str | None = None
    ) -> Snapshot:
        """DELETE FROM ... WHERE <pred> (reference create_demo_table.py:130):
        the matched rows are ``gone`` in one ``_change_rows``.

        merge-on-read (default): append a positional delete file holding the
        matched `_row_id`s — O(deleted rows) write amplification.
        copy-on-write: rewrite the data without the matched rows; the
        survivors keep their row ids.
        """
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cur = self._base_snapshot(branch)
        mor = self.properties.get("write.delete.mode") == "merge-on-read"
        gone = self._scan_raw(cur).filter(cond)
        return self._change_rows(
            "delete", cur, gone, [], branch, copy_on_write=not mor, keep_row_ids=True
        )

    def delete_by_keys(
        self,
        keys_df: DataFrame,
        eq_cols: list[str],
        branch: str | None = None,
        added: DataFrame | None = None,
    ) -> Snapshot:
        """Equality delete (Iceberg's second MoR delete flavor, the one
        streaming CDC writers emit): one ``_change_rows`` that appends a
        delete file holding KEY VALUES instead of row positions. At read
        time the keys anti-join data committed BEFORE this delete's
        sequence number — rows inserted later with the same key are NOT
        deleted. No scan of the table happens here at all (the whole
        point vs ``delete_where``, which must find matching positions);
        duplicate keys are harmless, every reader of the keys is a semi-
        or anti-join.

        ``added``: rows committed in the SAME snapshot, which the delete
        does not hide — Iceberg's upsert-mode write (Flink's
        ``write.upsert.enabled``): delete every key, append the new rows,
        operation ``"merge"``. Each key then has exactly the added rows,
        however many rows it had before. ``added`` must carry every table
        column (an upsert replaces whole rows); its other columns are
        ignored. Its rows get fresh row ids. Names resolve
        case-insensitively. Key columns that any snapshot's equality
        delete names cannot be renamed (``rename_column``).

        The keys stay in every scan's anti-join until
        ``consolidate_deletes`` folds them into one deletion vector (no
        data rewrite) or ``rewrite_data_files`` compacts them away.
        """
        canon = {f.name.lower(): f.name for f in self.declared_schema()}
        missing = [c for c in eq_cols if c.lower() not in canon]
        if missing:
            raise TableError(f"equality columns not in schema: {sorted(missing)}")
        rows = []
        if added is not None:
            have = {c.lower() for c in added.columns}
            absent = [c for k, c in canon.items() if k not in have]
            if absent:
                raise TableError(
                    f"upsert rows need all table columns; missing {absent}"
                )
            rows = [added.drop(*[c for c in added.columns if c.lower() not in canon])]
        return self._change_rows(
            "delete" if added is None else "merge",
            self._base_snapshot(branch),
            keys_df,
            rows,
            branch,
            eq_cols=[canon[c.lower()] for c in eq_cols],
        )

    def update_set(
        self,
        assignments: dict[str, str | Column],
        predicate: str | Column,
        branch: str | None = None,
    ) -> Snapshot:
        """UPDATE ... SET col = expr WHERE <pred> (create_demo_table.py:133):
        the matched rows are ``gone`` and their rewrites (SET by
        ``_apply_assignments``) ``added`` in one ``_change_rows``.

        merge-on-read (default), exactly as Iceberg executes it: a
        positional delete entry for each matched row plus the rewritten
        rows appended — with fresh row ids on V2, and on V3 keeping each
        row's ``_row_id`` (carried lineage). copy-on-write: one rewrite of
        the whole table, fresh ids for every row.
        """
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cur = self._base_snapshot(branch)
        # persisted: feeds the tombstones (or the copy-on-write anti-join)
        # AND the rewrite, so the MoR scan runs once per UPDATE; bounded by
        # the predicate's matched set. Released after the commit — also
        # when it raises (CommitConflictError, validation).
        matched = self._scan_raw(cur).filter(cond).persist()
        try:
            rewritten = self._apply_assignments(matched, assignments)
            mor = self.properties.get("write.update.mode") == "merge-on-read"
            # V3 row lineage: the rewritten row KEEPS its _row_id (Iceberg
            # V3 carried-over row ids — incremental consumers can track a
            # logical row across updates). Its tombstone hides only the
            # OLD position: the seq-scoped delete join keeps the carried
            # copy visible.
            carried = mor and self.format_version >= 3
            if carried:
                self._meta["carried_row_ids"] = True
            return self._change_rows(
                "update", cur, matched, [rewritten], branch,
                copy_on_write=not mor, keep_row_ids=carried,
            )
        finally:
            matched.unpersist()

    def _apply_assignments(
        self,
        df: DataFrame,
        assignments: dict[str, str | Column],
        qualifier: str = "",
    ) -> DataFrame:
        """SET ``col = expr, ...`` for UPDATE and MERGE: one projection of
        the declared columns plus ``_row_id``, every expression evaluated
        against the PRE-update row (``SET a = b, b = a`` swaps) and cast
        back to the DECLARED type (decimal arithmetic widens — amount*1.1
        on DECIMAL(10,2) is DECIMAL(13,3); Iceberg casts back). Column
        names resolve case-insensitively, as SQL identifiers do; unknown
        ones raise. ``qualifier`` (``"t."``) picks the target side of a
        MERGE join for the columns left alone."""
        declared = self.declared_schema()
        canon = {f.name.lower(): f.name for f in declared}
        unknown = [c for c in assignments if c.lower() not in canon]
        if unknown:
            raise TableError(f"SET column(s) not in table schema: {unknown}")
        values = {
            canon[c.lower()]: F.expr(e) if isinstance(e, str) else e
            for c, e in assignments.items()
        }
        return df.select(
            *[
                values[f.name].cast(f.dataType).alias(f.name)
                if f.name in values
                else F.col(qualifier + f.name)
                for f in declared
            ],
            F.col(qualifier + _ROW_ID),
        )

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str | dict[str, str | Column] | None = "update",
        when_not_matched: str | dict[str, str] | None = "insert",
        matched_condition: str | None = None,
        not_matched_condition: str | None = None,
    ) -> Snapshot:
        """MERGE INTO target USING source ON keys — the third leg of
        Iceberg's row-level DML (DELETE/UPDATE/MERGE), always
        merge-on-read: matched target rows are ``gone``; their
        replacements and the inserted source rows are ``added`` with
        fresh row ids, in one ``_change_rows``.

        ``when_matched``: "update" (``SET c = s.c`` for every source
        column the table has), "delete", a dict of SET expressions
        evaluated against the matched join (``_apply_assignments``; may
        use ``t.`` / ``s.`` qualifiers), or None (leave matched rows
        untouched).
        ``when_not_matched``: "insert" (take all source columns — the
        source must then cover the full schema), a dict of
        ``column -> SQL expression`` implementing
        ``INSERT (cols) VALUES (exprs)`` (expressions may use ``s.``
        qualifiers; columns not listed land as typed NULL, the Spark
        MERGE column-list contract), or None.
        ``matched_condition`` / ``not_matched_condition``: optional SQL
        predicates (may use ``t.`` / ``s.`` qualifiers) implementing
        ``WHEN [NOT] MATCHED AND <cond>`` — matched rows that fail the
        condition are left untouched (no delete entry, no rewrite), and
        unmatched source rows that fail theirs are not inserted.

        Scale: ONE equi-join keyed on ``on`` between target scan and
        source — broadcast when the source is small (the common upsert
        case), AQE otherwise. The join result (bounded by the source
        size in the upsert pattern) is PERSISTED and feeds the delete
        file, the rewrite rows, and the not-matched anti-join, so the
        target scan executes once per MERGE instead of once per output.
        Everything else is appends.
        """
        cols = self.declared_schema().fieldNames()
        # SQL identifiers are case-insensitive: source columns, SET names
        # and the INSERT column list all resolve to the declared casing
        canon = {c.lower(): c for c in cols}
        in_source = {c.lower(): c for c in source.columns}
        if when_matched == "update":
            when_matched = {
                c: F.col(f"s.{in_source[c.lower()]}")
                for c in cols
                if c.lower() in in_source
            }
        elif when_matched not in ("delete", None) and not isinstance(when_matched, dict):
            raise TableError(f"bad when_matched: {when_matched!r}")
        inserts: dict[str, str | Column] | None = None
        if when_not_matched == "insert":
            missing = [c for c in cols if c.lower() not in in_source]
            if missing:
                raise TableError(
                    f"when_not_matched='insert' needs all table columns in "
                    f"source; missing {missing}"
                )
            when_not_matched = {c: F.col(in_source[c.lower()]) for c in cols}
        if isinstance(when_not_matched, dict):
            unknown = [c for c in when_not_matched if c.lower() not in canon]
            if unknown:
                raise TableError(
                    f"INSERT column(s) not in table schema: {unknown}"
                )
            inserts = {canon[c.lower()]: v for c, v in when_not_matched.items()}
        elif when_not_matched is not None:
            raise TableError(f"bad when_not_matched: {when_not_matched!r}")
        cur = self.current_snapshot()
        s = source.alias("s")
        cond = functools.reduce(
            Column.__and__, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]
        )
        matched_raw = self._scan_raw(cur).alias("t").join(s, cond).persist()
        # try/finally: a CommitConflictError (the contended-writer case
        # this persist exists to make cheap to retry) or any validation
        # raise must not leak the cached join
        try:
            matched = matched_raw
            if matched_condition:
                matched = matched.filter(F.expr(matched_condition))
            added = []
            if isinstance(when_matched, dict):
                added.append(self._apply_assignments(matched, when_matched, "t."))
            if inserts is not None:
                # not-matched source rows = source anti-joined against the
                # (persisted, batch-bounded) MATCHED KEYS — not against the
                # full table scan, which would re-execute the MoR merge. A
                # null-keyed source row matches nothing and stays "not
                # matched" either way; duplicate keys do not change an
                # anti-join, so they are not removed.
                matched_keys = matched_raw.select(
                    *[F.col(f"s.{k}").alias(k) for k in on]
                )
                unmatched = s.join(matched_keys, on, "left_anti")
                if not_matched_condition:
                    unmatched = unmatched.filter(F.expr(not_matched_condition))
                added.append(
                    unmatched.select(
                        *[
                            (F.expr(v) if isinstance(v, str) else v).alias(c)
                            for c, v in inserts.items()
                        ]
                    )
                )
            gone = None
            if when_matched is not None:
                gone = matched.select(F.col(f"t.{_ROW_ID}").alias(_ROW_ID))
            return self._change_rows("merge", cur, gone, added)
        finally:
            matched_raw.unpersist()

    # ----------------------------------------------------- schema evolution

    def _log_schema(self) -> None:
        """Record the CURRENT schema as superseded at the current commit
        sequence — the Iceberg metadata `schemas` list, emulated. Called
        by every schema mutator before it rewrites `schema_ddl`, so
        ``schema_at`` can resolve the schema any snapshot was written
        under."""
        self._meta.setdefault("schema_log", []).append(
            {
                "until_seq": self._meta["current_snapshot_id"],
                "schema_ddl": self.schema_ddl,
            }
        )

    def schema_at(self, snapshot_id: int) -> str:
        """The schema DDL in effect at ``snapshot_id`` (Iceberg's
        schema-id-per-snapshot lookup): the first logged schema
        superseded at-or-after that snapshot, else the current schema."""
        for entry in self._meta.get("schema_log", []):
            if snapshot_id <= entry["until_seq"]:
                return entry["schema_ddl"]
        return self.schema_ddl

    def add_column(
        self, name: str, dtype: str, default: str | None = None
    ) -> None:
        """ALTER TABLE ADD COLUMN — existing files are not rewritten; old
        rows read the new column as NULL (Iceberg schema evolution).

        ``default`` (a SQL literal string, e.g. ``"'unknown'"`` or
        ``"0"``) is Iceberg V3's *initial-default*: rows written BEFORE
        the ALTER read the default instead of NULL, still with zero file
        rewrites — the dir's commit sequence decides which side of the
        ALTER it is on. V2 tables only support a NULL initial default
        (the Iceberg spec gates non-null defaults on format-version 3),
        so a non-null default on a V2 table is refused. Rows written
        AFTER the ALTER store real values; a post-ALTER NULL stays NULL
        (the default is not a read-time coalesce for new data)."""
        schema = self.declared_schema()
        if name in schema.fieldNames():
            raise TableError(f"column {name} already exists")
        if default is not None and self.format_version < 3:
            raise TableError(
                "non-null column defaults require format-version 3 "
                f"(table is V{self.format_version}); upgrade first"
            )
        if any(
            name in (r["from"], r["to"])
            for r in self._meta.get("renames", [])
        ):
            # Iceberg disambiguates reused names via field ids; this
            # emulation matches by physical name, so a reused name would
            # collide with bytes written under the old meaning.
            raise TableError(
                f"column name {name} appears in the rename history; "
                "pick a fresh name"
            )
        self._log_schema()
        self._meta["schema_ddl"] = f"{self.schema_ddl}, {name} {dtype}"
        if default is not None:
            # same seq convention as the rename log: dirs with
            # snap-seq <= this seq predate the ALTER and read the default
            self._meta.setdefault("column_defaults", {})[name] = {
                "seq": self._schema_change_seq(),
                "sql": default,
                "dtype": dtype,
            }
        self._write_meta()

    def _schema_change_seq(self) -> int:
        """Sequence recorded for a metadata-only schema change (rename /
        initial default). Snapshot ids are allocated GLOBALLY across
        branches, so the MAIN head alone is not a safe boundary: a branch
        data dir committed before the ALTER can carry an id greater than
        the MAIN head and would wrongly classify as post-ALTER. The
        global high-water mark makes every dir written before the ALTER,
        on any branch, classify as pre-ALTER."""
        snaps = self._meta.get("snapshots") or []
        return max(
            (s["id"] for s in snaps),
            default=self._meta["current_snapshot_id"],
        )

    _PROMOTIONS = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def widen_column(self, name: str, new_type: str) -> None:
        """ALTER COLUMN ... TYPE — Iceberg type promotion (int->bigint,
        float->double, decimal precision growth at fixed scale).

        Metadata-only: Spark's vectorized parquet reader upcasts narrower
        physical types to the declared read schema on the fly, so files
        written before the promotion are never rewritten. Promotions
        outside Iceberg's legal set are refused (they would silently
        corrupt or fail at read time).
        """
        schema = self.declared_schema()
        cur = None
        for f in schema:
            if f.name == name:
                cur = f.dataType.simpleString()
        if cur is None:
            raise TableError(f"no column {name}")
        new = new_type.strip().lower().replace(" ", "")
        ok = new in self._PROMOTIONS.get(cur, set())
        if not ok and cur.startswith("decimal(") and new.startswith("decimal("):
            p1, s1 = map(int, cur[8:-1].split(","))
            p2, s2 = map(int, new[8:-1].split(","))
            ok = s2 == s1 and p2 > p1
        if not ok:
            raise TableError(f"illegal type promotion {cur} -> {new_type}")
        self._log_schema()
        self._meta["schema_ddl"] = ", ".join(
            f"{f.name} {new if f.name == name else f.dataType.simpleString()}"
            for f in schema
        )
        self._write_meta()

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only, no file rewrite.

        Iceberg renames are free because files reference columns by field
        id; this parquet emulation matches by name, so the table metadata
        keeps a rename log keyed by commit sequence and the read path
        resolves each data dir's physical column names from the log
        (dirs encode their commit sequence in the `snap-NNNNN` dir name).
        Old files keep serving their bytes under the new name; files
        written after the rename carry the new name physically.
        """
        schema = self.declared_schema()
        if old not in schema.fieldNames():
            raise TableError(f"no column {old}")
        if new in schema.fieldNames():
            raise TableError(f"column {new} already exists")
        if old in self.partition_by or any(
            f"({old})" in spec or f" {old})" in spec
            for spec in self.partition_by
        ):
            raise TableError(f"cannot rename partition column {old}")
        if any(
            new in (r["from"], r["to"])
            for r in self._meta.get("renames", [])
        ):
            raise TableError(
                f"column name {new} appears in the rename history; "
                "pick a fresh name"
            )
        for s in self.snapshots():
            if any(old in e["cols"] for e in s.eq_deletes):
                raise TableError(
                    f"cannot rename {old}: equality-delete files key on it"
                )
        self._log_schema()
        self._meta["schema_ddl"] = ", ".join(
            f"{new if f.name == old else f.name} {f.dataType.simpleString()}"
            for f in schema
        )
        self._meta.setdefault("renames", []).append(
            {"seq": self._schema_change_seq(), "from": old, "to": new}
        )
        defaults = self._meta.get("column_defaults", {})
        if old in defaults:  # defaults follow the column across renames
            defaults[new] = defaults.pop(old)
        self._write_meta()

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only; files keep the bytes,
        scans stop projecting them (Iceberg semantics)."""
        schema = self.declared_schema()
        if name not in schema.fieldNames():
            raise TableError(f"no column {name}")
        if name in self.partition_by:
            raise TableError(f"cannot drop partition column {name}")
        self._log_schema()
        self._meta["schema_ddl"] = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in schema
            if f.name != name
        )
        self._meta.get("column_defaults", {}).pop(name, None)
        self._write_meta()

    # --------------------------------------------------------------- read

    def _data_read_schema(self) -> str:
        return (
            self.schema_ddl
            + f", {_ROW_ID} long"
            + self._derived_partition_ddl()
        )

    def _read_one_dir(self, d: str, ddl: str) -> DataFrame:
        """Read one snapshot dir with an explicit schema (``_read_layout``
        for managed dirs, ``_read_imported_dir`` for ``add_files`` ones)."""
        imported = self._meta.get("imported_dirs", {}).get(d)
        if imported is not None:
            return self._read_imported_dir(d, ddl, imported)
        return self._read_layout([d], ddl, self._parse_dir_seq(d))

    def _read_layout(
        self,
        dirs: list[str],
        ddl: str,
        seq: int,
        seq_tag: str | None = None,
    ) -> DataFrame:
        """Managed ``dirs`` (one, or several unpartitioned) written under
        the layout of write sequence ``seq``, with an EXPLICIT schema: a
        zero-row partitioned write leaves no file to infer one from, and
        files written before an ADD COLUMN null-fill it. Columns read
        their physical name at ``seq`` (the Iceberg field-id lookup,
        emulated); ``seq_tag`` (SQL, ``_seq_tag``) becomes ``_seq``. The
        projection also drops partition columns of an older spec that
        Spark discovers from the dir layout."""
        hist = [
            (self._physical_name(f.name, seq), f)
            for f in self.declared_schema(ddl)
        ]
        if any(h != f.name for h, f in hist):
            ddl = ", ".join(f"{h} {f.dataType.simpleString()}" for h, f in hist)
        cols = [
            _q(h) if h == f.name else f"{_q(h)} AS {_q(f.name)}"
            for h, f in hist
        ]
        if seq_tag is not None:
            cols.append(f"{seq_tag} AS _seq")
        df = _union_all(
            [r.selectExpr(*cols) for r in self._relations(ddl, dirs)]
        )
        return self._apply_initial_defaults(df, seq)

    def _relations(self, ddl: str, dirs: list[str]) -> list[DataFrame]:
        """``dirs`` read with schema ``ddl``, one relation per run of at
        most ``parallelPartitionDiscovery.threshold`` dirs: past it Spark
        lists a relation's files with a job at every plan (over a second
        per scan of a long-history table). One dir is its own
        ``basePath`` so identity-partition columns round-trip."""
        conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        n = int(self.spark.conf.get(conf))
        reader = self.spark.read.schema(ddl)
        if len(dirs) == 1:
            reader = reader.option("basePath", dirs[0])
        return [reader.parquet(*dirs[i : i + n]) for i in range(0, len(dirs), n)]

    def _physical_name(self, name: str, seq: int) -> str:
        """The name column ``name`` had when data at commit sequence
        ``seq`` was written: the rename log walked newest->oldest."""
        for r in reversed(self._meta.get("renames", [])):
            if r["to"] == name and seq <= r["seq"]:
                name = r["from"]
        return name

    def _apply_initial_defaults(self, df: DataFrame, seq: int) -> DataFrame:
        """V3 initial-defaults: data whose commit sequence predates the
        ADD COLUMN ... DEFAULT reads the default literal instead of the
        null-fill; post-ALTER data stores real values (NULLs included)."""
        for name, entry in self._meta.get("column_defaults", {}).items():
            if seq <= entry["seq"] and name in df.columns:
                df = df.withColumn(
                    name,
                    F.expr(f"CAST({entry['sql']} AS {entry['dtype']})"),
                )
        return df

    def _read_imported_dir(self, d: str, ddl: str, entry: dict) -> DataFrame:
        """Read a dir registered by ``add_files``: external parquet with
        no ``_row_id`` column. Row ids are computed V3-lazily — the
        file's recorded ``first_row_id`` plus the row's position in the
        file (``_metadata.row_index``, deterministic for parquet) — via a
        literal file->base map (bounded by file count, pure expression,
        no join). Columns the files lack (post-import ADD COLUMNs)
        null-fill; initial-defaults apply via the recorded import seq."""
        fields = list(self.declared_schema(ddl))
        phys = self.spark.read.parquet(d)
        base_map = F.create_map(
            *[
                x
                for fp, b in sorted(entry["files"].items())
                for x in (F.lit(fp), F.lit(int(b)))
            ]
        )
        seq = int(entry["seq"])
        cols = []
        for f in fields:  # keep the exact ddl column order
            # the files store the name each column had at import time
            h = self._physical_name(f.name, seq)
            if f.name == _ROW_ID:
                cols.append(
                    (
                        F.element_at(base_map, F.col("_metadata.file_path"))
                        + F.col("_metadata.row_index")
                    ).alias(_ROW_ID)
                )
            elif h in phys.columns:
                cols.append(F.col(h).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        return self._apply_initial_defaults(phys.select(*cols), seq)

    def _delete_scope_seq(self, d: str, snap: Snapshot) -> int:
        """The commit sequence deletes are scoped against for data dir
        ``d`` read through ``snap``: ``snap``'s override for ``d`` (a
        cherry-picked dir adopts the PUBLISH snapshot's seq, as Iceberg
        gives picked files the new sequence number; the staging branch
        keeps the staged seq), else for an ``add_files`` dir its import
        commit's seq (Iceberg gives added files the add commit's sequence
        number, so an earlier equality delete never hits them), else the
        seq in the dir name. Layout (schema, renames, spec) always follows
        the dir-name seq: files keep the layout they were WRITTEN with."""
        imported = self._meta.get("imported_dirs", {}).get(d, {})
        seq = imported.get("seq", self._parse_dir_seq(d))
        return int(snap.seq_overrides.get(d, seq))

    def _read_data(
        self,
        snap: Snapshot,
        dirs: list[str],
        partition_filter: str | None = None,
        extra: Callable[[str], list[Column]] | None = None,
    ) -> DataFrame | None:
        """``snap``'s data ``dirs``, each row tagged ``_seq`` (its
        ``_delete_scope_seq``), in relations per read layout, not per
        commit. Unpartitioned managed dirs sharing rename epoch,
        initial-defaults epoch, spec and seq override are one
        ``_read_layout`` read (``_relations``). Partitioned and
        ``add_files`` dirs are read one by one: Spark refuses one relation
        over several partitioned roots (CONFLICTING_DIRECTORY_STRUCTURES).

        ``partition_filter`` applies per read where the read's spec
        encodes its transform columns (``_partition_filter_applies``), at
        the scan so Spark prunes directories before listing files.
        ``extra(d)`` adds columns set by the spec of a read's first dir."""
        ddl = self._data_read_schema()
        scope = self._pf_scope(partition_filter) if partition_filter else None
        imported = self._meta.get("imported_dirs", {})
        defaults = self._meta.get("column_defaults", {})
        names = self.declared_schema().fieldNames()
        reads: dict[str | tuple, list[str]] = {}
        for d in dirs:  # keyed in first-seen order: row order follows dirs
            seq = self._parse_dir_seq(d)
            spec = self._spec_for_seq(seq)
            if d in imported or spec["partition_by"]:
                reads[d] = [d]
                continue
            key = (
                tuple(self._physical_name(n, seq) for n in names),
                tuple(n for n, e in defaults.items() if seq <= e["seq"]),
                spec["spec_id"],
                snap.seq_overrides.get(d),  # None: the dir-name seq
            )
            reads.setdefault(key, []).append(d)
        frames = []
        for key, group in reads.items():
            d = group[0]
            if isinstance(key, str):
                df = self._read_one_dir(d, ddl).withColumn(
                    "_seq", F.lit(self._delete_scope_seq(d, snap))
                )
            else:
                df = self._read_layout(
                    group, ddl, self._parse_dir_seq(d), _seq_tag(key[-1])
                )
            if extra is not None:
                df = df.select("*", *extra(d))
            if partition_filter and self._partition_filter_applies(d, scope):
                df = df.filter(partition_filter)
            frames.append(df)
        return _union_all(frames)

    def _read_eq_deletes(self, cols: list[str], entries: list[dict]) -> DataFrame:
        """Equality-delete ``entries`` keyed on ``cols`` (``_relations``):
        ``_eq_<col>`` typed as declared, and ``_eq_seq``, each entry's seq
        (read per file when the dir name encodes it, as it does for every
        entry this engine writes)."""
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in self._eq_key_fields(cols)
        )
        by_key: dict[int | None, list[str]] = {}
        for e in entries:
            seq = int(e["seq"])
            key = None if seq == self._parse_dir_seq(e["dir"]) else seq
            by_key.setdefault(key, []).append(e["dir"])
        return _union_all(
            [
                r.selectExpr(
                    *[f"{_q(c)} AS {_q('_eq_' + c)}" for c in cols],
                    f"{_seq_tag(key)} AS _eq_seq",
                )
                for key, eq_dirs in by_key.items()
                for r in self._relations(ddl, eq_dirs)
            ]
        )

    def _eq_key_fields(self, cols: list[str]) -> list[StructField]:
        """The declared fields of equality-key ``cols``: the one typing
        rule of ``-eq`` delete files, applied when they are written
        (``_change_rows``) and when they are read."""
        declared = self.declared_schema()
        return [declared[c] for c in cols]

    def _read_pos_deletes(self, dirs: list[str]) -> DataFrame:
        """Positional / ``-dv`` delete ``dirs`` (``_relations``):
        ``_row_id`` and ``_dseq``, the seq of each file's dir name
        (``10**9``, newer than any data, when it encodes none)."""
        dseq = f"{_seq_tag(None, default=10**9)} AS _dseq"
        return _union_all(
            [
                r.selectExpr(_ROW_ID, dseq)
                for r in self._relations(f"{_ROW_ID} long", dirs)
            ]
        )

    @staticmethod
    def _eq_sets(entries: list[dict]) -> dict[tuple[str, ...], list[dict]]:
        """Equality-delete entries grouped by their key-column set."""
        sets: dict[tuple[str, ...], list[dict]] = {}
        for e in entries:
            sets.setdefault(tuple(e["cols"]), []).append(e)
        return sets

    def _eq_delete_joins(self, snap: Snapshot) -> list[tuple[DataFrame, Column]]:
        """One (broadcast keys, condition) per equality-key-column set of
        ``snap``: a data row (carrying ``_seq``) matches when its keys
        equal a deleted key committed at a later seq."""
        return [
            (
                F.broadcast(self._read_eq_deletes(list(cols), entries)),
                F.expr(f"{_keys_match(cols)} AND _seq < _eq_seq"),
            )
            for cols, entries in self._eq_sets(snap.eq_deletes).items()
        ]

    def _apply_deletes(self, snap: Snapshot, data: DataFrame) -> DataFrame:
        """The MoR merge of ``snap``'s deletes into ``data`` (rows carry
        ``_seq``): one broadcast anti-join per equality-key-column set
        (keys equal, ``_seq < _eq_seq``) and one over all positional /
        ``-dv`` dirs (``_row_id`` equal, ``_seq < _dseq``), however many
        delete commits there are. Sequence scoping is Iceberg's: an
        equality delete never hits later rows, and a V3 UPDATE's row that
        keeps its ``_row_id`` survives its own commit's tombstone. Without
        carried ids the scoped positional join equals a plain one: ids are
        never reused, so a tombstone names only older rows (cherry-pick
        publishes data dirs only; a rebased delete names base rows). The
        delete side is broadcast; the data side never shuffles."""
        for keys, cond in self._eq_delete_joins(snap):
            data = data.join(keys, cond, "left_anti")
        if snap.delete_dirs:
            dels = self._read_pos_deletes(snap.delete_dirs).withColumnRenamed(
                _ROW_ID, "_del_row_id"
            )
            cond = F.expr(f"{_ROW_ID} = _del_row_id AND _seq < _dseq")
            data = data.join(F.broadcast(dels), cond, "left_anti")
        return data

    def _scan_raw(
        self,
        snap: Snapshot | None = None,
        partition_filter: str | None = None,
        data_filter: str | None = None,
    ) -> DataFrame:
        """Merged scan WITH _row_id, projected to the table's CURRENT
        declared schema (added columns null-fill on old files, dropped
        ones stop projecting). One path for every table: stats pruning,
        ``_read_data``, ``_apply_deletes``.

        ``partition_filter`` may reference transform-derived directory
        columns (e.g. ``ts_day >= '2024-01-01'``); it reaches the file
        index as partition pruning. ``data_filter`` drops data dirs whose
        recorded min/max exclude it (``last_scan_pruning``; safe under
        every delete kind, deletes only remove rows), then applies
        row-level as the residual."""
        snap = snap or self.current_snapshot()
        dirs = snap.data_dirs
        self.last_scan_pruning = None
        if data_filter:
            dirs = self._prune_dirs_by_stats(dirs, data_filter)
            self.last_scan_pruning = {
                "candidate_dirs": len(snap.data_dirs),
                "read_dirs": len(dirs),
            }
        data = self._read_data(snap, dirs, partition_filter)
        if data is None:
            return self.spark.createDataFrame(
                [], self.schema_ddl + f", {_ROW_ID} long"
            )
        if data_filter:
            data = data.filter(data_filter)
        data = self._apply_deletes(snap, data)
        names = self.declared_schema().fieldNames()
        return data.selectExpr(*[_q(n) for n in names], _ROW_ID)

    def scan(
        self,
        snapshot_id: int | str | None = None,
        with_row_lineage: bool = False,
        partition_filter: str | None = None,
        data_filter: str | None = None,
        as_of: str | None = None,
    ) -> DataFrame:
        """SELECT * — full MoR-merged read (create_demo_table.py:137).

        ``snapshot_id`` gives time travel (Iceberg VERSION AS OF) — an int
        snapshot id or a tag name.
        ``as_of`` gives Iceberg's other time-travel form (TIMESTAMP AS
        OF): the latest snapshot whose commit timestamp is <= the given
        ISO-8601 UTC instant (snapshot timestamps compare lexically).
        ``with_row_lineage`` exposes the stable ``_row_id`` column — the V3
        row-lineage feature the whole upgrade exists for (README.md:43-45);
        refused on V2 tables exactly as Iceberg gates it on format-version.
        ``partition_filter`` prunes transform-partitioned directories
        (hidden partitioning) before any file is read.
        ``data_filter`` additionally consults the per-dir min/max stats
        the write's footer pass recorded (``_record_new_dir``, Iceberg's
        manifest stats): data dirs whose range provably excludes a
        ``col <op> literal`` conjunct (``_PRUNE_PRED``) on a numeric
        column are never listed or read. Bounds and literals compare
        exactly; a column a dir has no bounds for (a NaN, a footer
        without min/max) never prunes that dir. The predicate still
        applies row-level as the residual. ``last_scan_pruning`` reports
        candidate vs read dirs.
        """
        snap = None
        if as_of is not None:
            if snapshot_id is not None:
                raise TableError("pass snapshot_id or as_of, not both")
            snapshot_id = self._snapshot_at(as_of).id
        if isinstance(snapshot_id, str):  # tag/branch name -> snapshot
            refs = {
                **self._meta.get("refs", {}),
                **self._meta.get("branches", {}),
            }
            if snapshot_id not in refs:
                raise TableError(f"no ref {snapshot_id!r}")
            snapshot_id = refs[snapshot_id]
        if snapshot_id is not None:
            for s in self.snapshots():
                if s.id == snapshot_id:
                    snap = s
                    break
            if snap is None:
                raise TableError(f"no snapshot {snapshot_id}")
        if with_row_lineage:
            if self.format_version < 3:
                raise TableError(
                    "row lineage requires format-version 3 "
                    f"(table is V{self.format_version}); upgrade first"
                )
            return self._scan_raw(snap, partition_filter, data_filter)
        return self._scan_raw(snap, partition_filter, data_filter).drop(
            _ROW_ID
        )

    # ------------------------------------------------------ refs / rollback

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Iceberg `ALTER TABLE ... CREATE TAG` analog: a named immutable
        ref pinning a snapshot (release audits, reproducible reads).
        Tagged snapshots survive expire_snapshots."""
        snapshot_id = snapshot_id or self._meta["current_snapshot_id"]
        if not any(s.id == snapshot_id for s in self.snapshots()):
            raise TableError(f"no snapshot {snapshot_id}")
        refs = self._meta.setdefault("refs", {})
        if name in refs:
            raise TableError(f"tag {name!r} already exists")
        refs[name] = snapshot_id
        self._write_meta()

    def drop_tag(self, name: str) -> None:
        refs = self._meta.get("refs", {})
        if name not in refs:
            raise TableError(f"no tag {name!r}")
        del refs[name]
        self._write_meta()

    def tags(self) -> dict[str, int]:
        return dict(self._meta.get("refs", {}))

    def create_branch(
        self, name: str, snapshot_id: int | None = None
    ) -> None:
        """Iceberg branch ref: a WRITABLE named head. The write-audit-
        publish pattern: stage commits on the branch (DML ``branch=``
        kwarg), audit them via ``scan(snapshot_id=<branch>)``, then
        ``fast_forward`` to publish."""
        snapshot_id = snapshot_id or self._meta["current_snapshot_id"]
        if not any(s.id == snapshot_id for s in self.snapshots()):
            raise TableError(f"no snapshot {snapshot_id}")
        branches = self._meta.setdefault("branches", {})
        if name in branches or name in self._meta.get("refs", {}):
            raise TableError(f"ref {name!r} already exists")
        branches[name] = snapshot_id
        self._write_meta()

    def drop_branch(self, name: str) -> None:
        branches = self._meta.get("branches", {})
        if name not in branches:
            raise TableError(f"no branch {name!r}")
        del branches[name]
        self._write_meta()

    def branches(self) -> dict[str, int]:
        return dict(self._meta.get("branches", {}))

    def fast_forward(self, branch: str) -> None:
        """Publish a branch: point the table's current snapshot at the
        branch head (Iceberg `fast_forward(main, branch)`) — the publish
        step of write-audit-publish. Metadata-only, nothing rewritten."""
        branches = self._meta.get("branches", {})
        if branch not in branches:
            raise TableError(f"no branch {branch!r}")
        self._meta["current_snapshot_id"] = branches[branch]
        self._write_meta()

    def rollback_to_snapshot(self, snapshot_id: int) -> Snapshot:
        """CALL system.rollback_to_snapshot analog: commit a NEW snapshot
        whose state is the old snapshot's (history is preserved — a
        rollback is itself an auditable commit, exactly like Iceberg).
        The rollback commit's parent is the TARGET, not the abandoned
        head: the rolled-back-away line must leave main's ancestry so
        TIMESTAMP AS OF / rollback_to_timestamp can never resolve back
        onto it (Iceberg ancestorsOf(current) semantics); the abandoned
        snapshots stay in the global list for VERSION AS OF and audit."""
        target = None
        for s in self.snapshots():
            if s.id == snapshot_id:
                target = s
                break
        if target is None:
            raise TableError(f"no snapshot {snapshot_id}")
        return self._commit(
            "rollback",
            list(target.data_dirs),
            list(target.delete_dirs),
            eq_deletes=target.eq_deletes,
            parent_id=target.id,
        )

    def rollback_to_timestamp(self, ts: str) -> Snapshot:
        """CALL system.rollback_to_timestamp analog: roll back to the
        latest MAIN-ancestry snapshot whose commit timestamp is <= the
        given ISO-8601 UTC instant (same resolution rule as TIMESTAMP AS
        OF reads, via the shared ``_snapshot_at``; space/'Z'/offset
        instants are canonicalized; unpublished branch staging commits
        are never eligible — rolling back must not publish them)."""
        return self.rollback_to_snapshot(self._snapshot_at(ts).id)

    def set_current_snapshot(self, snapshot_id: int) -> Snapshot:
        """CALL system.set_current_snapshot analog: point the table at
        ANY existing snapshot — unlike rollback it may also move FORWARD
        (e.g. undo a rollback). Committed as an auditable 'rollback' op
        (same non-linear visibility semantics: changes() refuses ranges
        crossing it)."""
        return self.rollback_to_snapshot(snapshot_id)

    def cherrypick_snapshot(self, snapshot_id: int) -> Snapshot:
        """CALL system.cherrypick_snapshot analog: apply one snapshot's
        APPEND delta on top of the current head (Iceberg limits
        cherry-pick to appends / dynamic overwrites; this models the
        append case — the WAP idiom of publishing a single staged commit
        out of order). Refuses non-append sources: their deltas are
        entangled with the visibility state they were committed against.
        """
        snaps = self.snapshots()
        by_id = {s.id: s for s in snaps}
        target = by_id.get(snapshot_id)
        if target is None:
            raise TableError(f"no snapshot {snapshot_id}")
        if target.operation != "append":
            raise TableError(
                f"cherrypick_snapshot: snapshot {snapshot_id} is "
                f"{target.operation!r} — only append snapshots can be "
                "cherry-picked"
            )
        # The append's OWN dirs: recorded at commit time (added_dirs,
        # diffed against the actual parent). The legacy fallback — dirs
        # no earlier-listed snapshot carries — breaks once
        # expire_snapshots compacts the earlier history away (the
        # "earlier" set empties and the whole inherited dir list is
        # mistaken for the delta; caught by the ancestry property test),
        # so it exists only for pre-field metadata.
        if target.added_dirs is not None:
            new_data = list(target.added_dirs)
        else:
            idx = next(i for i, s in enumerate(snaps) if s.id == snapshot_id)
            earlier = {d for s in snaps[:idx] for d in s.data_dirs}
            new_data = [d for d in target.data_dirs if d not in earlier]
        cur = self.current_snapshot()
        add = [d for d in new_data if d not in cur.data_dirs]
        if not add:
            raise TableError(
                f"cherrypick_snapshot: snapshot {snapshot_id}'s data is "
                "already present in the current snapshot"
            )
        # Iceberg assigns cherry-picked files the NEW snapshot's sequence
        # number: eq/pos deletes committed on main between staging and
        # publish must NOT mask the picked rows. The adopted dirs keep
        # their staged snap-N names (metadata-only publish, no rewrite),
        # so record a per-dir seq override ON THE PUBLISH SNAPSHOT (it
        # inherits to descendants at commit); the staging branch's own
        # snapshots keep the staged seq, so deletes committed on the
        # branch after staging still apply when reading the branch.
        publish_seq = _next_snapshot_id(self._meta)
        return self._commit(
            "append",
            list(cur.data_dirs) + add,
            list(cur.delete_dirs),
            eq_deletes=cur.eq_deletes,
            seq_overrides={d: publish_seq for d in add},
        )

    def files(self) -> DataFrame:
        """Iceberg `table.files` metadata-table analog: every live data /
        delete file of the current snapshot with size and record count."""
        snap = self.current_snapshot()
        rows = []
        eq_dirs = [e["dir"] for e in snap.eq_deletes]
        for kind, dirs in (
            ("data", snap.data_dirs),
            ("deletes", snap.delete_dirs),
            ("eq-deletes", eq_dirs),
        ):
            for d in dirs:
                for path, _ in _parquet_files(d):
                    rows.append((kind, path, os.path.getsize(path)))
        return self.spark.createDataFrame(
            rows or [], "content string, file_path string, file_size_bytes long"
        )

    def position_deletes(self) -> DataFrame:
        """Iceberg `table.position_deletes` metadata-table analog: every
        live positional-delete entry of the current snapshot — the row ids
        masked at read time, tagged with the commit that wrote them. A
        metadata read of the delete side only (never touches data files);
        its row count == rows the MoR anti-join will drop, which is how
        compaction tooling decides when delete-file debt is worth
        rewriting (delete-file-threshold)."""
        out = _union_all(
            [
                self._read_one_dir(d, f"{_ROW_ID} long").select(
                    F.lit(d).alias("delete_dir"),
                    F.col(_ROW_ID).alias("deleted_row_id"),
                )
                for d in self.current_snapshot().delete_dirs
            ]
        )
        if out is None:
            return self.spark.createDataFrame(
                [], "delete_dir string, deleted_row_id long"
            )
        return out

    def metadata_log_entries(self) -> DataFrame:
        """Iceberg `table.metadata_log_entries` metadata-table analog:
        one row per retained metadata-file version (the trail _write_meta
        leaves under metadata/), oldest first — file name, the snapshot
        that was current when it was written, and how many snapshots it
        recorded. Reading the log is pure metadata IO: O(retained
        versions) small JSON files, never a data file."""
        import glob as _glob

        rows = []
        # numeric sort: 7-digit versions misorder lexically past v999999
        for path in sorted(
            _glob.glob(os.path.join(self.root, "metadata", "v*.metadata.json")),
            key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
        ):
            with open(path) as f:
                meta = json.load(f)
            m = re.fullmatch(r"v(\d+)\.metadata\.json", os.path.basename(path))
            rows.append(
                (
                    int(m.group(1)),
                    os.path.basename(path),
                    meta.get("current_snapshot_id"),
                    len(meta.get("snapshots", [])),
                )
            )
        return self.spark.createDataFrame(
            rows or [],
            "metadata_version int, file string, latest_snapshot_id int, "
            "n_snapshots int",
        )

    def at_metadata_version(self, version: int) -> "LocalTable":
        """Metadata-file time travel (Iceberg: instantiate a table AT a
        retained vN.metadata.json — the recovery move when the current
        metadata is bad, and the strongest form of time travel: it
        restores snapshot HISTORY, refs, schema interpretation, and
        properties as of that write, not just one snapshot's dir list).
        Returns a READ-ONLY handle: its metadata lives only in memory,
        so any commit through it would fork the trail. Mutators are
        refused AT ENTRY — refusing only at metadata-write time (the
        original design) let a mutation's physical side effects land
        first: the clone's stale metadata re-derives an already-used
        snapshot id, so its insert OVERWRITES the live table's
        data/snap-N dir before the late refusal (round-5 review repro
        — the live row was corrupted on disk while counts stayed
        equal). The per-name refusals below give the clearest error at
        the public surface; the structural guard is clone._read_only,
        checked at the top of _commit / _write_meta / _write_data_dir,
        so a mutator added later and never appended to this list still
        fails BEFORE any filesystem effect (round-5 advisor)."""
        path = self._metadata_version_path(version)
        if not os.path.exists(path):
            raise TableError(
                f"metadata version {version} is not retained "
                "(write.metadata.previous-versions-max)"
            )
        clone = LocalTable(self.spark, self.root)
        with open(path) as f:
            clone._meta = json.load(f)
        clone._read_only = True

        def _refuse(*_args, **_kwargs) -> None:
            raise TableError(
                "table handle opened at a historical metadata version "
                "is read-only"
            )

        for mutator in (
            "insert",
            "insert_values",
            "insert_overwrite",
            "merge_into",
            "delete_where",
            "delete_by_keys",
            "update_set",
            "rewrite_data_files",
            "consolidate_deletes",
            "expire_snapshots",
            "remove_orphan_files",
            "add_files",
            "set_properties",
            "add_column",
            "drop_column",
            "rename_column",
            "widen_column",
            "evolve_partition_spec",
            "create_branch",
            "drop_branch",
            "create_tag",
            "drop_tag",
            "rollback_to_snapshot",
            "rollback_to_timestamp",
            "set_current_snapshot",
            "fast_forward",
            "cherrypick_snapshot",
        ):
            setattr(clone, mutator, _refuse)
        clone._write_meta = _refuse  # type: ignore[method-assign]
        return clone

    def all_data_files(self) -> DataFrame:
        """Iceberg `table.all_data_files` / `all_delete_files` analog in
        one table: every data / delete dir referenced by ANY retained
        snapshot (not just the current one — the difference is what
        expire_snapshots/remove_orphan_files would reclaim), with the
        first referencing snapshot and whether the CURRENT snapshot still
        reads it. Dir-level like files(): a pure metadata walk over
        snapshot dir lists, no data IO."""
        cur = self.current_snapshot()
        live = {
            "data": set(cur.data_dirs),
            "deletes": set(cur.delete_dirs),
            "eq-deletes": {e["dir"] for e in cur.eq_deletes},
        }
        first_ref: dict[tuple[str, str], int] = {}
        for s in self.snapshots():
            for kind, dirs in (
                ("data", s.data_dirs),
                ("deletes", s.delete_dirs),
                ("eq-deletes", [e["dir"] for e in s.eq_deletes]),
            ):
                for d in dirs:
                    first_ref.setdefault((kind, d), s.id)
        rows = [
            (kind, os.path.basename(d), snap_id, d in live[kind])
            for (kind, d), snap_id in sorted(first_ref.items())
        ]
        return self.spark.createDataFrame(
            rows or [],
            "content string, dir string, first_snapshot_id int, "
            "is_live boolean",
        )

    def partitions(self) -> DataFrame:
        """Iceberg `table.partitions` metadata-table analog: per-partition
        live record count plus data-file count and bytes.

        Partition values come from the directory layout (`k=v` path
        segments — including hidden-partitioning transform columns), so
        file stats reflect the physical clustering; record_count is the
        MoR-merged live row count, matching what a scan returns. File
        stats are metadata-only (a directory walk, no data read); the
        record counts are one groupBy over the merged scan.
        """
        if len(self.partition_spec_log) > 1:
            return self._partitions_multi_spec()
        spec = self._partition_spec()
        names = [name for name, _ in spec]
        snap = self.current_snapshot()
        stats: dict[tuple, list[int]] = {}
        for d in snap.data_dirs:
            for path, vals in _parquet_files(d):
                key = tuple(vals.get(n, "") for n in names)
                s = stats.setdefault(key, [0, 0])
                s[0] += 1
                s[1] += os.path.getsize(path)
        file_rows = [(*k, n, b) for k, (n, b) in sorted(stats.items())]
        cols = "file_count int, total_data_file_size_bytes long"
        if not names:
            n_files, n_bytes = file_rows[0] if file_rows else (0, 0)
            return self.spark.createDataFrame(
                [(self.scan().count(), n_files, n_bytes)],
                "record_count long, " + cols,
            )
        files_df = self.spark.createDataFrame(
            file_rows or [],
            ", ".join(f"{n} string" for n in names) + ", " + cols,
        )
        df = self.scan()
        for name, expr in spec:
            if expr is not None:
                df = df.withColumn(name, expr)
        counts = df.groupBy(
            *[F.col(n).cast("string").alias(n) for n in names]
        ).agg(F.count(F.lit(1)).alias("record_count"))
        # full outer: a partition can be all-deleted (files but 0 live rows)
        return (
            counts.join(files_df, on=names, how="full_outer")
            .na.fill({"record_count": 0, "file_count": 0})
            .orderBy(*names)
        )

    def _partitions_multi_spec(self) -> DataFrame:
        """``partitions`` for a table with partition evolution (Iceberg
        reports per-partition rows WITH their spec_id): each dir is
        grouped under ITS OWN spec's dir columns — keying old-layout
        files on the current spec's names would lump them into one blank
        phantom partition. Output columns: spec_id + the union of every
        historical spec's dir columns ('' where a spec doesn't encode
        one), live record_count, file_count, bytes. Record counts apply
        the SAME MoR merge as ``scan`` (equality deletes and, under V3
        row lineage, commit-seq-scoped positional tombstones): spec id
        and partition values ride through ``_read_data`` as extra
        columns, constant per read, into the shared ``_apply_deletes``."""
        snap = self.current_snapshot()
        union_names: list[str] = []
        for entry in self.partition_spec_log:
            for n, _c, _d, _s in self._spec_names(entry["partition_by"]):
                if n not in union_names:
                    union_names.append(n)
        keys = ["spec_id", *union_names]
        stats: dict[tuple, list[int]] = {}
        for d in snap.data_dirs:
            spec_id = self._spec_for_seq(self._parse_dir_seq(d))["spec_id"]
            for path, vals in _parquet_files(d):
                key = (spec_id, *(vals.get(n, "") for n in union_names))
                s = stats.setdefault(key, [0, 0])
                s[0] += 1
                s[1] += os.path.getsize(path)

        def spec_cols(d: str) -> list[Column]:
            spec = self._spec_for_seq(self._parse_dir_seq(d))
            mine = {n for n, _c, _d, _s in self._spec_names(spec["partition_by"])}
            pv = [
                F.coalesce(F.col(n).cast("string"), F.lit(""))
                if n in mine
                else F.lit("")
                for n in union_names
            ]
            return [F.lit(spec["spec_id"]).alias("_spec_id")] + [
                c.alias(f"_pv{i}") for i, c in enumerate(pv)
            ]

        file_rows = [(*k, n, b) for k, (n, b) in sorted(stats.items())]
        files_df = self.spark.createDataFrame(
            file_rows or [],
            "spec_id int, "
            + ", ".join(f"{n} string" for n in union_names)
            + ", file_count int, total_data_file_size_bytes long",
        )
        counts_schema = (
            "spec_id int, "
            + ", ".join(f"{n} string" for n in union_names)
            + ", record_count long"
        )
        data = self._read_data(snap, snap.data_dirs, extra=spec_cols)
        if data is None:
            counts = self.spark.createDataFrame([], counts_schema)
        else:
            data = self._apply_deletes(snap, data)
            counts = data.groupBy(
                F.col("_spec_id").alias("spec_id"),
                *[
                    F.col(f"_pv{i}").alias(n)
                    for i, n in enumerate(union_names)
                ],
            ).agg(F.count(F.lit(1)).alias("record_count"))
        return (
            counts.join(files_df, on=keys, how="full_outer")
            .na.fill(
                {
                    "record_count": 0,
                    "file_count": 0,
                    "total_data_file_size_bytes": 0,
                }
            )
            .orderBy(*keys)
        )

    def count(self) -> int:
        return self.scan().count()

    def describe(self) -> DataFrame:
        """DESCRIBE TABLE (reference verify_in_databricks.py:66-75)."""
        fields = [
            (f.name, f.dataType.simpleString(), "")
            for f in self.declared_schema()
        ]
        for c in self.partition_by:
            fields.append((c, "", "partition"))
        return self.spark.createDataFrame(
            fields, "col_name string, data_type string, comment string"
        )

    def changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental/CDC read: logical row changes between two snapshots
        (Iceberg incremental scan / changelog analog).

        Emits the table columns plus ``_change_type`` ('insert'|'delete')
        and ``_commit_snapshot_id``. Compactions ('replace') are
        layout-only and correctly produce no changes. Deleted rows are
        recovered by joining new delete ledgers against the data visible
        at the preceding snapshot — O(changed rows), not O(table).

        The walk follows ``to_snapshot_id``'s parent-id ANCESTRY, not the
        global snapshot list: branch-staged (WAP) commits interleaved in
        the list are invisible until published (fast_forward adopts the
        staged chain into the ancestry; cherrypick re-commits the delta
        on main), so a changelog over a linear main history never sees —
        or misattributes rows to — an unpublished staging commit.
        """
        by_id = {s.id: s for s in self.snapshots()}
        if from_snapshot_id not in by_id:
            raise TableError(f"no snapshot {from_snapshot_id}")
        to_snapshot_id = to_snapshot_id or self._meta["current_snapshot_id"]
        if to_snapshot_id not in by_id:
            raise TableError(f"no snapshot {to_snapshot_id}")
        chain = self.ancestry(to_snapshot_id)
        if not any(s.id == from_snapshot_id for s in chain):
            raise TableError(
                f"changes(): snapshot {from_snapshot_id} is not an "
                f"ancestor of {to_snapshot_id} — no linear delta exists"
            )
        declared = self.declared_schema()
        out: DataFrame | None = None
        prev = None
        # ids strictly increase along the parent chain (allocation is a
        # global max+1), so the numeric guard selects exactly the
        # ancestors after `from`.
        for s in chain:
            if prev is not None and s.id > from_snapshot_id:
                step: DataFrame | None = None
                if s.operation == "snapshot":
                    # the zero-copy adopt commit (CALL system.snapshot):
                    # its delta is the table's INITIAL LOAD — the rows
                    # VISIBLE at the adopt snapshot (MoR-merged), not the
                    # raw adopted dirs, which still contain rows the
                    # SOURCE had already deleted before the snapshot.
                    # Matches the changelog-view default of reading the
                    # first data commit as inserts.
                    if prev.data_dirs:
                        raise TableError(
                            f"changes(): snapshot-adopt commit {s.id} on "
                            "a non-empty parent has no incremental delta"
                        )
                    step = self._scan_raw(s).withColumn(
                        "_change_type", F.lit("insert")
                    )
                elif s.operation in (
                    "append", "update", "merge", "delete", "overwrite"
                ):
                    new_data = [d for d in s.data_dirs if d not in prev.data_dirs]
                    new_dels = [
                        d for d in s.delete_dirs if d not in prev.delete_dirs
                    ]
                    dropped = [
                        d for d in prev.data_dirs if d not in s.data_dirs
                    ]
                    if new_data:
                        step = self._read_data(s, new_data).withColumn(
                            "_change_type", F.lit("insert")
                        )
                    if dropped:
                        # Unpartitioned INSERT OVERWRITE commits a fresh
                        # dir list (no delete ledgers), so the delete side
                        # is every row VISIBLE at prev — prev's scan, not
                        # a dir diff. Only the full-replace shape drops
                        # dirs; a partial drop has no defined delta here.
                        if set(dropped) != set(prev.data_dirs):
                            raise TableError(
                                f"changes(): snapshot {s.id} "
                                f"({s.operation}) drops a strict subset "
                                "of data dirs — no incremental delta"
                            )
                        dels = self._scan_raw(prev).withColumn(
                            "_change_type", F.lit("delete")
                        )
                        step = dels if step is None else step.unionByName(
                            dels, allowMissingColumns=True
                        )
                    elif new_dels:
                        dels = (
                            self._scan_raw(prev)
                            .join(
                                F.broadcast(self._read_pos_deletes(new_dels)),
                                _ROW_ID,
                            )
                            .withColumn("_change_type", F.lit("delete"))
                        )
                        step = dels if step is None else step.unionByName(
                            dels, allowMissingColumns=True
                        )
                    new_eq = [
                        e for e in s.eq_deletes if e not in prev.eq_deletes
                    ]
                    if new_eq:
                        # Equality deletes (delete_by_keys, the streaming
                        # CDC flavor) grow eq_deletes without touching
                        # dir lists. Every prev-visible row has a commit
                        # seq below this snapshot's, so the delta is
                        # simply prev's visible scan semi-joined with the
                        # new keys: one broadcast join per key-column set
                        # (O(deleted keys)); a row two sets both match is
                        # one change.
                        vis_prev = self._scan_raw(prev)
                        sets = self._eq_sets(new_eq)
                        eq_dels = _union_all(
                            [
                                vis_prev.join(
                                    F.broadcast(
                                        self._read_eq_deletes(list(cols), es)
                                    ),
                                    F.expr(_keys_match(cols)),
                                    "left_semi",
                                )
                                for cols, es in sets.items()
                            ]
                        )
                        if len(sets) > 1:
                            eq_dels = eq_dels.dropDuplicates([_ROW_ID])
                        eq_dels = eq_dels.withColumn(
                            "_change_type", F.lit("delete")
                        )
                        step = (
                            eq_dels
                            if step is None
                            else step.unionByName(
                                eq_dels, allowMissingColumns=True
                            )
                        )
                elif s.operation not in ("replace", "maintenance", "create"):
                    # 'rollback' (and any future non-linear op) has no
                    # incremental delta: visibility reverts wholesale.
                    # Refuse loudly so callers (e.g. incremental MV
                    # refresh) fall back to a full recompute instead of
                    # silently missing changes.
                    raise TableError(
                        f"changes(): operation {s.operation!r} (snapshot "
                        f"{s.id}) in range is not incrementally diffable"
                    )
                # 'replace' (compaction) and 'create': no logical change
                if step is not None:
                    step = step.select(
                        *[
                            F.col(f.name)
                            if f.name in step.columns
                            else F.lit(None).cast(f.dataType).alias(f.name)
                            for f in declared
                        ],
                        "_change_type",
                        F.lit(s.id).alias("_commit_snapshot_id"),
                    )
                    out = step if out is None else out.unionByName(step)
            prev = s
        if out is None:
            return self.spark.createDataFrame(
                [],
                self.schema_ddl
                + ", _change_type string, _commit_snapshot_id int",
            )
        return out

    # -------------------------------------------------------- maintenance

    def _zorder_value(self, cols: list[str], bits: int = 16) -> Column:
        """Z-order (Morton) key over 2+ numeric/timestamp columns: each
        column min-max-normalized to a ``bits``-bit integer, then bit-
        interleaved. Pure JVM expressions (window min/max + shifts/ors) —
        no UDF. Rows close in Z-value are close in EVERY dimension, so
        sorting by it clusters files for multi-column min/max pruning
        (the OPTIMIZE ZORDER pattern)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy()
        buckets = []
        for c in cols:
            v = F.col(c).cast("double")
            lo, hi = F.min(v).over(w), F.max(v).over(w)
            frac = F.when(hi == lo, F.lit(0.0)).otherwise(
                (v - lo) / (hi - lo)
            )
            buckets.append(
                F.least(
                    F.floor(frac * ((1 << bits) - 1)).cast("long"),
                    F.lit((1 << bits) - 1),
                )
            )
        z = F.lit(0).cast("long")
        for b in range(bits):
            for i, bucket in enumerate(buckets):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                        b * len(buckets) + i,
                    )
                )
        return z

    def rewrite_data_files(
        self,
        rewrite_all: bool = True,
        delete_file_threshold: int = 1,
        target_file_partitions: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> Snapshot:
        """CALL system.rewrite_data_files(...) — full compaction.

        Reference: internal/upgrade_table.py:124,129 with
        options map('rewrite-all','true','delete-file-threshold','1') —
        guarantees zero surviving delete files (README.md:26-29). The
        rewrite must be semantically invisible: scan() results are
        identical before/after (asserted in tests).

        At scale the rewrite re-partitions by the identity partition columns
        so file clustering survives compaction. ``sort_by`` gives linear
        sort-order compaction; ``zorder_by`` gives multi-dimensional
        Z-order clustering (range-partition + sort on the Morton key, so
        parquet min/max stats stay narrow on ALL the listed columns).
        """
        cur = self.current_snapshot()
        n_delete_files = len(cur.delete_dirs) + len(cur.eq_deletes)
        if not rewrite_all and n_delete_files < delete_file_threshold:
            return cur
        merged = self._scan_raw(cur)  # keeps _row_id: lineage survives
        if zorder_by:
            merged = merged.withColumn(
                "_zvalue", self._zorder_value(zorder_by)
            )
            n = (
                target_file_partitions
                or self.spark.sparkContext.defaultParallelism
            )
            merged = (
                merged.repartitionByRange(n, "_zvalue")
                .sortWithinPartitions("_zvalue")
                .drop("_zvalue")
            )
        elif target_file_partitions:
            merged = merged.repartition(target_file_partitions)
        if sort_by:
            # cluster within files so parquet min/max stats prune range
            # predicates on these columns (Iceberg sort-order compaction)
            merged = merged.sortWithinPartitions(*sort_by)
        path, _ = self._write_new_rows(
            merged,
            _next_snapshot_id(self._meta),
            keep_row_ids=True,
            max_records_per_file=max_records_per_file,
        )
        return self._commit("replace", [path], [])

    def consolidate_deletes(self) -> Snapshot:
        """V3 deletion-vector consolidation: merge ALL delete files into
        ONE compact tombstone set — the maintenance move Iceberg V3
        performs when it converts accumulated positional delete files
        into a single deletion vector per data file (the headline
        read-amplification fix of the V2->V3 upgrade,
        reference README.md:26-29 / internal/upgrade_table.py:124-129).

        Unlike ``rewrite_data_files`` this touches NO data files. With
        positional deletes only, cost is O(deleted rows): one distinct +
        one write, so it can run far more often than full compaction.
        Equality deletes (``delete_by_keys``, every keyed streaming
        batch) are folded in as well: the ``_row_id``s of the rows they
        hide join the tombstone set and the snapshot carries no equality
        delete — Iceberg's equality-to-position delete conversion. That
        reads the data's key columns once (a broadcast semi-join per
        key-column set) but still writes no data. Scan results must be
        identical before/after (asserted in tests and by the i17 oracle).

        Refuses under carried row ids: a carried UPDATE re-appends a
        tombstoned _row_id, and collapsing tombstones to one commit seq
        would wrongly hide the carried copy (Iceberg keeps per-file DVs
        for exactly this reason); those tables consolidate through
        ``rewrite_data_files`` instead."""
        if self._meta.get("carried_row_ids"):
            raise TableError(
                "consolidate_deletes on a row-lineage table would break "
                "seq-scoped tombstones; use rewrite_data_files"
            )
        cur = self.current_snapshot()
        if len(cur.delete_dirs) <= 1 and not cur.eq_deletes:
            return cur
        parts = []
        if cur.delete_dirs:
            parts.append(self._read_pos_deletes(cur.delete_dirs).select(_ROW_ID))
        data = self._read_data(cur, cur.data_dirs) if cur.eq_deletes else None
        if data is not None:
            parts += [
                data.join(keys, cond, "left_semi").select(_ROW_ID)
                for keys, cond in self._eq_delete_joins(cur)
            ]
        dv_dirs = []
        if parts:
            tombstones = _union_all(parts).distinct()
            # single file: the whole point is one tombstone blob per scan
            dv_dirs.append(
                self._write_delete_dir(
                    tombstones.coalesce(1), _next_snapshot_id(self._meta), "-dv"
                )
            )
        return self._commit(
            "maintenance", list(cur.data_dirs), dv_dirs, eq_deletes=[]
        )

    def _check_gc_enabled(self, procedure: str) -> None:
        """Iceberg refuses GC procedures when gc.enabled=false ("Cannot
        expire snapshots: GC is disabled"). The catalog's snapshot
        procedure sets it on the SOURCE table because the snapshot
        table's scans reference dirs under the source root — a source-
        side expiry would physically delete files another table still
        reads (round-5 advisor). snapshot.adopted-by names the
        dependents so the operator knows what to check before
        re-enabling."""
        if self.properties.get("gc.enabled", "true").lower() == "false":
            deps = self.properties.get("snapshot.adopted-by", "")
            hint = f" (snapshot tables depend on its files: {deps})" if deps else ""
            raise TableError(
                f"cannot {procedure}: gc.enabled=false on this table{hint}; "
                "set gc.enabled=true only after verifying no snapshot "
                "table still references its files"
            )

    def remove_orphan_files(
        self,
        dry_run: bool = False,
        older_than_seconds: float = 86400.0,
    ) -> list[str]:
        """CALL system.remove_orphan_files analog: delete data/delete dirs
        under the table root referenced by NO snapshot (crashed writes,
        aborted commits). Returns removed (or would-remove) paths.

        ``older_than_seconds`` (default 24 h, mirroring Iceberg's
        refusal to GC recent files): an unreferenced dir younger than
        the threshold is NOT an orphan — under optimistic concurrency a
        writer legitimately writes its data dir BEFORE taking the commit
        lock, so a zero-grace GC racing that window would delete a dir
        the imminent commit is about to publish (review finding). Pass 0
        explicitly for the single-writer immediate mode (the CLI/tests).
        The walk runs under the table lock (non-dry-run), so the
        snapshot list it checks cannot move mid-delete."""
        if dry_run:
            return self._orphan_walk(older_than_seconds)
        self._check_gc_enabled("remove_orphan_files")
        with _table_lock(self.root):
            # re-read under the lock: a commit that landed since this
            # handle loaded may reference dirs we would call orphans —
            # and the gc guard must be re-checked against the FRESH
            # properties (the snapshot procedure writes gc.enabled=false
            # through its own handle; a stale handle must not GC past it)
            try:
                self._meta = self._read_meta()
            except FileNotFoundError:
                pass
            self._check_gc_enabled("remove_orphan_files")
            orphans = self._orphan_walk(older_than_seconds)
            if self._prune_dir_stats(self._referenced_dirs(self.snapshots())):
                self._write_meta(locked=True)
            for d in orphans:
                shutil.rmtree(d)
                self._remove_reservation_marker(d)
            self._sweep_stale_markers(older_than_seconds)
        return orphans

    @staticmethod
    def _referenced_dirs(snaps: list[Snapshot]) -> set[str]:
        """Every data / delete / equality-delete dir ``snaps`` cite."""
        referenced: set[str] = set()
        for s in snaps:
            referenced.update(s.data_dirs)
            referenced.update(s.delete_dirs)
            referenced.update(e["dir"] for e in s.eq_deletes)
        return referenced

    def _prune_dir_stats(self, referenced: set[str]) -> bool:
        """Drop ``dir_stats`` entries for dirs no retained snapshot cites
        (expired or orphaned dirs are deleted; their stats would grow the
        metadata forever). Returns whether anything was dropped."""
        stats = self._meta.get("dir_stats", {})
        stale = [d for d in stats if d not in referenced]
        for d in stale:
            del stats[d]
        return bool(stale)

    def _sweep_stale_markers(self, older_than_seconds: float) -> None:
        """Remove ``.X.rsv`` reservation markers whose dir X is gone
        (expired or GC'd before marker cleanup existed). The sweep grace
        is floored at 24 h REGARDLESS of the caller's dir grace (review
        finding: a live writer's ``mode("overwrite")`` briefly deletes
        its reserved dir, so a dir-missing marker under an aggressive
        ``older_than_seconds=0`` could belong to an in-flight write —
        sweeping it would re-open the double-reservation the marker CAS
        exists to close; no write's delete-recreate window approaches
        24 h, and stale markers are only a bytes-sized leak meanwhile)."""
        import time as _time

        grace = max(older_than_seconds, 86400.0)
        now = _time.time()
        for kind in ("data", "deletes"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for f in os.listdir(base):
                m = re.fullmatch(r"\.(.+)\.rsv", f)
                if not m or os.path.isdir(os.path.join(base, m.group(1))):
                    continue
                full = os.path.join(base, f)
                try:
                    if now - os.path.getmtime(full) >= grace:
                        os.remove(full)
                except OSError:
                    pass

    def _orphan_walk(self, older_than_seconds: float) -> list[str]:
        import time as _time

        referenced = self._referenced_dirs(self.snapshots())
        now = _time.time()
        orphans = []
        for kind in ("data", "deletes"):
            base = os.path.join(self.root, kind)
            if not os.path.isdir(base):
                continue
            for d in sorted(os.listdir(base)):
                full = os.path.join(base, d)
                # reservation markers (.snap-N.rsv) and stray files are
                # not dirs; never rmtree them
                if d.startswith(".") or not os.path.isdir(full):
                    continue
                if full in referenced:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age >= older_than_seconds:
                    orphans.append(full)
        return orphans

    def expire_snapshots(
        self, older_than: datetime.datetime, retain_last: int = 1
    ) -> list[int]:
        """CALL system.expire_snapshots(older_than=>, retain_last=>).

        Reference: README.md:34-38. Removes expired snapshot entries and
        physically deletes files no surviving snapshot references.
        Returns the expired snapshot ids.

        Ordering (review finding): the metadata CAS runs BEFORE anything
        irreversible. Previously the dirs were rmtree'd first and the
        stale-handle refusal fired only at the final ``_write_meta`` —
        the refusal then left on-disk metadata still referencing
        already-deleted dirs (permanent corruption, not protection).
        Now the whole read-check-modify-write runs under the table lock,
        the new metadata publishes first, and the physical deletes run
        last: a crash between publish and delete leaves only orphan
        dirs, which ``remove_orphan_files`` reclaims.
        """
        self._check_gc_enabled("expire_snapshots")
        with _table_lock(self.root):
            return self._expire_snapshots_locked(older_than, retain_last)

    def _expire_snapshots_locked(
        self, older_than: datetime.datetime, retain_last: int
    ) -> list[int]:
        try:
            disk = self._read_meta()
        except FileNotFoundError:
            disk = None
        if disk is not None and int(disk.get("last_metadata_version", 0)) > int(
            self._meta.get("last_metadata_version", 0)
        ):
            raise CommitConflictError(
                f"metadata.json at {self.root} moved since this handle "
                f"loaded it; reload the table and retry expire_snapshots"
            )
        snaps = self.snapshots()
        keep_tail = {s.id for s in snaps[-retain_last:]}
        keep_tail.add(self._meta["current_snapshot_id"])
        # tagged snapshots and branch heads are pinned refs — never
        # expired (Iceberg ref retention semantics)
        keep_tail.update(self._meta.get("refs", {}).values())
        keep_tail.update(self._meta.get("branches", {}).values())
        cutoff = (
            older_than.astimezone(datetime.timezone.utc)
            if older_than.tzinfo
            else older_than.replace(tzinfo=datetime.timezone.utc)
        )
        expired = [
            s
            for s in snaps
            if s.id not in keep_tail
            and datetime.datetime.fromisoformat(s.timestamp) < cutoff
        ]
        expired_ids = {s.id for s in expired}
        survivors = [s for s in snaps if s.id not in expired_ids]
        referenced = self._referenced_dirs(survivors)
        to_delete: list[str] = []
        for s in expired:
            expired_dirs = (
                list(s.data_dirs)
                + list(s.delete_dirs)
                + [e["dir"] for e in s.eq_deletes]
            )
            own_root = os.path.abspath(self.root) + os.sep
            for d in expired_dirs:
                # Never physically delete a dir outside this table's
                # root: dirs adopted by the snapshot procedure live
                # under the SOURCE table's root — expiry here must only
                # unreference them, or it corrupts the source (round-5
                # review repro; Iceberg snapshot tables set
                # gc.enabled=false for exactly this hazard).
                if (
                    d not in referenced
                    and os.path.abspath(d).startswith(own_root)
                    and os.path.exists(d)
                    and d not in to_delete
                ):
                    to_delete.append(d)
        # Reparent survivors through expired nodes: a survivor whose
        # parent was expired hops to its nearest SURVIVING ancestor, so
        # the ancestry chain (time travel, changes(), rollback-by-
        # timestamp) stays intact for every retained snapshot instead of
        # silently truncating at the first expired parent.
        parent_of = {s.id: s.parent_id for s in snaps}
        # positional predecessor in the PRE-compaction list: the parent a
        # legacy (parent_id=None) snapshot resolves to via ancestry()'s
        # fallback — captured now, because after compaction "whatever
        # precedes it in the list" can be an unrelated rolled-back or
        # branch-staged snapshot.
        pos_pred = {
            snaps[i].id: (snaps[i - 1].id if i > 0 else None)
            for i in range(len(snaps))
        }
        def _parent(pid):
            p = parent_of.get(pid)
            return p if p is not None else pos_pred.get(pid)
        def _nearest_survivor(pid):
            while pid is not None and pid in expired_ids:
                pid = _parent(pid)
            return pid
        for s in survivors:
            if s.parent_id is None:
                # materialize the legacy positional parent as an explicit
                # id BEFORE compacting, resolved through expired nodes —
                # otherwise the survivor silently re-binds to its new
                # list neighbor after expiry.
                s.parent_id = _nearest_survivor(pos_pred.get(s.id)) or 0
            elif s.parent_id in expired_ids:
                # when the WHOLE chain below expired, record the explicit
                # root sentinel 0 (no snapshot has id 0) rather than None:
                # None means "legacy metadata, use the positional
                # fallback", which would adopt an arbitrary neighbor —
                # e.g. a tag-pinned rolled-back-away snapshot — as parent
                # and flip its is_current_ancestor back to true.
                s.parent_id = _nearest_survivor(s.parent_id) or 0
        self._meta["snapshots"] = [s.to_json() for s in survivors]
        self._prune_dir_stats(referenced)
        self._write_meta(locked=True)
        # publish first, delete last (see expire_snapshots docstring)
        for d in to_delete:
            shutil.rmtree(d)
            self._remove_reservation_marker(d)
        return sorted(expired_ids)
