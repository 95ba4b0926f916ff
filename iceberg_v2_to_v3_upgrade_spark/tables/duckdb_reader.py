"""Second-engine TABLE read: DuckDB executes the MoR merge itself.

The reference's headline verification arc is a *second engine reading the
managed table* — ``internal/verify_in_databricks.py:57-112`` points
Databricks at the same Iceberg table another engine wrote and checks the
merged state is readable. This module is that read, and the only one
``tables/verify.py`` uses: it compiles the table's snapshot metadata
(data dirs, positional delete dirs, equality deletes, per-dir
delete-scope sequences) into one self-contained DuckDB SQL statement,
so DuckDB reconstructs the post-DELETE/UPDATE state from raw table
files with **no Spark pre-merge and no knowledge of this engine** beyond
the generated view definition —
the moral equivalent of handing a spec-shaped metadata file to an
``iceberg_scan``-capable reader (the DuckDB iceberg extension itself
needs a network INSTALL, unavailable here, so the manifest is expressed
as SQL rather than Avro; ``tables/iceberg_export.py`` emits the
spec-field file form).

Fidelity covered by the generated SQL:
- hive-partitioned data dirs (identity and transform partition columns
  are directory-encoded; DuckDB's ``hive_partitioning`` recovers them),
- the engine's ``_apply_deletes`` shape: one ``NOT EXISTS`` over a
  ``UNION ALL`` of every positional dir, scoped to data committed BEFORE
  it (``d._seq < x._dseq``, so a V3 UPDATE's row keeping its ``_row_id``
  survives its own tombstone), and one per equality-key-column set over
  that set's dirs, scoped by ``_eq_seq`` with the ENGINE's null-unsafe
  ``=`` (a NULL key never matches — review finding: ``IS NOT DISTINCT
  FROM`` would delete NULL-keyed rows the engine keeps),
- cherry-pick/rebase sequence overrides (``Snapshot.seq_overrides``),
- column renames: each dir projects the PHYSICAL name its files were
  written under back to the current name (the engine's
  ``_read_one_dir`` rename walk, re-derived per dir),
- schema evolution + V3 initial defaults: a dir written before an ADD
  COLUMN null-fills (or reads the recorded default literal) exactly
  like the engine's per-dir sequence rule.

- dirs registered by ``add_files``: external parquet with no ``_row_id``
  column. Each row's id is computed as the engine's
  ``_read_imported_dir`` does: the file's recorded ``first_row_id``
  plus its position in the file (DuckDB's ``file_row_number``, the same
  count as Spark's ``_metadata.row_index``), so positional deletes of
  imported rows apply; each column is cast to its declared type, as the
  external files may hold a narrower one.
"""

from __future__ import annotations

import glob
import os
import re
from urllib.parse import unquote, urlparse

from iceberg_v2_to_v3_upgrade_spark.tables.table import (
    _ROW_ID,
    LocalTable,
    Snapshot,
)


_DUCK_PRIMITIVES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "REAL",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "binary": "BLOB",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def _split_top_level(s: str) -> list[str]:
    """Split on commas not nested inside <...> or (...)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _duck_type(simple: str) -> str:
    """Spark simpleString -> DuckDB type (primitives, decimal, arrays,
    maps, structs — complex types must map faithfully or a null-fill
    arm typed VARCHAR collides with real MAP/STRUCT arms in the
    UNION ALL BY NAME, review finding)."""
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", simple)
    if m:
        return f"DECIMAL({m.group(1)},{m.group(2)})"
    m = re.fullmatch(r"array<(.+)>", simple)
    if m:
        return f"{_duck_type(m.group(1))}[]"
    m = re.fullmatch(r"map<(.+)>", simple)
    if m:
        k, v = _split_top_level(m.group(1))
        return f"MAP({_duck_type(k.strip())}, {_duck_type(v.strip())})"
    m = re.fullmatch(r"struct<(.+)>", simple)
    if m:
        fields = []
        for part in _split_top_level(m.group(1)):
            name, _, dt = part.partition(":")
            fields.append(f'"{name.strip()}" {_duck_type(dt.strip())}')
        return f"STRUCT({', '.join(fields)})"
    return _DUCK_PRIMITIVES.get(simple, "VARCHAR")


def _dir_glob(d: str) -> str:
    """Recursive parquet glob: matches files at the dir root (unpartitioned
    writes) and under key=value subdirs (partitioned writes)."""
    return os.path.join(d, "**", "*.parquet").replace("'", "''")


def _has_parquet(d: str) -> bool:
    """True when the snapshot-referenced dir holds parquet files. A dir
    that EXISTS with no files is a zero-row write (engine-supported,
    skip it); a dir that does not exist at all is corruption — fail
    loudly rather than compile a confidently wrong read that silently
    drops data or delete filters (review finding)."""
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"snapshot references missing dir {d}; refusing to compile "
            f"a partial table read"
        )
    return bool(
        glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )


def _sql_str(s: str) -> str:
    """``s`` as a DuckDB string literal."""
    return "'" + s.replace("'", "''") + "'"


def _imported_source(entry: dict) -> tuple[str, str, set[str]]:
    """An ``add_files`` dir's ``read_parquet`` source over exactly its
    recorded files, the SQL of its rows' ``_row_id``, and the columns the
    files hold. The recorded keys are Spark ``file:`` URIs, quoted;
    DuckDB's ``filename`` is the local path it was given."""
    import pyarrow.parquet as pq

    files = {
        unquote(urlparse(fp).path): int(rid)
        for fp, rid in sorted(entry["files"].items())
    }
    written = {n for f in files for n in pq.read_schema(f).names}
    paths = ", ".join(_sql_str(f) for f in files)
    src = (
        f"read_parquet([{paths}], union_by_name=1, filename=true, "
        "file_row_number=true)"
    )
    arms = " ".join(f"WHEN {_sql_str(f)} THEN {rid}" for f, rid in files.items())
    row_id = f"CAST(CASE filename {arms} END + file_row_number AS BIGINT)"
    return src, row_id, written


def _empty_select(declared) -> str:
    typed = ", ".join(
        f"CAST(NULL AS {_duck_type(f.dataType.simpleString())})"
        f' AS "{f.name}"'
        for f in declared
    )
    return f"SELECT {typed} WHERE FALSE"


def duckdb_table_sql(table: LocalTable, snap: Snapshot | None = None) -> str:
    """One DuckDB SELECT that reproduces ``table.scan()`` for ``snap``
    (default: current snapshot) straight from the table's files."""
    snap = snap or table.current_snapshot()
    declared = table.declared_schema()
    cols = ", ".join(f'"{name}"' for name in declared.fieldNames())
    if not snap.data_dirs:
        return _empty_select(declared)
    imported = table._meta.get("imported_dirs", {})
    renames = table._meta.get("renames", [])
    defaults = table._meta.get("column_defaults", {})
    evolved = bool(renames or defaults or table._meta.get("schema_log"))
    declared_names = set(declared.fieldNames())
    written_at: dict[int, set[str]] = {}  # write_seq -> physical columns
    data_parts = []
    for d in snap.data_dirs:
        if not _has_parquet(d):
            # a zero-row partitioned write leaves a dir with no parquet
            # files at all (engine-supported state — see _read_layout);
            # a bare read_parquet glob on it is an IO error in DuckDB
            continue
        seq = table._delete_scope_seq(d, snap)
        src = (
            f"read_parquet('{_dir_glob(d)}', hive_partitioning=1, "
            "union_by_name=1)"
        )
        row_id = f'"{_ROW_ID}"'
        write_seq = LocalTable._parse_dir_seq(d)
        # columns physically present when this dir was written (current
        # names resolve through the rename walk below). One JVM DDL
        # parse per DISTINCT schema epoch, not per dir — and none at
        # all for never-evolved tables (review finding).
        if d in imported:
            # layout follows the import commit; the columns are the
            # ones the external files hold
            write_seq = int(imported[d]["seq"])
            src, row_id, written = _imported_source(imported[d])
        elif not evolved:
            written = declared_names
        elif write_seq in written_at:
            written = written_at[write_seq]
        else:
            written = set(
                table.declared_schema(table.schema_at(write_seq)).fieldNames()
            )
            written_at[write_seq] = written
        proj = []
        for f in declared:
            name = f.name
            # the engine's newest->oldest rename walk (_read_one_dir):
            # the files store the name the column had at the dir's seq
            phys = table._physical_name(name, write_seq)
            entry = defaults.get(name)
            if entry is not None and write_seq <= int(entry["seq"]):
                # V3 initial-default: pre-ALTER dirs read the literal
                proj.append(
                    f"CAST({entry['sql']} AS "
                    f"{_duck_type(entry['dtype'])}) AS \"{name}\""
                )
            elif d in imported and phys in written:
                # external files may hold a narrower type (INT for a
                # BIGINT column): cast as _read_imported_dir does
                proj.append(
                    f'CAST("{phys}" AS '
                    f'{_duck_type(f.dataType.simpleString())}) AS "{name}"'
                )
            elif phys in written:
                proj.append(
                    f'"{name}"' if phys == name else f'"{phys}" AS "{name}"'
                )
            else:
                # column added after this dir was written: null-fill,
                # typed so single-dir tables keep the declared schema
                proj.append(
                    f"CAST(NULL AS {_duck_type(f.dataType.simpleString())})"
                    f' AS "{name}"'
                )
        data_parts.append(
            f"SELECT {', '.join(proj)}, {row_id} AS \"{_ROW_ID}\", "
            f"CAST({seq} AS BIGINT) AS _seq FROM {src}"
        )
    if not data_parts:  # every data dir was a zero-row write
        return _empty_select(declared)
    data_sql = "\nUNION ALL BY NAME\n".join(data_parts)
    # the engine's _apply_deletes: one anti-join (NOT EXISTS) over every
    # positional dir, one per equality-key-column set
    filters = []
    del_parts = [
        f"SELECT \"{_ROW_ID}\" AS _del_row_id, "
        f"CAST({LocalTable._parse_dir_seq(d, default=10**9)} AS BIGINT) AS _dseq "
        f"FROM read_parquet('{_dir_glob(d)}')"
        for d in snap.delete_dirs
        if _has_parquet(d)  # zero-match delete: nothing to mask
    ]
    if del_parts:
        filters.append(
            f"NOT EXISTS (SELECT 1 FROM ({' UNION ALL '.join(del_parts)}) x "
            f"WHERE x._del_row_id = d.\"{_ROW_ID}\" AND d._seq < x._dseq)"
        )
    for keys, entries in LocalTable._eq_sets(snap.eq_deletes).items():
        quoted = ", ".join(f'"{c}"' for c in keys)
        key_parts = [
            f"SELECT {quoted}, CAST({int(e['seq'])} AS BIGINT) AS _eq_seq "
            f"FROM read_parquet('{_dir_glob(e['dir'])}')"
            for e in entries
            if _has_parquet(e["dir"])
        ]
        if not key_parts:
            continue
        # null-UNSAFE key equality, matching the engine's == semantics
        # (_keys_match): a NULL key deletes nothing
        key_cond = " AND ".join(f'k."{c}" = d."{c}"' for c in keys)
        filters.append(
            f"NOT EXISTS (SELECT 1 FROM ({' UNION ALL '.join(key_parts)}) k "
            f"WHERE {key_cond} AND d._seq < k._eq_seq)"
        )
    where = ("WHERE " + "\n  AND ".join(filters)) if filters else ""
    return f"SELECT {cols} FROM (\n{data_sql}\n) d\n{where}"


def read_table_in_duckdb(table: LocalTable, snap: Snapshot | None = None):
    """Execute the generated statement in a fresh DuckDB connection and
    return the result as a pandas DataFrame (column order = declared
    schema). This is the second-engine read path the i40 driver query and
    ``verify.py`` probe ride."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(duckdb_table_sql(table, snap)).df()
    finally:
        con.close()
