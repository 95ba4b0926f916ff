"""Round-7 self-review regressions (the concurrency/second-engine batch).

1. ``expire_snapshots`` must publish new metadata BEFORE deleting files,
   and a stale handle's expire must refuse BEFORE anything irreversible
   — previously the dirs were rmtree'd first and the version CAS at the
   final write turned the refusal into corruption (metadata still
   referencing deleted dirs).
2. Equality-delete NULL keys: the engine's null-unsafe ``=`` never
   matches a NULL, so the compiled DuckDB read must not use
   ``IS NOT DISTINCT FROM`` (which would delete NULL-keyed rows).
3. The compiled DuckDB read resolves column renames, schema evolution
   (null-fill + V3 initial defaults) per dir, and add_files imported
   dirs (lazy row ids, so positional deletes of imported rows apply).
4. A stale duplicate ``add_files`` of a dir the winner already imported
   refuses instead of double-counting / re-pinning its sequence.
5. ``remove_orphan_files`` grace: an unreferenced dir younger than the
   threshold is an in-flight write, not an orphan.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from iceberg_v2_to_v3_upgrade_spark.tables import (
    CommitConflictError,
    LocalTable,
)
from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
    duckdb_table_sql,
    read_table_in_duckdb,
)
from iceberg_v2_to_v3_upgrade_spark.tables.verify import (
    verification_passed,
    verify_table_in_duckdb,
)

_SCHEMA = "id BIGINT, cat STRING, val DOUBLE"


def _df(spark, rows, schema=_SCHEMA):
    return spark.createDataFrame(rows, schema)


def _duck_equals_scan(spark, t, cols):
    ours = sorted(
        tuple(r) for r in t.scan().select(*cols).collect()
    )
    pdf = read_table_in_duckdb(t)[list(cols)]
    theirs = sorted(tuple(r) for r in pdf.itertuples(index=False))
    assert theirs == ours


def test_stale_expire_refuses_before_deleting_files(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("expire_cas")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0)]))
    t.insert(_df(spark, [(2, "a", 2.0)]))
    stale = LocalTable(spark, t.root)
    # a concurrent commit moves the table under the stale handle
    LocalTable(spark, t.root).insert(_df(spark, [(3, "a", 3.0)]))
    with pytest.raises(CommitConflictError):
        stale.expire_snapshots(
            older_than=datetime.datetime(2030, 1, 1), retain_last=1
        )
    # the refusal left EVERY snapshot readable — nothing was deleted
    fresh = LocalTable(spark, t.root)
    for s in fresh.ancestry():
        fresh.scan(snapshot_id=s.id).count()
    assert sorted(r["id"] for r in fresh.scan().collect()) == [1, 2, 3]
    # a fresh handle's expire still works and the survivors stay intact
    fresh.expire_snapshots(
        older_than=datetime.datetime(2030, 1, 1), retain_last=1
    )
    assert sorted(
        r["id"] for r in LocalTable(spark, t.root).scan().collect()
    ) == [1, 2, 3]


def test_duckdb_read_keeps_null_keyed_rows_on_eq_delete(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("ddb_null")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, None, 1.0), (2, "b", 2.0), (3, "b", 3.0)]))
    # delete key cat='b' AND a NULL key row: the engine's null-unsafe
    # equality deletes the 'b' rows and keeps the NULL-cat row
    t.delete_by_keys(_df(spark, [(0, "b", 0.0), (0, None, 0.0)]), ["cat"])
    assert sorted(r["id"] for r in t.scan().collect()) == [1]
    _duck_equals_scan(spark, t, ("id", "val"))


def test_duckdb_read_resolves_renames_and_defaults(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("ddb_ren")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.rename_column("val", "score")
    t.insert(
        _df(spark, [(3, "c", 3.0)], "id BIGINT, cat STRING, score DOUBLE")
    )
    t.set_properties({"format-version": "3"})
    t.add_column("grade", "STRING", default="'unknown'")
    t.insert(
        _df(
            spark,
            [(4, "d", 4.0, "real")],
            "id BIGINT, cat STRING, score DOUBLE, grade STRING",
        )
    )
    _duck_equals_scan(spark, t, ("id", "cat", "score", "grade"))


def test_duckdb_read_of_imported_dirs_equals_scan(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ddb_imp")
    # Spark records imported files as quoted URIs ('%20', '%23')
    ext = str(base / "external src#1")
    # the files hold narrower types than the table declares (INT for
    # BIGINT, FLOAT for DOUBLE); both reads cast to the declared ones
    spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i) + 0.1) for i in range(20)],
        "id INT, cat STRING, val FLOAT",
    ).repartition(3).write.mode("overwrite").parquet(ext)
    t = LocalTable.create(spark, str(base / "t"), _SCHEMA)
    t.set_properties({"format-version": "3"})
    t.add_files(ext)
    assert len(t.imported_dirs[ext]["files"]) == 3
    # merge-on-read deletes of imported rows' lazy ids; the V3 update
    # carries its rows' ids into a managed dir
    t.delete_where("id IN (3, 7, 18)")
    # only the imported dir holds data, so no managed arm widens types
    assert list(read_table_in_duckdb(t).dtypes.astype(str)) == [
        "int64", "object", "float64"
    ]
    _duck_equals_scan(spark, t, ("id", "cat", "val"))
    t.update_set({"val": "val * 10"}, "cat = 'b'")
    t.insert(_df(spark, [(100, "c", 100.0), (7, "c", 7.5)]))
    assert t.current_snapshot().delete_dirs
    ours = sorted(tuple(r) for r in t.scan(with_row_lineage=True).collect())
    assert len(ours) == 19
    duck = duckdb.connect()
    try:
        # the compiled statement's data arm keeps each row's _row_id
        rows = duck.execute(
            duckdb_table_sql(t).replace("SELECT ", "SELECT _row_id, ", 1)
        ).fetchall()
    finally:
        duck.close()
    assert sorted((*r[1:], r[0]) for r in rows) == ours
    _duck_equals_scan(spark, t, ("id", "cat", "val"))
    assert verification_passed(verify_table_in_duckdb(t))


def test_duplicate_concurrent_add_files_refuses(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("dup_imp")
    ext = str(base / "external")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], _SCHEMA
    ).write.mode("overwrite").parquet(ext)
    t = LocalTable.create(spark, str(base / "t"), _SCHEMA)
    stale = LocalTable(spark, t.root)
    t.add_files(ext)
    t.delete_by_keys(_df(spark, [(1, "x", 0.0)]), ["id"])
    with pytest.raises(CommitConflictError):
        stale.add_files(ext)
    # the eq delete still applies: no resurrected rows, no double-count
    assert sorted(
        r["id"] for r in LocalTable(spark, t.root).scan().collect()
    ) == [2]


def test_duckdb_read_tolerates_zero_row_write_dirs(
    spark, tmp_path_factory
):
    """A zero-row partitioned write leaves a dir with no parquet files
    (engine-supported state); the compiled DuckDB read must skip it,
    not crash on an empty read_parquet glob."""
    root = str(tmp_path_factory.mktemp("ddb_zero")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA, partition_by=["cat"])
    t.insert(_df(spark, [(1, "a", 1.0)]))
    t.insert(_df(spark, [], _SCHEMA))  # zero-row commit
    _duck_equals_scan(spark, t, ("id", "val"))
    # all-empty table: compiled read returns the typed empty relation
    t2 = LocalTable.create(
        spark, str(tmp_path_factory.mktemp("ddb_zero2")) + "/t", _SCHEMA,
        partition_by=["cat"],
    )
    t2.insert(_df(spark, [], _SCHEMA))
    assert read_table_in_duckdb(t2).empty


def test_reservation_markers_reclaimed_with_their_dirs(
    spark, tmp_path_factory
):
    import glob
    import os

    root = str(tmp_path_factory.mktemp("rsv")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0)]))
    t.insert(_df(spark, [(2, "a", 2.0)]))
    assert glob.glob(os.path.join(t.root, "data", ".*.rsv"))
    t.expire_snapshots(older_than=datetime.datetime(2030, 1, 1))
    # expired dirs took their markers with them; live dirs keep theirs
    live = {
        os.path.basename(d)
        for d in LocalTable(spark, t.root).current_snapshot().data_dirs
    }
    leftover = {
        os.path.basename(p)[1:-4]
        for p in glob.glob(os.path.join(t.root, "data", ".*.rsv"))
    }
    assert leftover <= live
    # a stray marker whose dir is gone is swept by orphan GC — but only
    # past the 24h floor: a FRESH dir-less marker can be a reservation
    # whose dir is mid-overwrite (the sweep must never re-open the
    # double-reservation window)
    stray = os.path.join(t.root, "data", ".snap-77777.rsv")
    open(stray, "w").close()
    t2 = LocalTable(spark, t.root)
    t2.remove_orphan_files(older_than_seconds=0)
    assert os.path.exists(stray)  # fresh: retained regardless of grace
    two_days_ago = __import__("time").time() - 2 * 86400
    os.utime(stray, (two_days_ago, two_days_ago))
    LocalTable(spark, t.root).remove_orphan_files(older_than_seconds=0)
    assert not os.path.exists(stray)


def test_call_remove_orphans_accepts_args_any_order(
    spark, tmp_path_factory
):
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    catalog = LocalCatalog(spark, str(tmp_path_factory.mktemp("ro_wh")))
    t = catalog.create_table("ro_db", "t", _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0)]))
    engine = EngineSQL(catalog)
    for sql in (
        "CALL system.remove_orphan_files(table => 'ro_db.t', "
        "older_than_seconds => 0, dry_run => true)",
        "CALL system.remove_orphan_files(table => 'ro_db.t', "
        "dry_run => true, older_than_seconds => 3600.5)",
    ):
        res = engine.execute_one(sql)
        assert res.kind == "remove_orphan_files", res.message


def test_orphan_grace_protects_inflight_dirs(spark, tmp_path_factory):
    import os

    root = str(tmp_path_factory.mktemp("orph")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0)]))
    # a freshly written unreferenced dir = an in-flight write
    inflight = os.path.join(t.root, "data", "snap-99999")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("pending")
    assert t.remove_orphan_files() == []  # default grace retains it
    assert os.path.exists(inflight)
    removed = t.remove_orphan_files(older_than_seconds=0)
    assert removed == [inflight] and not os.path.exists(inflight)
