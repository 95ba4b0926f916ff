"""CALL system.add_files: register external parquet without rewrite,
with V3-lazy row ids (first_row_id per file + row position)."""

from __future__ import annotations

import os

import pytest

from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError


@pytest.fixture()
def catalog(spark, tmp_path):
    return LocalCatalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def external_dir(spark, tmp_path):
    d = str(tmp_path / "external")
    spark.createDataFrame(
        [(i, f"row{i}", float(i)) for i in range(20)],
        "id BIGINT, name STRING, v DOUBLE",
    ).repartition(3).write.parquet(d)
    return d


def test_add_files_registers_without_rewrite(spark, catalog, external_dir):
    t = catalog.create_table("mig_db", "t", "id BIGINT, name STRING, v DOUBLE")
    t.insert_values([(100, "managed", 1.0)])
    files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(external_dir)
        for f in fs
    }
    snap = t.add_files(external_dir)
    assert snap.operation == "append"
    # not a byte rewritten or added in the source dir
    files_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(external_dir)
        for f in fs
    }
    assert files_before == files_after
    assert external_dir in t.current_snapshot().data_dirs
    rows = {r.id for r in t.scan().collect()}
    assert rows == set(range(20)) | {100}


def test_add_files_row_ids_stable_and_unique(spark, catalog, external_dir):
    t = catalog.create_table("mig_db", "t2", "id BIGINT, name STRING, v DOUBLE")
    t.set_properties({"format-version": "3"})  # row lineage is V3
    t.insert_values([(100, "managed", 1.0)])
    t.add_files(external_dir)
    lineage = t.scan(with_row_lineage=True)
    idcol = [c for c in lineage.columns if "row_id" in c][0]
    ids1 = sorted(r[idcol] for r in lineage.collect())
    ids2 = sorted(r[idcol] for r in t.scan(with_row_lineage=True).collect())
    assert ids1 == ids2, "lazy row ids must be deterministic across reads"
    assert len(set(ids1)) == 21, "row ids must be unique incl. managed rows"


def test_delete_on_imported_rows(spark, catalog, external_dir):
    """Positional MoR deletes must work on imported files — the whole
    point of deterministic lazy row ids."""
    t = catalog.create_table("mig_db", "t3", "id BIGINT, name STRING, v DOUBLE")
    t.add_files(external_dir)
    t.delete_where("id % 2 = 0")
    ids = sorted(r.id for r in t.scan().collect())
    assert ids == [i for i in range(20) if i % 2 == 1]
    # the external files are STILL not rewritten (MoR delete entries only)
    assert external_dir in t.current_snapshot().data_dirs


def test_add_files_validation(spark, catalog, external_dir, tmp_path):
    part = catalog.create_table(
        "mig_db", "p", "id BIGINT, name STRING, v DOUBLE",
        partition_by=["name"],
    )
    with pytest.raises(TableError, match="unpartitioned"):
        part.add_files(external_dir)

    t = catalog.create_table("mig_db", "t4", "id BIGINT, name STRING")
    with pytest.raises(TableError, match="not in table schema"):
        t.add_files(external_dir)  # v DOUBLE is not in the schema

    managed = str(tmp_path / "managed_export")
    spark.createDataFrame([(1, "a", 5)], "id BIGINT, name STRING, _row_id LONG") \
        .write.parquet(managed)
    t5 = catalog.create_table("mig_db", "t5", "id BIGINT, name STRING")
    with pytest.raises(TableError, match="_row_id"):
        t5.add_files(managed)


def test_add_files_sql_call(spark, catalog, external_dir):
    engine = EngineSQL(catalog)
    engine.execute_one(
        "CREATE TABLE glue_catalog.mig_db.sq "
        "(id BIGINT, name STRING, v DOUBLE) USING iceberg"
    )
    res = engine.execute_one(
        f"CALL system.add_files(table => 'mig_db.sq', "
        f"source => '{external_dir}')"
    )
    assert "added 3 file(s)" in res.message
    n = engine.execute_one(
        "SELECT count(*) AS n FROM mig_db.sq"
    ).df.collect()[0].n
    assert n == 20


def test_add_files_duplicate_import_rejected(spark, catalog, external_dir):
    t = catalog.create_table("mig_db", "t6", "id BIGINT, name STRING, v DOUBLE")
    t.add_files(external_dir)
    with pytest.raises(TableError, match="already imported"):
        t.add_files(external_dir)


def test_add_files_survives_column_rename(spark, catalog, external_dir):
    """RENAME COLUMN after import must keep reading the imported files'
    physical name (the same rename walk managed dirs get)."""
    t = catalog.create_table("mig_db", "t7", "id BIGINT, name STRING, v DOUBLE")
    t.add_files(external_dir)
    t.rename_column("name", "full_name")
    rows = {r.id: r.full_name for r in t.scan().collect()}
    assert rows[3] == "row3" and len(rows) == 20


def test_equality_delete_before_import_spares_imported_rows(
    spark, catalog, tmp_path
):
    """An imported dir takes its import commit's sequence number: an
    equality delete committed BEFORE ``add_files`` does not hit imported
    rows with a matching key (Iceberg's added-files sequence rule)."""
    t = catalog.create_table("mig_db", "eq_seq", "id BIGINT, name STRING")
    t.insert_values([(1, "old"), (2, "keep")])
    t.delete_by_keys(spark.createDataFrame([(1,)], "id BIGINT"), ["id"])
    src = str(tmp_path / "late_import")
    spark.createDataFrame(
        [(1, "imported-after-delete")], "id BIGINT, name STRING"
    ).write.parquet(src)
    t.add_files(src)
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, "imported-after-delete"),
        (2, "keep"),
    ]
