"""DuckDB second-engine TABLE read (tables/duckdb_reader.py).

Each scenario builds a managed table, mutates it, then has DuckDB
re-execute the MoR merge from raw files via the compiled SQL manifest and
compares row-for-row against this engine's ``scan()`` — the
reference's cross-engine arc (``internal/verify_in_databricks.py``)
with the *table*, not an exported copy, as the shared artifact.
"""

from __future__ import annotations

from iceberg_v2_to_v3_upgrade_spark.tables import LocalTable
from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
    read_table_in_duckdb,
)

_SCHEMA = "id BIGINT, cat STRING, val DOUBLE"


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _assert_duckdb_matches(spark, t):
    ours = sorted(
        tuple(r) for r in t.scan().select("id", "cat", "val").collect()
    )
    pdf = read_table_in_duckdb(t)
    theirs = sorted(
        (int(r.id), str(r.cat), float(r.val)) for r in pdf.itertuples()
    )
    assert theirs == [(int(a), str(b), float(c)) for a, b, c in ours]


def test_duckdb_reads_unpartitioned_mor_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ddb_plain")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]))
    t.delete_where("id = 2")
    t.update_set({"val": "val * 10"}, "cat = 'a'")
    _assert_duckdb_matches(spark, t)


def test_duckdb_reads_partitioned_v3_carried_rows(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ddb_v3")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA, partition_by=["cat"])
    t.insert(_df(spark, [(i, "ab"[i % 2], float(i)) for i in range(10)]))
    t.delete_where("id IN (0, 9)")
    t.set_properties({"format-version": "3"})
    # carried row ids: tombstone + same-_row_id re-append in one commit —
    # DuckDB must seq-scope or it would swallow the rewritten rows
    t.update_set({"val": "val + 0.5"}, "cat = 'a'")
    _assert_duckdb_matches(spark, t)


def test_duckdb_applies_equality_deletes_with_seq_scope(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("ddb_eq")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    t.insert(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    t.delete_by_keys(_df(spark, [(1, "a", 0.0)]), ["id"])
    # re-insert the deleted key AFTER the equality delete: it must
    # survive (eq deletes only hit older-sequence data) in BOTH engines
    t.insert(_df(spark, [(1, "a2", 9.0)]))
    t.delete_by_keys(_df(spark, [(2, "b", 0.0)]), ["id"])
    # a second key-column set gets its own anti-join in both engines
    t.delete_by_keys(_df(spark, [(0, "c", 0.0)]), ["cat"])
    t.insert(_df(spark, [(2, "b2", 8.0), (4, "c", 4.0)]))
    assert len(t.current_snapshot().eq_deletes) == 3
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 4]
    _assert_duckdb_matches(spark, t)


def test_duckdb_read_of_empty_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ddb_empty")) + "/t"
    t = LocalTable.create(spark, root, _SCHEMA)
    assert read_table_in_duckdb(t).empty
