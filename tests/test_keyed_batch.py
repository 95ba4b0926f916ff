"""The keyed ``foreachBatch`` step of the streaming ingest, called
directly: one equality-delete-plus-append commit per batch, idempotent
on replay, and the source-shape rules of the upsert."""

from __future__ import annotations

import datetime

import pytest

from iceberg_v2_to_v3_upgrade_spark.streaming import ingest
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError

_SCHEMA = "id BIGINT, val BIGINT"
_BATCH = "id BIGINT, val BIGINT, seq BIGINT, op STRING"


@pytest.fixture()
def table(spark, tmp_path):
    t = LocalCatalog(spark, str(tmp_path / "wh")).create_table(
        "kb", "live", _SCHEMA, properties={"format-version": "3"}
    )
    t.insert_values([(i, i * 10) for i in range(6)])
    return t


def _rows(t):
    return sorted(tuple(r) for r in t.scan().collect())


def _cdc(t):
    return ingest._keyed_batch_apply(t, ["id"], "seq", ["seq"], "op")


def _upsert(t):
    return ingest._keyed_batch_apply(t, ["id"], "seq", ["seq"])


def test_cdc_batch_replays_idempotently(spark, table):
    batch = spark.createDataFrame(
        [
            (0, 0, 1, "D"),
            (1, 11, 2, "U"),
            (1, 12, 3, "U"),  # later version of key 1 wins
            (9, 90, 4, "I"),
            (2, 0, 5, None),  # NULL op: ignored
        ],
        _BATCH,
    )
    want = [(1, 12), (2, 20), (3, 30), (4, 40), (5, 50), (9, 90)]
    _cdc(table)(batch, 0)
    assert _rows(table) == want
    _cdc(table)(batch, 0)  # replay after a lost offset commit
    assert _rows(table) == want


def test_upsert_batch_replays_idempotently(spark, table):
    batch = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (7, 70, 3)], "id BIGINT, val BIGINT, seq BIGINT"
    )
    want = [(0, 0), (1, 12), (2, 20), (3, 30), (4, 40), (5, 50), (7, 70)]
    _upsert(table)(batch, 0)
    assert _rows(table) == want
    _upsert(table)(batch, 0)
    assert _rows(table) == want


def test_batch_is_one_equality_delete_commit(spark, table):
    before, n_snaps = table.current_snapshot(), len(table.snapshots())
    batch = spark.createDataFrame(
        [(0, 0, 1, "D"), (1, 11, 2, "U"), (8, 80, 3, "I")], _BATCH
    )
    _cdc(table)(batch, 0)
    after = table.current_snapshot()
    assert after.parent_id == before.id
    assert len(table.snapshots()) == n_snaps + 1
    assert after.operation == "merge"
    assert after.delete_dirs == before.delete_dirs
    (entry,) = [e for e in after.eq_deletes if e not in before.eq_deletes]
    assert entry["cols"] == ["id"] and entry["seq"] == after.id
    assert len(after.added_dirs) == 1
    # every key of the batch is in the one delete, D and upsert alike
    got = sorted(r.id for r in spark.read.parquet(entry["dir"]).collect())
    assert got == [0, 1, 8]
    # upserted rows get fresh row ids
    ids = table._scan_raw().select("_row_id").collect()
    assert len({r[0] for r in ids}) == len(ids) == 6
    assert max(r[0] for r in ids) >= 6


def test_delete_only_batch_writes_no_data(spark, table):
    before = table.current_snapshot()
    _cdc(table)(spark.createDataFrame([(3, 0, 1, "D")], _BATCH), 0)
    after = table.current_snapshot()
    assert after.operation == "delete"
    assert after.data_dirs == before.data_dirs
    assert len(after.eq_deletes) == len(before.eq_deletes) + 1
    _cdc(table)(spark.createDataFrame([], _BATCH), 1)  # empty: no commit
    assert table.current_snapshot().id == after.id


def test_key_deleted_then_reinserted_is_visible(spark, table):
    _cdc(table)(spark.createDataFrame([(4, 0, 1, "D")], _BATCH), 0)
    assert 4 not in {r[0] for r in _rows(table)}
    _cdc(table)(spark.createDataFrame([(4, 44, 2, "I")], _BATCH), 1)
    assert (4, 44) in _rows(table)
    assert len(_rows(table)) == 6


def test_key_with_several_rows_ends_with_one(spark, table):
    table.insert_values([(2, 21)])  # a second row for key 2
    _upsert(table)(
        spark.createDataFrame([(2, 22, 1)], "id BIGINT, val BIGINT, seq BIGINT"), 0
    )
    assert [r for r in _rows(table) if r[0] == 2] == [(2, 22)]


def test_null_key_inserts(spark, table):
    batch = spark.createDataFrame([(None, 5, 1, "I")], _BATCH)
    _cdc(table)(batch, 0)
    _cdc(table)(batch, 1)  # a NULL key deletes nothing: both rows stay
    nulls = table.scan().filter("id IS NULL").collect()
    assert [tuple(r) for r in nulls] == [(None, 5), (None, 5)]


def test_source_shape_rules(spark, table):
    ups = ingest._keyed_batch_apply(table, ["id"], None, None)
    with pytest.raises(TableError, match="missing"):
        ups(spark.createDataFrame([(1,)], "id BIGINT"), 0)
    # a column the table lacks is ignored; names resolve case-insensitively
    ups(spark.createDataFrame([(1, 15, "x")], "ID BIGINT, VAL BIGINT, extra STRING"), 1)
    assert (1, 15) in _rows(table)
    assert table.scan().columns == ["id", "val"]


def test_consolidate_folds_batch_deletes_into_one_dv(spark, table):
    table.delete_where("id = 5")  # a positional delete alongside
    _cdc(table)(
        spark.createDataFrame([(0, 0, 1, "D"), (4, 0, 2, "D"), (1, 11, 3, "U")], _BATCH),
        0,
    )
    _cdc(table)(spark.createDataFrame([(4, 44, 4, "I"), (None, 7, 5, "I")], _BATCH), 1)
    _upsert(table)(
        spark.createDataFrame([(2, 22, 6), (8, 80, 7)], "id BIGINT, val BIGINT, seq BIGINT"),
        2,
    )
    def rows():  # repr: the NULL key sorts beside the others
        return sorted(map(tuple, table.scan().collect()), key=repr)

    before, want = table.current_snapshot(), rows()
    after = table.consolidate_deletes()
    assert after.operation == "maintenance"
    assert after.eq_deletes == [] and after.data_dirs == before.data_dirs
    (dv,) = after.delete_dirs
    assert dv.endswith("-dv")
    assert rows() == want  # re-inserted key 4 and the NULL key survive
    # later batches still apply on top of the folded deletes
    _cdc(table)(spark.createDataFrame([(4, 0, 8, "D"), (3, 33, 9, "U")], _BATCH), 3)
    assert rows() == sorted(
        [r for r in want if r[0] not in (3, 4)] + [(3, 33)], key=repr
    )
    # key columns rename once no retained snapshot keys an equality delete
    table.consolidate_deletes()
    with pytest.raises(TableError, match="equality"):
        table.rename_column("id", "key")
    table.expire_snapshots(
        older_than=datetime.datetime.now(datetime.timezone.utc), retain_last=1
    )
    table.rename_column("id", "key")
    assert table.scan().columns == ["key", "val"]
