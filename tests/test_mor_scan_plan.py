"""The merge-on-read scan plan does not grow with table history.

A keyed CDC table collects one equality-delete dir, one positional-delete
dir and one data dir per batch. ``scan()`` reads every unpartitioned data
dir of one layout as one relation, every delete kind as one relation and
applies one anti-join per delete kind, so its physical plan has the same
FileScan and join counts after 1 and after 13 batches (26 commits). Partitioned dirs
are still read one by one; their joins stay bounded by the dir count,
not by dirs × delete commits.
"""

from __future__ import annotations

import re

from iceberg_v2_to_v3_upgrade_spark.tables import LocalTable
from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
    read_table_in_duckdb,
)

_SCHEMA = "id BIGINT, cat STRING, val BIGINT"
_JOIN = re.compile(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
                   r"|BroadcastNestedLoopJoin|CartesianProduct)\b")


def _plan_counts(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FileScan"), len(_JOIN.findall(plan))


def _cdc_table(spark, root, partition_by=None):
    t = LocalTable.create(
        spark, root, _SCHEMA, partition_by=partition_by,
        properties={"format-version": "3"},
    )
    model = {}
    for a in range(4):
        rows = [(i, "ab"[i % 2], i) for i in range(a * 20, a * 20 + 20)]
        t.insert(spark.createDataFrame(rows, _SCHEMA))
        model.update({i: (c, v) for i, c, v in rows})
    return t, model


def _cdc_batch(spark, t, model, b):
    """One streaming-CDC-shaped batch: an equality delete of three keys
    (one of them re-inserted right after), then a MERGE upserting two
    existing keys and one new key."""
    gone = [(b * 3) % 80, (b * 3 + 1) % 80, (b * 3 + 2) % 80]
    t.delete_by_keys(
        spark.createDataFrame([(k,) for k in gone], "id BIGINT"), ["id"]
    )
    for k in gone:
        model.pop(k, None)
    upserts = [
        (gone[0], "a", 1000 + b),           # re-insert of a deleted key
        ((b * 3 + 40) % 80, "b", 2000 + b),  # update of a live key
        (100 + b, "ab"[b % 2], 3000 + b),    # brand-new key
    ]
    t.merge_into(spark.createDataFrame(upserts, _SCHEMA), on=["id"])
    model.update({i: (c, v) for i, c, v in upserts})


def _assert_matches_model_and_duckdb(t, model):
    want = sorted((i, c, v) for i, (c, v) in model.items())
    got = sorted(tuple(r) for r in t.scan().select("id", "cat", "val").collect())
    assert got == want
    pdf = read_table_in_duckdb(t)
    duck = sorted(
        (int(r.id), str(r.cat), int(r.val)) for r in pdf.itertuples()
    )
    assert duck == want


def test_scan_plan_size_independent_of_cdc_history(spark, tmp_path):
    t, model = _cdc_table(spark, str(tmp_path / "t"))
    _cdc_batch(spark, t, model, 0)
    after_one = _plan_counts(t.scan())
    _assert_matches_model_and_duckdb(t, model)
    for b in range(1, 13):  # 13 batches: 26 delete/merge commits
        _cdc_batch(spark, t, model, b)
    snap = t.current_snapshot()
    assert len(snap.eq_deletes) == 13 and len(snap.delete_dirs) == 13
    assert _plan_counts(t.scan()) == after_one
    # data, equality deletes, positional deletes; one join per kind
    assert after_one == (3, 2)
    _assert_matches_model_and_duckdb(t, model)


def test_partitioned_scan_joins_bounded_by_dirs(spark, tmp_path):
    t, model = _cdc_table(spark, str(tmp_path / "t"), partition_by=["cat"])
    for b in range(3):
        _cdc_batch(spark, t, model, b)
    n_dirs = len(t.current_snapshot().data_dirs)
    _scans, joins = _plan_counts(t.scan())
    assert joins <= 2 * n_dirs
    _assert_matches_model_and_duckdb(t, model)
