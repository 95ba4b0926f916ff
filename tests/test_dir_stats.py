"""Per-data-dir min/max taken from parquet footers at write time.

The footer path (``LocalTable._dir_stats_from_footers``) must give exactly
the stats of the exact Spark read+agg job (``_dir_stats_from_read``) on
every numeric type Spark writes — decimals in their INT32, INT64 and
FIXED_LEN_BYTE_ARRAY layouts included — so that a data write never reads
its own dir back. Scans prune on these stats (``last_scan_pruning``)."""

from __future__ import annotations

import glob
import logging
import os

import pyarrow.parquet as pq
import pytest

from iceberg_v2_to_v3_upgrade_spark.cli import DEMO_ROWS, DEMO_SCHEMA
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import LocalTable

# (schema, partition_by, SELECT over range(0, 20, 1, 2): two tasks, ids
# 0-9 and 10-19, so one file per task, {column: parquet physical type})
CASES = {
    "integral_and_double": (
        "i INT, b BIGINT, s SMALLINT, d DOUBLE",
        None,
        "SELECT id - 7 AS i, (id - 11) * 922337203685477 AS b, "
        "id * 3 - 30 AS s, (id - 4) / 3.0 AS d",
        {"i": "INT32", "b": "INT64", "s": "INT32", "d": "DOUBLE"},
    ),
    "decimal_int32_int64_null_row_groups": (
        "k INT, d5 DECIMAL(5,2), d10 DECIMAL(10,2), dn DECIMAL(10,2)",
        None,
        # d5 is NULL in the first task's file, d10 in the second's; dn
        # is NULL everywhere, so neither side records it
        "SELECT id AS k, IF(id < 10, NULL, id * 1.25 - 20) AS d5, "
        "IF(id >= 10, NULL, id * 1234567.89) AS d10, NULL AS dn",
        {"d5": "INT32", "d10": "INT64", "dn": "INT64"},
    ),
    "decimal18_negative": (
        "k INT, d18 DECIMAL(18,4)",
        None,
        "SELECT id AS k, (id - 13) * 98765432109.8765 AS d18",
        {"d18": "INT64"},
    ),
    "decimal20_fixed_len_byte_array": (
        "k INT, d20 DECIMAL(20,2)",
        None,
        # unscaled values past 2^63, both signs
        "SELECT id AS k, CAST((id - 9) * 99999999999999999.99 "
        "AS DECIMAL(20,2)) AS d20",
        {"d20": "FIXED_LEN_BYTE_ARRAY"},
    ),
    "partitioned_by_decimal": (
        "p DECIMAL(6,2), v DECIMAL(10,2), n INT",
        ["p"],
        "SELECT CAST(id % 3 AS DECIMAL(6,2)) - 1.25 AS p, "
        "id * -17.5 AS v, CAST(id AS INT) AS n",
        {"v": "INT64", "n": "INT32"},
    ),
}


def _table(spark, tmp_path, schema, partition_by=None) -> LocalTable:
    return LocalCatalog(spark, str(tmp_path / "wh")).create_table(
        "stats_db", "t", schema, partition_by=partition_by
    )


def _insert_new_dir(t: LocalTable, df) -> str:
    before = set(t.current_snapshot().data_dirs)
    t.insert(df)
    [new] = set(t.current_snapshot().data_dirs) - before
    return new


def _physical_types(path: str) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        schema = pq.ParquetFile(f).metadata.schema
        for i in range(len(schema)):
            col = schema.column(i)
            out.setdefault(col.name, set()).add(col.physical_type)
    return out


@pytest.mark.parametrize("case", sorted(CASES))
def test_footer_stats_equal_exact_stats(spark, tmp_path, case):
    schema, partition_by, select, physical = CASES[case]
    t = _table(spark, tmp_path, schema, partition_by)
    src = spark.sql(select + " FROM range(0, 20, 1, 2)")
    for _ in range(2):  # a second dir: stats are per dir, not cumulative
        d = _insert_new_dir(t, src)
        types = _physical_types(d)
        for col, want in physical.items():
            assert types[col] == {want}, (col, types[col])
        numeric = t._stats_columns()
        footer = t._dir_stats_from_footers(d, numeric)
        assert footer is not None
        assert footer == t._dir_stats_from_read(d, list(numeric))
        assert t._meta["dir_stats"][d] == footer
    if partition_by:
        assert set(footer) == {"p", "v", "n"}
        assert len(glob.glob(os.path.join(d, "p=*"))) == 3


def test_null_only_row_groups_are_present(spark, tmp_path):
    """The decimal NULL case really writes row groups with no values."""
    schema, _, select, _ = CASES["decimal_int32_int64_null_row_groups"]
    t = _table(spark, tmp_path, schema)
    d = _insert_new_dir(t, spark.sql(select + " FROM range(0, 20, 1, 2)"))
    empty = set()
    for f in glob.glob(os.path.join(d, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_columns):
            if md.row_group(0).column(i).statistics.num_values == 0:
                empty.add(md.schema.column(i).name)
    assert empty == {"d5", "d10", "dn"}
    assert set(t._meta["dir_stats"][d]) == {"k", "d5", "d10"}


def test_demo_table_writes_never_read_back(spark, tmp_path, monkeypatch):
    def _fail(self, path, numeric):
        raise AssertionError(f"exact dir-stats job ran for {path}")

    monkeypatch.setattr(LocalTable, "_dir_stats_from_read", _fail)
    t = _table(spark, tmp_path, DEMO_SCHEMA, ["category"])
    t.insert_values(DEMO_ROWS)
    t.delete_where("id IN (2, 4, 6)")
    t.update_set({"amount": "amount * 1.1"}, "category = 'electronics'")
    t.rewrite_data_files()
    snap = t.current_snapshot()
    assert t.count() == 7 and not snap.delete_dirs
    for d in snap.data_dirs:
        assert set(t._meta["dir_stats"][d]) == {"id", "amount"}


def test_decimal_pruning_reads_only_overlapping_dirs(spark, tmp_path):
    t = _table(spark, tmp_path, "id INT, amount DECIMAL(10,2)")
    for i in range(4):  # amount ranges [100 i, 100 i + 99], disjoint
        t.insert(spark.sql(
            f"SELECT CAST(id + {111 * i} AS INT) AS id, "
            f"{100 * i} + id * 0.9 AS amount FROM range(111)"
        ))
    for pred, read in (
        ("amount > 250.50", 2),
        ("amount <= 99.90", 1),
        ("amount >= 99.91", 3),
        ("amount = 300", 1),
        ("amount < -1", 0),
    ):
        got = sorted(t.scan(data_filter=pred).collect())
        assert t.last_scan_pruning == {"candidate_dirs": 4, "read_dirs": read}
        assert got == sorted(t.scan().filter(pred).collect()), pred


@pytest.mark.parametrize(
    "footer, reason",
    [
        (None, "no usable min/max"),
        (ValueError("bad footer"), "ValueError: bad footer"),
    ],
)
def test_fallback_is_logged(spark, tmp_path, monkeypatch, caplog, footer, reason):
    def _footers(self, path, numeric):
        if isinstance(footer, Exception):
            raise footer
        return footer

    monkeypatch.setattr(LocalTable, "_dir_stats_from_footers", _footers)
    t = _table(spark, tmp_path, "id INT, amount DECIMAL(10,2)")
    with caplog.at_level(
        logging.DEBUG, logger="iceberg_v2_to_v3_upgrade_spark.tables.table"
    ):
        d = _insert_new_dir(
            t, spark.sql("SELECT CAST(id AS INT) AS id, id * 1.5 AS amount "
                         "FROM range(3)")
        )
    [rec] = [r for r in caplog.records if "dir stats" in r.getMessage()]
    assert rec.levelno == logging.DEBUG
    assert d in rec.getMessage() and reason in rec.getMessage()
    assert t._meta["dir_stats"][d] == {
        "id": [0, 2], "amount": t._dir_stats_from_read(d, ["amount"])["amount"]
    }
