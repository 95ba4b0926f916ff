"""Per-data-dir min/max taken from parquet footers at write time.

The one footer pass over a new data dir (``LocalTable._record_new_dir``)
must give exactly the stats of a Spark min/max aggregation of the dir
(``_exact_stats`` below, the oracle) on every numeric type Spark writes —
decimals in their INT32, INT64 and FIXED_LEN_BYTE_ARRAY layouts included
— while opening each new file's footer once. A column with a NaN bound
gets no entry, as Iceberg's bounds leave NaN out. Scans prune on these
stats (``last_scan_pruning``) and must return what an unpruned scan
does."""

from __future__ import annotations

import decimal
import glob
import logging
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from iceberg_v2_to_v3_upgrade_spark.cli import DEMO_ROWS, DEMO_SCHEMA
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import (
    LocalTable,
    _stats_range,
)

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
    "struct_leaf_shares_a_column_name": (
        "k INT, s STRUCT<k: INT, x: DOUBLE>",
        None,
        # the leaf s.k is also named k in the footer; only the
        # top-level k may give k's bounds
        "SELECT CAST(id AS INT) AS k, "
        "named_struct('k', CAST(id * 100 AS INT), 'x', id / 2.0) AS s",
        {"k": "INT32"},
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


def _exact_stats(t: LocalTable, d: str) -> dict:
    """The oracle: one Spark min/max aggregation over dir ``d``."""
    cols = list(t._stats_columns())
    row = (
        t._read_one_dir(d, t.schema_ddl + ", _row_id long")
        .agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        )
        .collect()[0]
    )
    return {
        c: _stats_range(row[f"lo_{c}"], row[f"hi_{c}"])
        for c in cols
        if row[f"lo_{c}"] is not None
    }


def _parquet_paths(d: str) -> list[str]:
    return glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)


def _physical_types(path: str) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for f in _parquet_paths(path):
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
        footer = t._meta["dir_stats"][d]
        assert footer == _exact_stats(t, d)
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
    """Each write opens each file of its new data dir's footer once, for
    the row-id watermark and the dir stats together, and reads no data."""
    opened: list[str] = []
    real = pq.ParquetFile

    def _counting(path, *args, **kwargs):
        opened.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", _counting)
    t = _table(spark, tmp_path, DEMO_SCHEMA, ["category"])
    for write in (
        lambda: t.insert_values(DEMO_ROWS),
        lambda: t.delete_where("id IN (2, 4, 6)"),
        lambda: t.update_set(
            {"amount": "amount * 1.1"}, "category = 'electronics'"
        ),
        t.rewrite_data_files,
    ):
        before = set(t.current_snapshot().data_dirs)
        opened.clear()
        write()
        new = set(t.current_snapshot().data_dirs) - before
        assert sorted(opened) == sorted(
            f for d in new for f in _parquet_paths(d)
        )
    snap = t.current_snapshot()
    assert t.count() == 7 and not snap.delete_dirs
    for d in snap.data_dirs:
        assert set(t._meta["dir_stats"][d]) == {"id", "amount"}


def test_stats_range_is_exact_unless_a_float_rounds():
    D = decimal.Decimal
    assert _stats_range(D("0.00"), D("99.00")) == [0.0, 99.0]
    assert _stats_range(-3, 2**63) == [-3, 2**63]
    assert _stats_range(-0.5, 1.25) == [-0.5, 1.25]
    lo, hi = _stats_range(D("0.10"), D("0.30"))
    assert D(lo) < D("0.10") and D(hi) > D("0.30")


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
        # exact bounds: the first dir holds exactly [0.00, 99.00]
        ("amount < 0", 0),
        ("amount > 99", 3),
        # a literal a float would round onto 99.0 still reads that dir
        ("amount > 98.9999999999999999", 4),
    ):
        got = sorted(t.scan(data_filter=pred).collect())
        assert t.last_scan_pruning == {"candidate_dirs": 4, "read_dirs": read}
        assert got == sorted(t.scan().filter(pred).collect()), pred


def test_float_pruning_converts_literals_as_spark_does(spark, tmp_path):
    """Spark casts a literal to double against DOUBLE and FLOAT columns,
    so the exact double bounds [0.1, 0.1] keep their dir for ``d = 0.1``
    and 2**53 + 1 meets 2**53. Without ANSI mode an integer literal
    meets FLOAT as a float32, so 2**24 + 1 never prunes a FLOAT dir."""
    t = _table(spark, tmp_path, "id INT, d DOUBLE, f FLOAT")
    for i, d, f in (
        (1, "0.1", "16777216"), (2, "0.3", "0"), (3, "9007199254740992", "0")
    ):
        t.insert(spark.sql(
            f"SELECT {i} AS id, CAST({d} AS DOUBLE) AS d, "
            f"CAST({f} AS FLOAT) AS f"
        ))
    assert sorted(t._meta["dir_stats"].values(), key=lambda s: s["id"]) == [
        {"id": [1, 1], "d": [0.1, 0.1], "f": [16777216.0, 16777216.0]},
        {"id": [2, 2], "d": [0.3, 0.3], "f": [0.0, 0.0]},
        {"id": [3, 3], "d": [2.0**53, 2.0**53], "f": [0.0, 0.0]},
    ]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for pred, read in (
                ("d = 0.1", 1),
                ("d <= 0.1", 1),
                ("d >= 0.3", 2),
                ("d = 0.2", 0),
                ("d = 9007199254740993", 1),
                ("f = 16777217", 3),
                ("f = 16777216", 1),
            ):
                got = sorted(t.scan(data_filter=pred).collect())
                assert t.last_scan_pruning == {
                    "candidate_dirs": 3, "read_dirs": read
                }, (mode, pred)
                assert got == sorted(t.scan().filter(pred).collect()), (
                    mode, pred
                )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_nan_column_gets_no_bounds(spark, tmp_path, caplog):
    t = _table(spark, tmp_path, "id INT, d DOUBLE")
    with caplog.at_level(
        logging.DEBUG, logger="iceberg_v2_to_v3_upgrade_spark.tables.table"
    ):
        new = _insert_new_dir(t, spark.sql(
            "SELECT CAST(id AS INT) AS id, "
            "IF(id = 5, CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) AS d "
            "FROM range(6)"
        ))
    assert t._meta["dir_stats"][new] == {"id": [0, 5]}
    [rec] = [r for r in caplog.records if "dir stats" in r.getMessage()]
    assert rec.levelno == logging.DEBUG
    assert new in rec.getMessage() and "['d']" in rec.getMessage()
    # Spark orders NaN above every double, so d > 4 holds the NaN row;
    # the dir still prunes on id
    for pred, ids, read in (
        ("d = 3", [3], 1), ("d > 4", [5], 1), ("id > 5", [], 0)
    ):
        got = sorted(r.id for r in t.scan(data_filter=pred).collect())
        assert t.last_scan_pruning == {"candidate_dirs": 1, "read_dirs": read}
        assert got == ids == sorted(
            r.id for r in t.scan().filter(pred).collect()
        ), pred


def test_unreadable_footer_fails_the_write(spark, tmp_path, monkeypatch):
    """No fallback: a footer that cannot be read fails the write before
    it commits, as the row-id watermark needs every file's ids."""
    t = _table(spark, tmp_path, "id INT, amount DECIMAL(10,2)")
    before = t.current_snapshot().id

    def _unreadable(path, *args, **kwargs):
        raise OSError(f"cannot read footer of {path}")

    monkeypatch.setattr(pq, "ParquetFile", _unreadable)
    with pytest.raises(OSError, match="cannot read footer"):
        t.insert(spark.sql("SELECT CAST(id AS INT) AS id, id * 1.5 AS amount "
                           "FROM range(3)"))
    assert t.current_snapshot().id == before
