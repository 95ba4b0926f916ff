"""MERGE INTO (API + SQL), schema evolution, and time-travel SQL."""

from __future__ import annotations

import pytest

from iceberg_v2_to_v3_upgrade_spark.cli import DEMO_ROWS, DEMO_SCHEMA
from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError


@pytest.fixture()
def catalog(spark, tmp_path):
    return LocalCatalog(spark, str(tmp_path / "wh"))


@pytest.fixture()
def demo_table(catalog):
    t = catalog.create_table(
        "demo_db", "v2_mor_demo", DEMO_SCHEMA, partition_by=["category"]
    )
    t.insert_values(DEMO_ROWS)
    return t


def test_merge_upsert_api(spark, catalog, demo_table):
    import datetime
    from decimal import Decimal

    t = demo_table
    src = spark.createDataFrame(
        [
            (1, "Product A+", "electronics", Decimal("111.11"),
             datetime.datetime(2026, 2, 1)),  # update existing
            (99, "Product Z", "clothing", Decimal("9.99"),
             datetime.datetime(2026, 2, 1)),  # brand new
        ],
        DEMO_SCHEMA,
    )
    snap = t.merge_into(src, ["id"], when_matched="update",
                        when_not_matched="insert")
    assert snap.operation == "merge"
    rows = {r.id: r for r in t.scan().collect()}
    assert len(rows) == 11
    assert rows[1].name == "Product A+"
    assert float(rows[1].amount) == pytest.approx(111.11)
    assert rows[99].name == "Product Z"
    assert rows[2].name == "Product B"  # untouched

    # matched-delete mode
    t.merge_into(src.select("id"), ["id"], when_matched="delete",
                 when_not_matched=None)
    ids = {r.id for r in t.scan().collect()}
    assert 1 not in ids and 99 not in ids and len(ids) == 9


def test_merge_set_expressions(spark, catalog, demo_table):
    t = demo_table
    src = spark.createDataFrame([(3, 2.0), (5, 3.0)], "id int, factor double")
    t.merge_into(
        src,
        ["id"],
        when_matched={"amount": "t.amount * s.factor"},
        when_not_matched=None,
    )
    rows = {r.id: float(r.amount) for r in t.scan().collect()}
    assert rows[3] == pytest.approx(599.98)  # 299.99 * 2
    assert rows[5] == pytest.approx(239.97)  # 79.99 * 3
    assert len(rows) == 10


def test_merge_insert_requires_full_schema(spark, catalog, demo_table):
    src = spark.createDataFrame([(42,)], "id int")
    with pytest.raises(TableError, match="missing"):
        demo_table.merge_into(src, ["id"], when_not_matched="insert")


def test_schema_evolution(spark, catalog, demo_table):
    t = demo_table
    t.add_column("discount", "double")
    # old rows read the new column as null
    assert all(r.discount is None for r in t.scan().collect())
    import datetime
    from decimal import Decimal

    t.insert(
        spark.createDataFrame(
            [(11, "Product K", "clothing", Decimal("5.00"),
              datetime.datetime(2026, 3, 1), 0.25)],
            DEMO_SCHEMA + ", discount DOUBLE",
        )
    )
    rows = {r.id: r for r in t.scan().collect()}
    assert rows[11].discount == 0.25 and rows[1].discount is None
    with pytest.raises(TableError, match="already exists"):
        t.add_column("discount", "double")

    t.drop_column("discount")
    assert "discount" not in t.scan().columns
    with pytest.raises(TableError, match="partition"):
        t.drop_column("category")
    with pytest.raises(TableError, match="not in table schema"):
        t.insert(
            spark.createDataFrame(
                [(12, "x", "clothing", Decimal("1.00"),
                  datetime.datetime(2026, 3, 1), 0.5)],
                DEMO_SCHEMA + ", discount DOUBLE",
            )
        )


def test_rename_column_metadata_only(spark, catalog, demo_table):
    """RENAME COLUMN never rewrites files: pre-rename files keep serving
    their bytes under the new name (rename-log resolution standing in for
    Iceberg field ids), post-rename writes carry the new physical name,
    and compaction mixes both without changing results."""
    import datetime
    from decimal import Decimal

    t = demo_table
    before = {r.id: r.amount for r in t.scan().collect()}
    n_before = len(before)

    t.rename_column("amount", "price")
    got = {r.id: r.price for r in t.scan().collect()}
    assert got == before  # old bytes, new name — NOT null-filled
    assert "amount" not in t.scan().columns

    # writes after the rename use the new name physically
    t.insert(
        spark.createDataFrame(
            [(21, "Product R", "furniture", Decimal("77.00"),
              datetime.datetime(2026, 5, 1))],
            DEMO_SCHEMA.replace("amount", "price"),
        )
    )
    rows = {r.id: r.price for r in t.scan().collect()}
    assert rows[21] == Decimal("77.00") and rows[1] == before[1]

    # DML through the renamed column; compaction stays invisible
    t.update_set({"price": "price * 2"}, "id = 21")
    assert {r.price for r in t.scan().filter("id = 21").collect()} == {
        Decimal("154.00")
    }
    pre = sorted(map(tuple, t.scan().collect()))
    t.rewrite_data_files(rewrite_all=True)
    assert sorted(map(tuple, t.scan().collect())) == pre
    assert t.count() == n_before + 1

    # chained rename after compaction still resolves
    t.rename_column("price", "unit_price")
    assert {r.id: r.unit_price for r in t.scan().collect()}[1] == before[1]

    # guards: partition column, name reuse, unknown/duplicate names
    with pytest.raises(TableError, match="partition"):
        t.rename_column("category", "cat")
    with pytest.raises(TableError, match="rename history"):
        t.add_column("amount", "double")
    with pytest.raises(TableError, match="rename history"):
        t.rename_column("name", "price")
    with pytest.raises(TableError, match="no column"):
        t.rename_column("ghost", "g2")


def test_schema_evolution_sql_surface(spark, catalog, demo_table):
    """ALTER TABLE ADD/DROP/RENAME COLUMN through the SQL router."""
    engine = EngineSQL(catalog)

    def cols():  # reload: ALTER writes metadata, instances don't share it
        return catalog.load_table("demo_db", "v2_mor_demo").scan().columns

    engine.execute_one(
        "ALTER TABLE demo_db.v2_mor_demo ADD COLUMN discount double"
    )
    assert "discount" in cols()
    engine.execute_one(
        "ALTER TABLE demo_db.v2_mor_demo RENAME COLUMN discount TO rebate"
    )
    assert "rebate" in cols()
    engine.execute_one(
        "ALTER TABLE demo_db.v2_mor_demo DROP COLUMN rebate"
    )
    assert "rebate" not in cols()
    # renamed data column remains queryable through plain SELECT
    engine.execute_one(
        "ALTER TABLE demo_db.v2_mor_demo RENAME COLUMN amount TO price"
    )
    total = engine.execute_one(
        "SELECT round(sum(price), 2) AS s FROM demo_db.v2_mor_demo"
    ).df.collect()[0].s
    assert total is not None and total > 0


def test_widen_column_type_promotion(spark, catalog):
    """Iceberg type promotion: int->bigint / float->double /
    decimal(p,s)->decimal(p+,s) are metadata-only (the parquet reader
    upcasts old narrow files); everything else is refused."""
    t = catalog.create_table(
        "db", "widen_t", "id INT, score FLOAT, total DECIMAL(8,2)"
    )
    from decimal import Decimal

    t.insert(
        spark.createDataFrame(
            [(1, 1.5, Decimal("12.34")), (2, 2.5, Decimal("56.78"))],
            "id int, score float, total decimal(8,2)",
        )
    )
    t.widen_column("id", "bigint")
    t.widen_column("score", "double")
    t.widen_column("total", "decimal(14,2)")
    got = {r.id: (r.score, r.total) for r in t.scan().collect()}
    assert got == {1: (1.5, Decimal("12.34")), 2: (2.5, Decimal("56.78"))}
    assert dict(t.scan().dtypes) == {
        "id": "bigint", "score": "double", "total": "decimal(14,2)",
    }

    # a value only the widened types can hold, written post-promotion
    t.insert(
        spark.createDataFrame(
            [(2**40, 3.5, Decimal("999999999999.99"))],
            "id bigint, score double, total decimal(14,2)",
        )
    )
    assert t.scan().filter(f"id = {2**40}").count() == 1

    # compaction rewrites old narrow files into the wide schema, invisibly
    pre = sorted(map(tuple, t.scan().collect()))
    t.rewrite_data_files(rewrite_all=True)
    assert sorted(map(tuple, t.scan().collect())) == pre

    # widen composes with rename: old files resolve name AND upcast type
    t.rename_column("score", "quality")
    assert {r.id: r.quality for r in t.scan().collect()}[1] == 1.5

    for col, bad in [
        ("id", "int"),          # narrowing
        ("quality", "float"),   # narrowing
        ("total", "decimal(14,4)"),  # scale change
        ("total", "string"),    # cross-family
    ]:
        with pytest.raises(TableError, match="illegal type promotion"):
            t.widen_column(col, bad)

    # SQL surface
    engine = EngineSQL(catalog)
    catalog.create_table("db", "widen_sql", "a INT, b FLOAT")
    engine.execute_one("ALTER TABLE db.widen_sql ALTER COLUMN a TYPE bigint")
    assert dict(catalog.load_table("db", "widen_sql").scan().dtypes)["a"] == (
        "bigint"
    )


def test_merge_and_time_travel_sql(spark, catalog, demo_table):
    engine = EngineSQL(catalog)
    snap_before = demo_table.current_snapshot().id
    res = engine.execute_one(
        "MERGE INTO demo_db.v2_mor_demo t USING "
        "(SELECT 1 AS id, 'Merged' AS name, 'electronics' AS category, "
        "CAST(42.00 AS DECIMAL(10,2)) AS amount, "
        "TIMESTAMP '2026-04-01 00:00:00' AS created_at) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert res.kind == "merge"
    now = engine.execute_one(
        "SELECT name FROM demo_db.v2_mor_demo WHERE id = 1"
    ).df.collect()
    assert now[0].name == "Merged"
    # time travel back to before the merge
    was = engine.execute_one(
        f"SELECT name FROM demo_db.v2_mor_demo VERSION AS OF {snap_before} "
        "WHERE id = 1"
    ).df.collect()
    assert was[0].name == "Product A"


def test_merge_conditional_clauses_sql(spark, catalog):
    """WHEN MATCHED AND <cond> / expression-level SET / conditional
    NOT MATCHED insert, all through the gateway."""
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.acct (id BIGINT, bal DOUBLE) USING iceberg;"
        "INSERT INTO glue_catalog.mdb.acct VALUES (1, 10.0), (2, 20.0), (3, 30.0)"
    )
    # matched rows with s.bal > 15 get t.bal + s.bal; others untouched;
    # unmatched source rows insert only when bal >= 5
    engine.execute_one(
        "MERGE INTO mdb.acct t USING "
        "(SELECT 1 AS id, CAST(100.0 AS DOUBLE) AS bal "
        " UNION ALL SELECT 2, CAST(5.0 AS DOUBLE) "
        " UNION ALL SELECT 4, CAST(4.0 AS DOUBLE) "
        " UNION ALL SELECT 5, CAST(50.0 AS DOUBLE)) s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.bal > 15 THEN UPDATE SET bal = t.bal + s.bal "
        "WHEN NOT MATCHED AND s.bal >= 5 THEN INSERT *"
    )
    rows = {
        r.id: r.bal
        for r in engine.execute_one(
            "SELECT id, bal FROM mdb.acct"
        ).df.collect()
    }
    # id=1 matched+cond -> 110; id=2 matched, cond false -> untouched 20;
    # id=3 never in source -> 30; id=4 unmatched, bal<5 -> NOT inserted;
    # id=5 unmatched, bal>=5 -> inserted
    assert rows == {1: 110.0, 2: 20.0, 3: 30.0, 5: 50.0}


def test_merge_conditional_delete_sql(spark, catalog):
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.d (id BIGINT, v BIGINT) USING iceberg;"
        "INSERT INTO glue_catalog.mdb.d VALUES (1, 1), (2, 2), (3, 3)"
    )
    engine.execute_one(
        "MERGE INTO mdb.d t USING "
        "(SELECT 1 AS id UNION ALL SELECT 2 UNION ALL SELECT 3) s "
        "ON t.id = s.id "
        "WHEN MATCHED AND t.v >= 2 THEN DELETE"
    )
    rows = sorted(
        r.id
        for r in engine.execute_one("SELECT id FROM mdb.d").df.collect()
    )
    assert rows == [1]  # v=1 fails the condition, survives


def test_merge_insert_only_sql(spark, catalog):
    """Insert-only MERGE — the append-dedup ingest idiom: no WHEN MATCHED
    clause at all; existing keys are left byte-identical (no delete
    entries, no rewrite)."""
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.ing (id BIGINT, v BIGINT) USING iceberg;"
        "INSERT INTO glue_catalog.mdb.ing VALUES (1, 10), (2, 20)"
    )
    t = catalog.load_table("mdb", "ing")
    deletes_before = len(t.current_snapshot().delete_dirs)
    engine.execute_one(
        "MERGE INTO mdb.ing t USING "
        "(SELECT 1 AS id, CAST(999 AS BIGINT) AS v "
        " UNION ALL SELECT 3, CAST(30 AS BIGINT)) s "
        "ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {
        r.id: r.v
        for r in engine.execute_one("SELECT id, v FROM mdb.ing").df.collect()
    }
    assert rows == {1: 10, 2: 20, 3: 30}  # id=1 NOT updated to 999
    t = catalog.load_table("mdb", "ing")
    assert len(t.current_snapshot().delete_dirs) == deletes_before


def test_merge_column_list_insert_sql(spark, catalog):
    """INSERT (cols) VALUES (exprs): expressions may transform source
    columns; unlisted target columns land as typed NULL."""
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.cl "
        "(id BIGINT, v DOUBLE, tag STRING) USING iceberg;"
        "INSERT INTO glue_catalog.mdb.cl VALUES (1, 1.0, 'old')"
    )
    engine.execute_one(
        "MERGE INTO mdb.cl t USING "
        "(SELECT 2 AS id, CAST(5.0 AS DOUBLE) AS v) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v * 2)"
    )
    rows = {r.id: r for r in engine.execute_one(
        "SELECT id, v, tag FROM mdb.cl").df.collect()}
    assert rows[2].v == 10.0
    assert rows[2].tag is None
    assert rows[1].tag == "old"


def test_merge_column_list_validation(spark, catalog):
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.cv (id BIGINT, v BIGINT) USING iceberg"
    )
    with pytest.raises(TableError, match="arity"):
        engine.execute_one(
            "MERGE INTO mdb.cv t USING (SELECT 1 AS id, 2 AS v) s "
            "ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id)"
        )
    with pytest.raises(TableError, match="not in table schema"):
        engine.execute_one(
            "MERGE INTO mdb.cv t USING (SELECT 1 AS id, 2 AS v) s "
            "ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (bogus) VALUES (s.id)"
        )


def test_merge_column_list_case_insensitive(spark, catalog):
    engine = EngineSQL(catalog)
    engine.execute(
        "CREATE TABLE glue_catalog.mdb.ci (id BIGINT, v BIGINT) USING iceberg"
    )
    engine.execute_one(
        "MERGE INTO mdb.ci t USING (SELECT 1 AS id, 2 AS v) s "
        "ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (ID, V) VALUES (s.id, s.v)"
    )
    rows = engine.execute_one("SELECT id, v FROM mdb.ci").df.collect()
    assert [(r.id, r.v) for r in rows] == [(1, 2)]


def test_merge_aligns_source_types_to_declared_schema(spark, catalog):
    """An ``INT/DOUBLE`` source merged into ``BIGINT/DECIMAL(10,2)``
    writes the declared types, so later scans still read the table."""
    from decimal import Decimal

    t = catalog.create_table("mdb", "types", "id BIGINT, amount DECIMAL(10,2)")
    t.insert_values([(1, Decimal("1.00")), (3, Decimal("3.00"))])
    src = spark.createDataFrame([(1, 2.5), (2, 3.25)], "id INT, amount DOUBLE")
    t.merge_into(src, ["id"])
    assert sorted((r.id, r.amount) for r in t.scan().collect()) == [
        (1, Decimal("2.50")),
        (2, Decimal("3.25")),
        (3, Decimal("3.00")),
    ]
    (new_dir,) = t.current_snapshot().added_dirs
    written = spark.read.parquet(new_dir).schema
    assert [(f.name, f.dataType.simpleString()) for f in written] == [
        ("id", "bigint"),
        ("amount", "decimal(10,2)"),
        ("_row_id", "bigint"),
    ]


def test_merge_resolves_source_columns_case_insensitively(spark, catalog):
    """An upper-case source column matches its declared column on both
    sides of a MERGE: the insert side takes it, and the update side SETs
    it instead of rewriting the matched row unchanged."""
    t = catalog.create_table("mdb", "upper", "id BIGINT, amount DOUBLE")
    t.insert_values([(1, 1.0), (3, 3.0)])
    src = spark.createDataFrame([(1, 10.0), (2, 20.0)], "ID BIGINT, AMOUNT DOUBLE")
    t.merge_into(src, ["id"])
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, 10.0),
        (2, 20.0),
        (3, 3.0),
    ]
    src = spark.createDataFrame([(3, 30.0)], "ID BIGINT, AMOUNT DOUBLE")
    t.merge_into(src, ["id"], when_not_matched=None)
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, 10.0),
        (2, 20.0),
        (3, 30.0),
    ]
