"""Declared queries, round 3 batch L: V3 default column values.

Reference parity: the reference upgrades tables to format-version 3 for
its new features (``internal/upgrade_table.py``); *default column values*
are one of V3's headline spec additions — ``ADD COLUMN ... DEFAULT``
gives pre-ALTER rows the default at read time (initial-default) with
zero file rewrites, where V2 could only null-fill. i26 proves the whole
arc end-to-end: V2 create → V3 upgrade → defaulted ADD COLUMN through
the SQL gateway → MoR DELETE and post-ALTER inserts (explicit values
and an explicit NULL, which must STAY null) → one stitched scan.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# --------------------------------------------------------------- i26


_DEFAULTS_ORACLE = """
    SELECT n_nationkey, n_name, 'standard' AS tier
    FROM nation WHERE n_nationkey <> 3
    UNION ALL
    SELECT 900 AS n_nationkey, 'ATLANTIS' AS n_name, 'premium' AS tier
    UNION ALL
    SELECT 901 AS n_nationkey, 'LEMURIA' AS n_name,
           CAST(NULL AS VARCHAR) AS tier
    ORDER BY n_nationkey
"""


@declare("i26_default_values", oracle=_DEFAULTS_ORACLE, tags=("ddl", "lifecycle"))
def i26_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 initial-default column values: rows written before
    ``ADD COLUMN tier STRING DEFAULT 'standard'`` read 'standard' (not
    NULL) with no file rewrite; rows written after store real values —
    including an explicit NULL, which must stay NULL (the default is not
    a read-time coalesce). A MoR DELETE in between proves defaults
    compose with the positional-delete read path. The ALTER goes through
    the SQL gateway (`ALTER TABLE ... ADD COLUMN ... DEFAULT`), the rest
    through the table API."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="defaults_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "def_db", "nation_d", "n_nationkey BIGINT, n_name STRING"
    )
    t.insert(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    t.set_properties({"format-version": "3"})
    EngineSQL(catalog).execute_one(
        "ALTER TABLE def_db.nation_d ADD COLUMN tier STRING DEFAULT 'standard'"
    )
    t = catalog.load_table("def_db", "nation_d")  # reload evolved schema
    t.delete_where("n_nationkey = 3")
    t.insert(
        spark.createDataFrame(
            [(900, "ATLANTIS", "premium"), (901, "LEMURIA", None)],
            "n_nationkey BIGINT, n_name STRING, tier STRING",
        )
    )
    return (
        t.scan()
        .select("n_nationkey", "n_name", "tier")
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------- d21


_DRIFT_ORACLE = """
    SELECT * FROM (VALUES
        ('id',    'unchanged', 'bigint'),
        ('note',  'renamed',   'note -> comment'),
        ('price', 'dropped',   'double'),
        ('qty',   'widened',   'int -> bigint'),
        ('tag',   'added',     'string'))
    AS t(col_name, change, detail)
    ORDER BY col_name
"""


@declare("d21_schema_drift_report", oracle=_DRIFT_ORACLE, tags=("ddl", "lifecycle"))
def d21_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report between a table's creation-time schema and its
    current one, resolved from the metadata schema log (`schema_at` — the
    Iceberg `schemas` list emulated) plus the rename log: every column
    classified added / dropped / renamed / widened / unchanged. The
    whole arc (add + rename + widen + drop) runs first, then the report
    is pure metadata — no data file is read."""
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="drift_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "drift_db",
        "orders_d",
        "id BIGINT, qty INT, price DOUBLE, note STRING",
    )
    t.insert(
        spark.createDataFrame(
            [(1, 2, 9.5, "first")], "id BIGINT, qty INT, price DOUBLE, note STRING"
        )
    )
    first_snap = t.current_snapshot().id
    t.add_column("tag", "STRING")
    t.rename_column("note", "comment")
    t.widen_column("qty", "bigint")
    t.drop_column("price")

    old = {
        f.name: f.dataType.simpleString()
        for f in t.declared_schema(t.schema_at(first_snap))
    }
    new = {
        f.name: f.dataType.simpleString()
        for f in t.declared_schema()
    }
    renamed = {r["from"]: r["to"] for r in t._meta.get("renames", [])}
    rows = []
    for name, dt in old.items():
        if name in renamed:
            rows.append((name, "renamed", f"{name} -> {renamed[name]}"))
        elif name not in new:
            rows.append((name, "dropped", dt))
        elif new[name] != dt:
            rows.append((name, "widened", f"{dt} -> {new[name]}"))
        else:
            rows.append((name, "unchanged", dt))
    for name, dt in new.items():
        if name not in old and name not in renamed.values():
            rows.append((name, "added", dt))
    return spark.createDataFrame(
        sorted(rows), "col_name string, change string, detail string"
    )


# --------------------------------------------------------------- i27


_CONDITIONAL_MERGE_ORACLE = """
    SELECT p_partkey,
           CASE WHEN p_partkey <= 200
                     AND round(p_retailprice * 2, 2) > 1500
                THEN round(round(p_retailprice * 2, 2) + 1, 2)
                ELSE p_retailprice END AS price
    FROM part
    UNION ALL
    SELECT p_partkey + 1000000 AS p_partkey,
           round(p_retailprice * 2, 2) AS price
    FROM part
    WHERE p_partkey <= 50 AND round(p_retailprice * 2, 2) <= 300
    ORDER BY p_partkey
"""


@declare(
    "i27_conditional_merge", oracle=_CONDITIONAL_MERGE_ORACLE, tags=("dml", "lifecycle")
)
def i27_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE through the SQL gateway: `WHEN MATCHED AND
    s.price > 1500 THEN UPDATE SET price = s.price + 1` leaves matched
    rows that fail the condition untouched (no delete entry, no rewrite
    — their files are not even cited in the new snapshot's delete
    ledger), and `WHEN NOT MATCHED AND s.price <= 300 THEN INSERT *`
    gates the insert leg independently. Oracle expresses both legs
    relationally (CASE + filtered UNION ALL)."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="condmerge_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "cm_db", "part_cm", "p_partkey BIGINT, price DOUBLE"
    )
    part = load_table(spark, sf_dir, "part")
    t.insert(
        part.select("p_partkey", F.col("p_retailprice").alias("price"))
    )
    source = part.filter(F.col("p_partkey") <= 200).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 2, 2).alias("price"),
    ).unionByName(
        part.filter(F.col("p_partkey") <= 50).select(
            (F.col("p_partkey") + 1000000).alias("p_partkey"),
            F.round(F.col("p_retailprice") * 2, 2).alias("price"),
        )
    )
    source.createOrReplaceTempView("cm_source")
    EngineSQL(catalog).execute_one(
        "MERGE INTO cm_db.part_cm t USING "
        "(SELECT p_partkey, price FROM cm_source) s "
        "ON t.p_partkey = s.p_partkey "
        "WHEN MATCHED AND s.price > 1500 THEN UPDATE SET price = round(s.price + 1, 2) "
        "WHEN NOT MATCHED AND s.price <= 300 THEN INSERT *"
    )
    return (
        catalog.load_table("cm_db", "part_cm")
        .scan()
        .select("p_partkey", "price")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------- i28


_MV_ORACLE = """
    WITH base AS (
        SELECT o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 10 <> 3
        UNION ALL
        SELECT o_orderpriority, o_totalprice * 2 FROM orders
        WHERE o_orderkey <= 500)
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) + 0.0 AS total,
           CAST(count(*) AS BIGINT) AS cnt
    FROM base GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@declare(
    "i28_materialized_view", oracle=_MV_ORACLE, tags=("ddl", "lifecycle", "mv")
)
def i28_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view with INCREMENTAL maintenance: the MV (grouped
    SUM/COUNT over orders) is created, then the base table takes a MoR
    DELETE and an append, then REFRESH delta-merges ONLY the changed
    rows into the MV via the CDC changelog (asserted incremental — the
    refresh message is checked, not hoped). The oracle recomputes the
    final aggregate from the mutated base relationally. Scale: the
    refresh reads O(changed rows), never the base table."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="mv_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "mv_db", "orders_b", "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE"
    )
    t.insert(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
    )
    sql = EngineSQL(catalog)
    sql.execute_one(
        "CREATE MATERIALIZED VIEW mv_db.pri_totals AS "
        "SELECT o_orderpriority, SUM(o_totalprice) AS total, COUNT(*) AS cnt "
        "FROM mv_db.orders_b GROUP BY o_orderpriority"
    )
    sql.execute_one("DELETE FROM mv_db.orders_b WHERE o_orderkey % 10 = 3")
    t = catalog.load_table("mv_db", "orders_b")  # see the DELETE commit
    t.insert(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_orderpriority",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
    )
    res = sql.execute_one("REFRESH MATERIALIZED VIEW mv_db.pri_totals")
    assert "(incremental)" in res.message, res.message
    return sql.execute_one(
        "SELECT o_orderpriority, round(total, 2) + 0.0 AS total, cnt "
        "FROM mv_db.pri_totals ORDER BY o_orderpriority"
    ).df


# --------------------------------------------------------------- i29


_INSERT_ONLY_MERGE_ORACLE = """
    SELECT o_orderkey, round(o_totalprice, 2) AS price, 'base' AS tag
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT o_orderkey + 2000000 AS o_orderkey,
           round(o_totalprice * 2, 2) AS price,
           CAST(NULL AS VARCHAR) AS tag
    FROM orders WHERE o_orderkey <= 300
    ORDER BY o_orderkey
"""


@declare(
    "i29_insert_only_merge",
    oracle=_INSERT_ONLY_MERGE_ORACLE,
    tags=("dml", "lifecycle"),
)
def i29_insert_only_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only MERGE with a column-list INSERT — the append-dedup
    ingest idiom (no WHEN MATCHED clause): re-delivered keys are left
    byte-identical (the overlapping source rows carry DOUBLED prices
    that must NOT appear), and `INSERT (o_orderkey, price) VALUES (...)`
    backfills the unlisted `tag` column with typed NULL (the Spark MERGE
    column-list contract). The snapshot is asserted append-only — an
    insert-only merge must produce zero delete entries, so at 100 TB the
    matched side costs one anti-join and no rewrite."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="insonly_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "im_db", "orders_im", "o_orderkey BIGINT, price DOUBLE, tag STRING"
    )
    orders = load_table(spark, sf_dir, "orders")
    t.insert(
        orders.filter(F.col("o_orderkey") <= 1000).select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.lit("base").alias("tag"),
        )
    )
    deletes_before = len(t.current_snapshot().delete_dirs)
    source = orders.filter(F.col("o_orderkey") <= 500).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 2, 2).alias("price"),
    ).unionByName(
        orders.filter(F.col("o_orderkey") <= 300).select(
            (F.col("o_orderkey") + 2000000).alias("o_orderkey"),
            F.round(F.col("o_totalprice") * 2, 2).alias("price"),
        )
    )
    source.createOrReplaceTempView("im_source")
    EngineSQL(catalog).execute_one(
        "MERGE INTO im_db.orders_im t USING "
        "(SELECT o_orderkey, price FROM im_source) s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, price) "
        "VALUES (s.o_orderkey, s.price)"
    )
    t = catalog.load_table("im_db", "orders_im")
    assert len(t.current_snapshot().delete_dirs) == deletes_before, (
        "insert-only merge must not write delete entries"
    )
    return (
        t.scan()
        .select("o_orderkey", "price", "tag")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------- i30


_INSERT_OVERWRITE_ORACLE = """
    SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderpriority <> '1-URGENT'
    UNION ALL
    SELECT o_orderkey + 5000000 AS o_orderkey, o_orderpriority,
           round(o_totalprice * 10, 2) AS price
    FROM orders
    WHERE o_orderkey <= 300 AND o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey
"""


@declare(
    "i30_insert_overwrite",
    oracle=_INSERT_OVERWRITE_ORACLE,
    tags=("dml", "lifecycle"),
)
def i30_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE through the SQL
    gateway): the restatement SELECT only produces '1-URGENT' rows, so
    exactly that partition is replaced in ONE atomic commit; the other
    four priority partitions keep their ORIGINAL data dirs (asserted —
    no rewrite, so a 100 TB backfill of one day touches one day). The
    touched-partition list is a distinct over the incoming partition
    values broadcast against the scan: metadata-sized, never row-sized."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="insow_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "ow_db",
        "orders_ow",
        "o_orderkey BIGINT, o_orderpriority STRING, price DOUBLE",
        partition_by=["o_orderpriority"],
    )
    orders = load_table(spark, sf_dir, "orders")
    t.insert(
        orders.filter(F.col("o_orderkey") <= 2000).select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("price"),
        )
    )
    dirs_before = set(t.current_snapshot().data_dirs)
    orders.filter(
        (F.col("o_orderkey") <= 300)
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        (F.col("o_orderkey") + 5000000).alias("o_orderkey"),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 10, 2).alias("price"),
    ).createOrReplaceTempView("ow_restated")
    EngineSQL(catalog).execute_one(
        "INSERT OVERWRITE ow_db.orders_ow "
        "SELECT o_orderkey, o_orderpriority, price FROM ow_restated"
    )
    t = catalog.load_table("ow_db", "orders_ow")
    assert dirs_before <= set(t.current_snapshot().data_dirs), (
        "untouched partitions must keep their original data dirs"
    )
    return (
        t.scan()
        .select("o_orderkey", "o_orderpriority", "price")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------- i31


_ADD_FILES_ORACLE = """
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 0
    ORDER BY o_orderkey
"""


@declare("i31_add_files", oracle=_ADD_FILES_ORACLE, tags=("lifecycle", "migration"))
def i31_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration via CALL system.add_files: pre-existing parquet files
    (written OUTSIDE the table) are registered without rewriting a byte,
    then a MoR DELETE lands positional delete entries against them —
    possible because add_files assigns each file a first_row_id and
    readers derive V3-lazy row ids from _metadata.row_index, which is
    deterministic for parquet. At 100 TB this is the onboarding path:
    import is footer-reads only, and the first retention DELETE does not
    force a table rewrite."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="addfiles_wh_")
    external = tempfile.mkdtemp(prefix="addfiles_ext_")
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000
    ).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price")
    ).repartition(4).write.mode("overwrite").parquet(external)

    catalog = LocalCatalog(spark, warehouse)
    catalog.create_table("mig_db", "orders_ext", "o_orderkey BIGINT, price DOUBLE")
    sql = EngineSQL(catalog)
    res = sql.execute_one(
        f"CALL system.add_files(table => 'mig_db.orders_ext', "
        f"source => '{external}')"
    )
    assert "added 4 file(s)" in res.message, res.message
    sql.execute_one("DELETE FROM mig_db.orders_ext WHERE o_orderkey % 7 = 0")
    t = catalog.load_table("mig_db", "orders_ext")
    assert external in t.current_snapshot().data_dirs, (
        "imported files must survive the MoR delete un-rewritten"
    )
    return t.scan().select("o_orderkey", "price").orderBy("o_orderkey")
