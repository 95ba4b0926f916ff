"""Declared lifecycle queries, part 4: the two V3-specific behaviors the
reference's upgrade unlocks — deletion-vector consolidation and row
lineage.

Reference parity: the V2->V3 upgrade exists to (a) collapse accumulated
positional delete files (README.md:26-29, the compaction with
``delete-file-threshold=1`` in internal/upgrade_table.py:124-129 — V3's
deletion vectors make that one compact tombstone blob per file), and (b)
expose ``next-row-id`` row lineage (README.md:43-45 — the metadata field
whose absence makes a mis-upgraded V3 table unreadable). i17 pins (a),
i18 pins (b): an UPDATE on a V3 table carries the row's ``_row_id`` into
its rewritten copy, which is what lets incremental consumers track a
logical row across rewrites.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

_DV_ORACLE = """
    SELECT p_brand,
           count(*) AS n_live,
           CAST(sum(p_partkey) AS BIGINT) AS key_sum
    FROM part
    WHERE p_partkey NOT IN (1, 3, 5, 7, 9, 11, 12, 13)
    GROUP BY p_brand ORDER BY p_brand
"""


@declare("i17_dv_consolidation", oracle=_DV_ORACLE, tags=("dml", "lifecycle"))
def i17_dv_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector consolidation: three MoR DELETE commits pile up
    three positional delete files; ``consolidate_deletes`` merges them
    into ONE tombstone blob (touching no data files — O(deleted rows)),
    after which the scan must still read exactly the same live rows.

    The delete-file count dropping to 1 is asserted in-query — that IS
    the V3 deletion-vector claim; the oracle then pins the live rows.
    """
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="dv_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "dv_db",
        "part_dv",
        "p_partkey BIGINT, p_brand STRING, p_retailprice DOUBLE",
    )
    t.insert(
        load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_retailprice"
        )
    )
    t.delete_where("p_partkey IN (1, 3, 5)")
    t.delete_where("p_partkey IN (7, 9, 11)")
    t.delete_where("p_partkey IN (12, 13)")
    assert len(t.current_snapshot().delete_dirs) == 3
    t.consolidate_deletes()
    n_delete_files = len(t.current_snapshot().delete_dirs)
    assert n_delete_files == 1, (
        f"consolidation left {n_delete_files} delete files, expected 1"
    )
    return (
        t.scan()
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum("p_partkey").alias("key_sum"),
        )
        .orderBy("p_brand")
    )


_LINEAGE_ORACLE = """
    SELECT c_mktsegment,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_lineage_preserved,
           round(sum(CASE WHEN c_mktsegment = 'BUILDING'
                          THEN c_acctbal + 10.0 ELSE c_acctbal END), 2)
               AS balance_sum
    FROM customer
    GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@declare("i18_row_lineage", oracle=_LINEAGE_ORACLE, tags=("dml", "lifecycle"))
def i18_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 row lineage through UPDATE: after the 2->3 upgrade, a MoR
    UPDATE re-appends each matched row under its ORIGINAL ``_row_id``
    (carried-over ids) instead of minting fresh ones — so an incremental
    consumer can follow a logical row across rewrites.

    The query captures the id of every row before the update (keyed by
    ``c_custkey``), updates one segment, then counts per segment how many
    updated rows kept their id. ``n_lineage_preserved`` must equal
    ``n_updated`` — the oracle states both from the fixture, so a
    regression to fresh-id rewrites hash-mismatches immediately.
    """
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="lineage_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "rl_db",
        "customer_v3",
        "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE",
    )
    t.insert(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
    )
    t.set_properties({"format-version": "3"})
    before = (
        t.scan(with_row_lineage=True)
        .select("c_custkey", F.col("_row_id").alias("id_before"))
    )
    scope.persist(before).count()  # pin pre-update ids before the table mutates
    t.update_set(
        {"c_acctbal": "c_acctbal + 10.0"}, "c_mktsegment = 'BUILDING'"
    )
    after = t.scan(with_row_lineage=True).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.col("_row_id").alias("id_after"),
    )
    updated = F.col("c_mktsegment") == "BUILDING"
    return (
        after.join(before, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(updated, 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.sum(
                F.when(
                    updated & (F.col("id_after") == F.col("id_before")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_lineage_preserved"),
            F.round(F.sum("c_acctbal"), 2).alias("balance_sum"),
        )
        .orderBy("c_mktsegment")
    )
