"""The reference's verbatim SQL program shapes executed through EngineSQL —
'a user of the reference could switch and run every query they run today'.

Statement shapes follow /root/reference/internal/create_demo_table.py:97-138,
internal/upgrade_table.py:124-131, internal/test_v3_mor_deletes.py:39-48 and
README.md:26-38 (re-typed from the survey, not copied).
"""

from __future__ import annotations

import pytest

from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

DEMO_PROGRAM = """
DROP TABLE IF EXISTS glue_catalog.demo_db.v2_mor_demo;

CREATE TABLE glue_catalog.demo_db.v2_mor_demo (
    id INT,
    name STRING,
    category STRING,
    amount DECIMAL(10,2),
    created_at TIMESTAMP
) USING iceberg
PARTITIONED BY (category)
TBLPROPERTIES (
    'format-version' = '2',
    'write.delete.mode' = 'merge-on-read',
    'write.update.mode' = 'merge-on-read'
);

INSERT INTO glue_catalog.demo_db.v2_mor_demo VALUES
    (1, 'Product A', 'electronics', 100.50, current_timestamp()),
    (2, 'Product B', 'clothing', 49.99, current_timestamp()),
    (3, 'Product C', 'electronics', 299.99, current_timestamp()),
    (4, 'Product D', 'furniture', 599.00, current_timestamp()),
    (5, 'Product E', 'clothing', 79.99, current_timestamp()),
    (6, 'Product F', 'electronics', 149.99, current_timestamp()),
    (7, 'Product G', 'furniture', 899.00, current_timestamp()),
    (8, 'Product H', 'clothing', 29.99, current_timestamp()),
    (9, 'Product I', 'electronics', 199.99, current_timestamp()),
    (10, 'Product J', 'furniture', 399.00, current_timestamp());

DELETE FROM glue_catalog.demo_db.v2_mor_demo WHERE id IN (2, 4, 6);

UPDATE glue_catalog.demo_db.v2_mor_demo
SET amount = amount * 1.1
WHERE category = 'electronics';

SELECT 'Demo table created' AS status;

SELECT * FROM glue_catalog.demo_db.v2_mor_demo ORDER BY id
"""


@pytest.fixture()
def engine(spark, tmp_path):
    return EngineSQL(LocalCatalog(spark, str(tmp_path / "wh")))


def test_reference_demo_program(engine):
    results = engine.execute(DEMO_PROGRAM)
    kinds = [r.kind for r in results]
    assert kinds == [
        "drop_table",
        "create_table",
        "insert",
        "delete",
        "update",
        "select",
        "select",
    ]
    status = results[5].df.collect()
    assert status[0].status == "Demo table created"
    rows = results[6].df.collect()
    assert [r.id for r in rows] == [1, 3, 5, 7, 8, 9, 10]
    amounts = {r.id: float(r.amount) for r in rows}
    assert amounts[1] == pytest.approx(110.55)  # 100.50 * 1.1
    assert amounts[5] == pytest.approx(79.99)  # non-electronics untouched
    # MoR: mutations appended delete files, no data rewrite
    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    assert len(t.current_snapshot().delete_dirs) == 2


def test_reference_upgrade_program(engine):
    engine.execute(DEMO_PROGRAM)

    # upgrade_table.py:127-131 statement sequence
    results = engine.execute("""
        ALTER TABLE glue_catalog.demo_db.v2_mor_demo
        SET TBLPROPERTIES ('format-version' = '3');
        CALL system.rewrite_data_files(
            table => 'glue_catalog.demo_db.v2_mor_demo',
            options => map('rewrite-all', 'true', 'delete-file-threshold', '1'))
    """)
    assert [r.kind for r in results] == ["alter", "rewrite_data_files"]

    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    assert t.format_version == 3
    assert t.properties.get("next-row-id") is not None
    assert t.current_snapshot().delete_dirs == []
    assert t.count() == 7

    # test_v3_mor_deletes.py:39-48 arc: count probes around a V3 MoR delete
    before = engine.execute_one(
        "SELECT 'Before delete:' AS status, COUNT(*) AS cnt "
        "FROM glue_catalog.demo_db.v2_mor_demo"
    ).df.collect()[0]
    assert before.cnt == 7
    engine.execute_one(
        "DELETE FROM glue_catalog.demo_db.v2_mor_demo WHERE id = 1"
    )
    after = engine.execute_one(
        "SELECT 'After delete:' AS status, COUNT(*) AS cnt "
        "FROM glue_catalog.demo_db.v2_mor_demo"
    ).df.collect()[0]
    assert after.cnt == 6

    # README.md:34-38 snapshot expiry
    res = engine.execute_one(
        "CALL system.expire_snapshots(table => "
        "'glue_catalog.demo_db.v2_mor_demo', "
        "older_than => TIMESTAMP '2030-01-01 00:00:00', retain_last => 1)"
    )
    assert res.kind == "expire_snapshots"
    assert engine.catalog.load_table("demo_db", "v2_mor_demo").count() == 6


def test_describe_and_limit_probes(engine):
    engine.execute(DEMO_PROGRAM)
    desc = engine.execute_one(
        "DESCRIBE TABLE glue_catalog.demo_db.v2_mor_demo"
    ).df.collect()
    assert {r.col_name for r in desc} >= {"id", "name", "category", "amount"}
    sample = engine.execute_one(
        "SELECT * FROM glue_catalog.demo_db.v2_mor_demo LIMIT 5"
    ).df.collect()
    assert len(sample) == 5


def test_metadata_tables(engine):
    """Iceberg `db.t.snapshots|history|files` metadata tables via SELECT."""
    engine.execute(DEMO_PROGRAM)
    snaps = engine.execute_one(
        "SELECT snapshot_id, parent_id, operation "
        "FROM glue_catalog.demo_db.v2_mor_demo.snapshots ORDER BY snapshot_id"
    ).df.collect()
    # create -> insert -> delete -> update
    assert [r.operation for r in snaps] == [
        "create", "append", "delete", "update",
    ]
    assert snaps[0].parent_id is None
    assert snaps[1].parent_id == snaps[0].snapshot_id

    hist = engine.execute_one(
        "SELECT count(*) AS n FROM demo_db.v2_mor_demo.history"
    ).df.collect()[0]
    assert hist.n == 4

    files = engine.execute_one(
        "SELECT content, count(*) AS n "
        "FROM glue_catalog.demo_db.v2_mor_demo.files GROUP BY content"
    ).df.collect()
    kinds = {r.content: r.n for r in files}
    assert kinds.get("data", 0) > 0 and kinds.get("deletes", 0) > 0

    parts = engine.execute_one(
        "SELECT category, record_count, file_count "
        "FROM glue_catalog.demo_db.v2_mor_demo.partitions ORDER BY category"
    ).df.collect()
    assert [r.category for r in parts] == [
        "clothing", "electronics", "furniture",
    ]
    # reference arc: 10 inserted, 3 MoR-deleted -> 7 live rows, and the
    # per-partition counts reflect the merged (post-delete) scan
    assert sum(r.record_count for r in parts) == 7
    assert all(r.file_count > 0 for r in parts)


def test_tags_rollback_and_tag_time_travel(engine):
    """Iceberg refs: CREATE TAG pins a snapshot (survives expiry), SELECT
    VERSION AS OF 'tag' reads it, rollback_to_snapshot restores state as
    a new auditable commit."""
    engine.execute(DEMO_PROGRAM)
    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    assert t.count() == 7  # after delete+update

    res = engine.execute_one(
        "ALTER TABLE glue_catalog.demo_db.v2_mor_demo CREATE TAG v1_release"
    )
    assert res.kind == "create_tag"
    # reload: table handles snapshot their metadata at load time
    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    tagged_snap = t.tags()["v1_release"]

    # mutate past the tag
    engine.execute_one(
        "DELETE FROM glue_catalog.demo_db.v2_mor_demo WHERE id = 1"
    )
    assert engine.catalog.load_table("demo_db", "v2_mor_demo").count() == 6

    # tag read: still 7 rows
    tagged = engine.execute_one(
        "SELECT count(*) AS n FROM glue_catalog.demo_db.v2_mor_demo "
        "VERSION AS OF 'v1_release'"
    ).df.collect()[0]
    assert tagged.n == 7

    # expiry must not break the tagged snapshot
    engine.execute_one(
        "CALL system.expire_snapshots(table => "
        "'glue_catalog.demo_db.v2_mor_demo', "
        "older_than => TIMESTAMP '2030-01-01 00:00:00', retain_last => 1)"
    )
    t2 = engine.catalog.load_table("demo_db", "v2_mor_demo")
    assert t2.scan(snapshot_id="v1_release").count() == 7

    # rollback to the tagged snapshot: new commit, old state
    res = engine.execute_one(
        "CALL system.rollback_to_snapshot(table => "
        f"'glue_catalog.demo_db.v2_mor_demo', snapshot_id => {tagged_snap})"
    )
    assert res.kind == "rollback_to_snapshot"
    t3 = engine.catalog.load_table("demo_db", "v2_mor_demo")
    assert t3.count() == 7
    assert t3.current_snapshot().operation == "rollback"
    # history preserved: rollback appended, nothing rewritten
    ops = [s.operation for s in t3.snapshots()]
    assert ops[-1] == "rollback" and "delete" in ops


def test_branch_sql_surface(engine):
    """Branch DDL + WAP publish through SQL: CREATE BRANCH, branch read
    via VERSION AS OF, CALL system.fast_forward, DROP BRANCH."""
    engine.execute(DEMO_PROGRAM)
    res = engine.execute_one(
        "ALTER TABLE glue_catalog.demo_db.v2_mor_demo CREATE BRANCH audit"
    )
    assert res.kind == "create_branch"
    # stage a delete on the branch via the Python surface
    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    t.delete_where("id = 1", branch="audit")
    assert engine.catalog.load_table("demo_db", "v2_mor_demo").count() == 7

    staged = engine.execute_one(
        "SELECT count(*) AS n FROM demo_db.v2_mor_demo VERSION AS OF 'audit'"
    ).df.collect()[0]
    assert staged.n == 6

    res = engine.execute_one(
        "CALL system.fast_forward(table => "
        "'glue_catalog.demo_db.v2_mor_demo', branch => 'audit')"
    )
    assert res.kind == "fast_forward"
    assert engine.catalog.load_table("demo_db", "v2_mor_demo").count() == 6

    res = engine.execute_one(
        "ALTER TABLE demo_db.v2_mor_demo DROP BRANCH audit"
    )
    assert res.kind == "drop_branch"


def test_ctas_and_insert_select(engine):
    """CREATE TABLE ... AS SELECT and INSERT INTO ... SELECT: the derived
    table is a first-class mutable table (snapshots, MoR DML work on it)."""
    engine.execute(DEMO_PROGRAM)

    def count(table, pred=""):
        return engine.execute_one(
            f"SELECT count(*) AS n FROM demo_db.{table} {pred}"
        ).df.collect()[0].n

    res = engine.execute_one(
        "CREATE TABLE demo_db.electronics_only PARTITIONED BY (category) AS "
        "SELECT * FROM demo_db.v2_mor_demo WHERE category = 'electronics'"
    )
    assert res.kind == "ctas"
    n_elec = count("v2_mor_demo", "WHERE category = 'electronics'")
    assert count("electronics_only") == n_elec > 0

    engine.execute_one(
        "INSERT INTO demo_db.electronics_only "
        "SELECT * FROM demo_db.v2_mor_demo WHERE category = 'clothing'"
    )
    n_cloth = count("v2_mor_demo", "WHERE category = 'clothing'")
    assert count("electronics_only") == n_elec + n_cloth

    # MoR DML on the derived table
    engine.execute_one(
        "DELETE FROM demo_db.electronics_only WHERE category = 'clothing'"
    )
    assert count("electronics_only") == n_elec


def test_truncate_and_show_statements(engine):
    """TRUNCATE TABLE + SHOW TABLES / SHOW TBLPROPERTIES."""
    engine.execute(DEMO_PROGRAM)
    tables = engine.execute_one("SHOW TABLES IN demo_db").df.collect()
    assert [(r.tableName, r.format_version) for r in tables] == [
        ("v2_mor_demo", "2")
    ]
    props = {
        r.key: r.value
        for r in engine.execute_one(
            "SHOW TBLPROPERTIES glue_catalog.demo_db.v2_mor_demo"
        ).df.collect()
    }
    assert props["write.delete.mode"] == "merge-on-read"

    res = engine.execute_one("TRUNCATE TABLE glue_catalog.demo_db.v2_mor_demo")
    assert res.kind == "truncate"
    assert engine.catalog.load_table("demo_db", "v2_mor_demo").count() == 0
    # truncation is a snapshot like any other: time travel still sees rows
    t = engine.catalog.load_table("demo_db", "v2_mor_demo")
    prev = t.snapshots()[-2].id
    assert t.scan(snapshot_id=prev).count() == 7


def test_views_explain_show_create_show_partitions(engine):
    """CREATE/DROP VIEW (live over later DML), EXPLAIN, SHOW CREATE TABLE,
    SHOW PARTITIONS."""
    engine.execute(DEMO_PROGRAM)

    engine.execute_one(
        "CREATE VIEW electronics_v AS SELECT id, amount "
        "FROM glue_catalog.demo_db.v2_mor_demo "
        "WHERE category = 'electronics'"
    )
    rows = engine.execute_one(
        "SELECT count(*) AS n FROM electronics_v"
    ).df.collect()
    assert rows[0].n == 3
    # a view is a live query, not a snapshot: it must see later DML
    engine.execute_one(
        "DELETE FROM glue_catalog.demo_db.v2_mor_demo WHERE id = 1"
    )
    assert (
        engine.execute_one("SELECT count(*) AS n FROM electronics_v")
        .df.collect()[0]
        .n
        == 2
    )
    # view-over-view resolves in creation order
    engine.execute_one(
        "CREATE VIEW expensive_v AS SELECT * FROM electronics_v "
        "WHERE amount > 200"
    )
    assert (
        engine.execute_one("SELECT count(*) AS n FROM expensive_v")
        .df.collect()[0]
        .n
        == 2
    )
    with pytest.raises(Exception):
        engine.execute_one("CREATE VIEW electronics_v AS SELECT 1 AS x")
    engine.execute_one(
        "CREATE OR REPLACE VIEW electronics_v AS SELECT 1 AS x"
    )
    assert (
        engine.execute_one("SELECT * FROM electronics_v").df.collect()[0].x
        == 1
    )
    # expensive_v was invalidated by the replace: it errors when queried,
    # but must not poison unrelated statements
    with pytest.raises(Exception):
        engine.execute_one("SELECT * FROM expensive_v").df.collect()
    engine.execute_one("DROP VIEW IF EXISTS expensive_v")
    engine.execute_one("DROP VIEW electronics_v")
    with pytest.raises(Exception):
        engine.execute_one("DROP VIEW electronics_v")

    plan = (
        engine.execute_one(
            "EXPLAIN FORMATTED SELECT category, count(*) AS n "
            "FROM glue_catalog.demo_db.v2_mor_demo GROUP BY category"
        )
        .df.collect()[0]
        .plan
    )
    assert "HashAggregate" in plan and "Exchange" in plan

    ddl = (
        engine.execute_one(
            "SHOW CREATE TABLE glue_catalog.demo_db.v2_mor_demo"
        )
        .df.collect()[0]
        .createtab_stmt
    )
    assert "CREATE TABLE demo_db.v2_mor_demo" in ddl
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (category)" in ddl
    assert "'write.delete.mode' = 'merge-on-read'" in ddl
    # the emitted DDL must round-trip through the router
    engine.execute_one(ddl.replace("demo_db.v2_mor_demo", "demo_db.rt"))
    assert engine.catalog.load_table("demo_db", "rt").partition_by == [
        "category"
    ]

    parts = engine.execute_one(
        "SHOW PARTITIONS glue_catalog.demo_db.v2_mor_demo"
    ).df
    assert "category" in parts.columns and "record_count" in parts.columns
    assert parts.count() == 3


def test_consolidate_deletes_and_timestamp_as_of(engine):
    """Round-3 SQL surface: CALL system.consolidate_deletes merges the
    accumulated positional delete files into one (scan invariant), and
    `TIMESTAMP AS OF '<iso>'` reads the latest snapshot at or before the
    instant."""
    engine.execute(
        """
        CREATE TABLE glue_catalog.r3_db.t (id INT, v DOUBLE) USING iceberg
        TBLPROPERTIES ('format-version' = '2',
                       'write.delete.mode' = 'merge-on-read',
                       'write.update.mode' = 'merge-on-read');
        INSERT INTO glue_catalog.r3_db.t VALUES
            (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, 5.0);
        DELETE FROM glue_catalog.r3_db.t WHERE id = 1;
        DELETE FROM glue_catalog.r3_db.t WHERE id = 2;
        """
    )
    t = engine.catalog.load_table("r3_db", "t")
    assert len(t.current_snapshot().delete_dirs) == 2
    post_delete_ts = max(s.timestamp for s in t.snapshots())

    [res] = engine.execute(
        "CALL system.consolidate_deletes(table => 'r3_db.t')"
    )
    assert res.kind == "consolidate_deletes"
    t = engine.catalog.load_table("r3_db", "t")
    assert len(t.current_snapshot().delete_dirs) == 1
    [sel] = engine.execute("SELECT id FROM r3_db.t ORDER BY id")
    assert [r.id for r in sel.df.collect()] == [3, 4, 5]

    # one more delete AFTER the captured instant; TIMESTAMP AS OF must
    # read the pre-delete state
    engine.execute("DELETE FROM glue_catalog.r3_db.t WHERE id = 3")
    [cur] = engine.execute("SELECT count(*) AS n FROM r3_db.t")
    assert cur.df.collect()[0].n == 2
    [tt] = engine.execute(
        f"SELECT count(*) AS n FROM r3_db.t TIMESTAMP AS OF '{post_delete_ts}'"
    )
    assert tt.df.collect()[0].n == 3


def test_partition_evolution_sql_surface(engine):
    engine.execute(
        """
        CREATE TABLE glue_catalog.evo_db.t (
            id INT, category STRING, amount DECIMAL(10,2)
        ) USING iceberg
        PARTITIONED BY (category)
        TBLPROPERTIES ('format-version' = '2');
        INSERT INTO glue_catalog.evo_db.t VALUES
            (1, 'a', 1.00), (2, 'b', 2.00);
        """
    )
    t = engine.catalog.load_table("evo_db", "t")
    assert t.partition_by == ["category"]

    r = engine.execute_one(
        "ALTER TABLE glue_catalog.evo_db.t ADD PARTITION FIELD bucket(4, id)"
    )
    assert r.kind == "alter" and "spec 1" in r.message
    t = engine.catalog.load_table("evo_db", "t")
    assert t.partition_by == ["category", "bucket(4, id)"]

    engine.execute_one(
        "ALTER TABLE glue_catalog.evo_db.t DROP PARTITION FIELD category"
    )
    t = engine.catalog.load_table("evo_db", "t")
    assert t.partition_by == ["bucket(4, id)"]

    engine.execute_one(
        "ALTER TABLE glue_catalog.evo_db.t "
        "REPLACE PARTITION FIELD bucket(4, id) WITH truncate(1, category)"
    )
    t = engine.catalog.load_table("evo_db", "t")
    assert t.partition_by == ["truncate(1, category)"]

    # data written under the original spec still reads after 3 evolutions
    engine.execute_one(
        "INSERT INTO glue_catalog.evo_db.t VALUES (3, 'c', 3.00)"
    )
    rows = engine.execute_one(
        "SELECT id FROM glue_catalog.evo_db.t ORDER BY id"
    ).df.collect()
    assert [r.id for r in rows] == [1, 2, 3]

    # dropping a field that is not in the spec is refused
    import pytest as _pytest

    from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError

    with _pytest.raises(TableError):
        engine.execute_one(
            "ALTER TABLE glue_catalog.evo_db.t DROP PARTITION FIELD nope"
        )


def test_snapshot_management_procedures(engine):
    """CALL system.rollback_to_timestamp / set_current_snapshot /
    cherrypick_snapshot through the SQL gateway."""
    engine.execute(
        "CREATE TABLE glue_catalog.snapm.t (id INT) USING iceberg;"
        "INSERT INTO glue_catalog.snapm.t VALUES (1)"
    )
    t = engine.catalog.load_table("snapm", "t")
    s1 = t.current_snapshot()
    engine.execute_one("INSERT INTO glue_catalog.snapm.t VALUES (2)")
    s2 = engine.catalog.load_table("snapm", "t").current_snapshot()

    engine.execute_one(
        "CALL system.rollback_to_timestamp(table => 'snapm.t', "
        f"timestamp => '{s1.timestamp}')"
    )
    rows = engine.execute_one("SELECT id FROM snapm.t ORDER BY id").df
    assert [r.id for r in rows.collect()] == [1]

    engine.execute_one(
        "CALL system.set_current_snapshot(table => 'snapm.t', "
        f"snapshot_id => {s2.id})"
    )
    rows = engine.execute_one("SELECT id FROM snapm.t ORDER BY id").df
    assert [r.id for r in rows.collect()] == [1, 2]

    t = engine.catalog.load_table("snapm", "t")
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    engine.execute_one(
        "CALL system.cherrypick_snapshot(table => 'snapm.t', "
        f"snapshot_id => {staged.id})"
    )
    rows = engine.execute_one("SELECT id FROM snapm.t ORDER BY id").df
    assert [r.id for r in rows.collect()] == [1, 2, 9]


def test_changelog_view_procedure(engine):
    """CALL system.create_changelog_view registers a SQL-queryable CDC
    view; from_snapshot scopes the delta; security matches metadata
    tables (row-filtered/masked principals denied)."""
    engine.execute(
        "CREATE TABLE glue_catalog.clv.t (id INT, v STRING) USING iceberg;"
        "INSERT INTO glue_catalog.clv.t VALUES (1, 'a'), (2, 'b'), (3, 'c')"
    )
    engine.execute_one("DELETE FROM clv.t WHERE id = 2")
    t = engine.catalog.load_table("clv", "t")
    s_del = t.current_snapshot().id
    engine.execute_one(
        "CALL system.create_changelog_view(table => 'clv.t', "
        "view => 'clv_ch')"
    )
    rows = engine.execute_one(
        "SELECT id, _change_type FROM clv_ch ORDER BY id, _change_type"
    ).df.collect()
    # default from = CREATE snapshot (Iceberg semantics): the initial
    # load appears as inserts, then the DELETE
    assert [(r.id, r._change_type) for r in rows] == [
        (1, "insert"),
        (2, "delete"),
        (2, "insert"),
        (3, "insert"),
    ]

    # a second DML; from_snapshot scopes to changes after it
    engine.execute_one("INSERT INTO glue_catalog.clv.t VALUES (9, 'z')")
    engine.execute_one(
        "CALL system.create_changelog_view(table => 'clv.t', "
        f"view => 'clv_ch2', from_snapshot => {s_del})"
    )
    rows = engine.execute_one(
        "SELECT id, _change_type FROM clv_ch2 ORDER BY id"
    ).df.collect()
    assert [(r.id, r._change_type) for r in rows] == [(9, "insert")]


def test_changelog_view_denied_for_filtered_or_masked(spark, tmp_path):
    from iceberg_v2_to_v3_upgrade_spark.tables.permissions import (
        PermissionDenied,
    )

    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    root = EngineSQL(catalog)
    root.execute(
        "CREATE TABLE glue_catalog.clv.t (id INT, v STRING) USING iceberg;"
        "INSERT INTO glue_catalog.clv.t VALUES (1, 'a'), (2, 'b');"
        "DELETE FROM clv.t WHERE id = 1"
    )
    catalog.permissions.set_row_filter("analyst", "clv", "t", "id > 1")
    with pytest.raises(PermissionDenied, match="row-filtered"):
        EngineSQL(catalog, principal="analyst").execute_one(
            "CALL system.create_changelog_view(table => 'clv.t', "
            "view => 'x')"
        )
    catalog.permissions.set_column_mask("masked", "clv", "t", ["v"])
    with pytest.raises(PermissionDenied, match="column-masked"):
        EngineSQL(catalog, principal="masked").execute_one(
            "CALL system.create_changelog_view(table => 'clv.t', "
            "view => 'y')"
        )

    # temp views are session-global: a filtered/masked principal must
    # not be able to READ a changelog view root registered either
    root.execute_one(
        "CALL system.create_changelog_view(table => 'clv.t', "
        "view => 'rootv')"
    )
    # initial load (2 inserts) + the delete = 3 CDC rows
    assert root.execute_one("SELECT * FROM rootv").df.count() == 3
    with pytest.raises(PermissionDenied, match="row-filtered"):
        EngineSQL(catalog, principal="analyst").execute_one(
            "SELECT * FROM rootv"
        )
    with pytest.raises(PermissionDenied, match="column-masked"):
        EngineSQL(catalog, principal="masked").execute_one(
            "SELECT count(*) FROM rootv"
        )

    # the registration is warehouse metadata, not instance state: a
    # SECOND catalog over the same warehouse (same SparkSession, where
    # the temp view still resolves) must apply the same read-time gate
    # instead of falling through to plain spark.sql
    catalog2 = LocalCatalog(spark, str(tmp_path / "wh"))
    with pytest.raises(PermissionDenied, match="row-filtered"):
        EngineSQL(catalog2, principal="analyst").execute_one(
            "SELECT * FROM rootv"
        )


def test_changelog_registration_dies_with_view_and_table(spark, tmp_path):
    """Round-5 review finding: the persisted registration must be removed
    by DROP VIEW / drop_table — otherwise a dead entry keeps gating any
    future statement mentioning the name, in every session, forever; and
    a corrupt registration file must read as empty, not poison every
    SELECT over the warehouse."""
    import json as _json

    from iceberg_v2_to_v3_upgrade_spark.tables.permissions import (
        PermissionDenied,
    )

    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    root = EngineSQL(catalog)
    root.execute(
        "CREATE TABLE glue_catalog.clv.t (id INT, v STRING) USING iceberg;"
        "INSERT INTO glue_catalog.clv.t VALUES (1, 'a');"
        "DELETE FROM clv.t WHERE id = 1"
    )
    catalog.permissions.set_row_filter("analyst", "clv", "t", "id > 1")
    root.execute_one(
        "CALL system.create_changelog_view(table => 'clv.t', "
        "view => 'deadv')"
    )
    with pytest.raises(PermissionDenied):
        EngineSQL(catalog, principal="analyst").execute_one(
            "SELECT * FROM deadv"
        )
    # DROP VIEW removes the registration: an unrelated temp view reusing
    # the name must not inherit the dead gate
    root.execute_one("DROP VIEW deadv")
    assert "deadv" not in catalog.changelog_views
    spark.range(3).createOrReplaceTempView("deadv")
    assert (
        EngineSQL(catalog, principal="analyst")
        .execute_one("SELECT count(*) AS n FROM deadv")
        .df.collect()[0].n
        == 3
    )
    spark.catalog.dropTempView("deadv")

    # drop_table removes registrations over the dropped table
    root.execute_one(
        "CALL system.create_changelog_view(table => 'clv.t', "
        "view => 'deadv2')"
    )
    catalog.drop_table("clv", "t")
    assert "deadv2" not in catalog.changelog_views

    # a truncated registration file reads as empty instead of raising
    # on every subsequent statement
    with open(catalog._changelog_views_path, "w") as f:
        f.write('{"trunc')
    assert catalog.changelog_views == {}


def test_snapshot_proc_denied_for_filtered_or_masked(spark, tmp_path):
    """CALL system.snapshot is a raw-read bypass if granted to a
    filtered/masked principal (snapshot the table, read the copy) —
    both are denied outright; plain principals need SELECT on the
    source."""
    from iceberg_v2_to_v3_upgrade_spark.tables.permissions import (
        PermissionDenied,
    )

    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    root = EngineSQL(catalog)
    root.execute(
        "CREATE TABLE glue_catalog.sp.t (id INT, v STRING) USING iceberg;"
        "INSERT INTO sp.t VALUES (1, 'a'), (2, 'b')"
    )
    catalog.permissions.set_row_filter("analyst", "sp", "t", "id > 1")
    with pytest.raises(PermissionDenied, match="row-filtered"):
        EngineSQL(catalog, principal="analyst").execute_one(
            "CALL system.snapshot(source_table => 'sp.t', "
            "table => 'sp2.leak')"
        )
    catalog.permissions.set_column_mask("masked", "sp", "t", ["v"])
    with pytest.raises(PermissionDenied, match="column-masked"):
        EngineSQL(catalog, principal="masked").execute_one(
            "CALL system.snapshot(source_table => 'sp.t', "
            "table => 'sp2.leak')"
        )
    assert not catalog.table_exists("sp2", "leak")
    root.execute_one(
        "CALL system.snapshot(source_table => 'sp.t', table => 'sp2.ok')"
    )
    assert (
        root.execute_one("SELECT count(*) AS n FROM sp2.ok").df.collect()[0].n
        == 2
    )


def test_new_metadata_tables_routed(spark, tmp_path):
    """db.t.metadata_log_entries and db.t.all_data_files resolve through
    the SQL gateway like the other metadata tables, and row-filtered
    principals are denied."""
    from iceberg_v2_to_v3_upgrade_spark.tables.permissions import (
        PermissionDenied,
    )

    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    root = EngineSQL(catalog)
    root.execute(
        "CREATE TABLE glue_catalog.mt.t (id INT) USING iceberg;"
        "INSERT INTO mt.t VALUES (1), (2);"
        "DELETE FROM mt.t WHERE id = 1"
    )
    n = (
        root.execute_one(
            "SELECT count(*) AS n FROM mt.t.metadata_log_entries"
        )
        .df.collect()[0]
        .n
    )
    assert n >= 2
    live = root.execute_one(
        "SELECT count(*) AS n FROM mt.t.all_data_files WHERE is_live"
    ).df.collect()[0].n
    assert live >= 1
    catalog.permissions.set_row_filter("analyst", "mt", "t", "id > 1")
    with pytest.raises(PermissionDenied):
        EngineSQL(catalog, principal="analyst").execute_one(
            "SELECT count(*) AS n FROM mt.t.all_data_files"
        )


def test_update_swap_through_sql(engine):
    """``UPDATE ... SET a = b, b = a`` swaps through the SQL gateway."""
    engine.execute(
        "CREATE TABLE glue_catalog.sw_db.t (id INT, a INT, b INT) USING iceberg"
    )
    engine.execute("INSERT INTO glue_catalog.sw_db.t VALUES (1, 10, 20), (2, 1, 2)")
    engine.execute("UPDATE glue_catalog.sw_db.t SET a = b, b = a WHERE id = 1")
    rows = engine.execute_one("SELECT id, a, b FROM sw_db.t ORDER BY id").df
    assert [tuple(r) for r in rows.collect()] == [(1, 20, 10), (2, 1, 2)]
