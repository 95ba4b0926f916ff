"""State-transition tests for the mutable-table module — mirrors the
reference's end-to-end arc (SURVEY.md §5): build -> mutate -> verify counts
(10 -> 7 -> 7 -> 7 -> 6) -> upgrade -> compact (semantically invisible) ->
post-upgrade MoR delete -> cross-engine verification.
"""

from __future__ import annotations

import datetime

import pytest

from iceberg_v2_to_v3_upgrade_spark.cli import DEMO_ROWS, DEMO_SCHEMA
from iceberg_v2_to_v3_upgrade_spark.plans.upgrade import (
    execute_upgrade,
    plan_upgrade,
)
from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError
from iceberg_v2_to_v3_upgrade_spark.tables.verify import (
    verification_passed,
    verify_table_in_duckdb,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return LocalCatalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def demo_table(catalog):
    t = catalog.create_table(
        "demo_db", "v2_mor_demo", DEMO_SCHEMA, partition_by=["category"]
    )
    t.insert_values(DEMO_ROWS)
    return t


def _amounts(t):
    return {
        r.id: float(r.amount) for r in t.scan().select("id", "amount").collect()
    }


def test_reference_demo_arc(catalog, demo_table):
    t = demo_table
    assert t.count() == 10
    assert t.format_version == 2
    assert t.properties["write.delete.mode"] == "merge-on-read"

    # MoR DELETE writes delete files, not data rewrites
    n_data_before = len(t.current_snapshot().data_dirs)
    t.delete_where("id IN (2, 4, 6)")
    assert t.count() == 7
    assert len(t.current_snapshot().data_dirs) == n_data_before
    assert len(t.current_snapshot().delete_dirs) == 1

    # MoR UPDATE = delete entries + rewritten rows appended
    before = _amounts(t)
    schema_before = t.scan().schema
    t.update_set({"amount": "amount * 1.1"}, "category = 'electronics'")
    assert t.count() == 7
    # SET must not drift the declared schema (decimal widening)
    assert t.scan().schema == schema_before
    after = _amounts(t)
    for i, amt in after.items():
        if i in (1, 3, 9):  # electronics survivors
            assert amt == pytest.approx(round(before[i] * 1.1, 2), abs=0.01)
        else:
            assert amt == before[i]
    assert len(t.current_snapshot().delete_dirs) == 2

    # upgrade: ALTER format-version + full compaction
    res = execute_upgrade(catalog, "demo_db", "v2_mor_demo")
    assert res.ok and res.executed
    t = catalog.load_table("demo_db", "v2_mor_demo")
    assert t.format_version == 3
    assert t.properties.get("next-row-id") is not None  # README.md:43-45
    assert t.current_snapshot().delete_dirs == []

    # compaction must be semantically invisible
    assert t.count() == 7
    assert _amounts(t) == after

    # V3 MoR deletes keep working (test_v3_mor_deletes.py arc)
    t.delete_where("id = 1")
    assert t.count() == 6

    # cross-engine verification (second engine = DuckDB)
    probes = verify_table_in_duckdb(t)
    assert verification_passed(probes)


def test_time_travel_and_expiry(catalog, demo_table):
    t = demo_table
    snap_after_insert = t.current_snapshot().id
    t.delete_where("id IN (2, 4, 6)")
    snap_after_delete = t.current_snapshot().id

    assert t.scan(snapshot_id=snap_after_insert).count() == 10
    assert t.scan(snapshot_id=snap_after_delete).count() == 7

    expired = t.expire_snapshots(
        older_than=datetime.datetime(2030, 1, 1), retain_last=1
    )
    assert snap_after_insert in expired
    assert t.count() == 7  # current state untouched
    with pytest.raises(TableError):
        t.scan(snapshot_id=snap_after_insert)


def test_upgrade_plan_guards(catalog, demo_table):
    plan = plan_upgrade(catalog, "demo_db", "nope")
    assert plan.action == "error"

    plan = plan_upgrade(catalog, "demo_db", "v2_mor_demo")
    assert plan.action == "upgrade_and_compact"
    assert "ALTER TABLE" in plan.statements[0]
    assert "rewrite_data_files" in plan.statements[1]

    # dry run executes nothing
    res = execute_upgrade(catalog, "demo_db", "v2_mor_demo", dry_run=True)
    assert not res.executed
    assert catalog.load_table("demo_db", "v2_mor_demo").format_version == 2

    execute_upgrade(catalog, "demo_db", "v2_mor_demo")
    plan = plan_upgrade(catalog, "demo_db", "v2_mor_demo")
    assert plan.action == "compact_only"  # upgrade_table.py:121-124


def test_format_version_downgrade_refused(catalog, demo_table):
    demo_table.set_properties({"format-version": "3"})
    with pytest.raises(TableError, match="downgrade"):
        demo_table.set_properties({"format-version": "2"})


def test_copy_on_write_modes(catalog):
    t = catalog.create_table(
        "demo_db",
        "cow_table",
        DEMO_SCHEMA,
        partition_by=["category"],
        properties={
            "write.delete.mode": "copy-on-write",
            "write.update.mode": "copy-on-write",
        },
    )
    t.insert_values(DEMO_ROWS)
    t.delete_where("id IN (2, 4, 6)")
    assert t.count() == 7
    assert t.current_snapshot().delete_dirs == []  # CoW: no delete files
    t.update_set({"amount": "amount * 2"}, "id = 1")
    assert t.count() == 7
    assert t.current_snapshot().delete_dirs == []
    amounts = {r.id: float(r.amount) for r in t.scan().collect()}
    assert amounts[1] == pytest.approx(201.0)


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write"])
def test_update_set_reads_pre_update_row(catalog, mode):
    """Every SET expression sees the row as it was before the UPDATE, so
    ``SET a = b, b = a`` swaps — under both write modes."""
    t = catalog.create_table(
        "demo_db",
        "swap_" + mode.split("-")[0],
        "id INT, a INT, b INT",
        properties={"write.update.mode": mode},
    )
    t.insert_values([(1, 10, 20), (2, 30, 40)])
    t.update_set({"a": "b", "b": "a"}, "id = 1")
    assert sorted(tuple(r) for r in t.scan().collect()) == [
        (1, 20, 10),
        (2, 30, 40),
    ]


def test_update_set_resolves_declared_columns(catalog):
    """SET names resolve case-insensitively against the declared schema;
    an unknown one raises instead of committing an undeclared column
    that a later ADD COLUMN of that name would surface as data."""
    t = catalog.create_table("demo_db", "set_names", "id INT, amount DOUBLE")
    t.insert_values([(1, 1.0)])
    with pytest.raises(TableError, match="not in table schema"):
        t.update_set({"nope": "7"}, "id = 1")
    t.update_set({"AMOUNT": "amount + 1"}, "id = 1")
    t.add_column("nope", "INT")
    assert [tuple(r) for r in t.scan().collect()] == [(1, 2.0, None)]


def test_insert_resolves_columns_case_insensitively(spark, catalog):
    """A frame's column names match the declared ones case-insensitively,
    as SQL identifiers do, and land in the declared casing."""
    t = catalog.create_table("demo_db", "upper", "id BIGINT, amount DOUBLE")
    t.insert(spark.createDataFrame([(1, 2.5)], "ID BIGINT, AMOUNT DOUBLE"))
    assert t.scan().columns == ["id", "amount"]
    assert [tuple(r) for r in t.scan().collect()] == [(1, 2.5)]
    (new_dir,) = t.current_snapshot().added_dirs
    assert spark.read.parquet(new_dir).columns == ["id", "amount", "_row_id"]


def test_incremental_changes(catalog, demo_table):
    t = demo_table
    s0 = t.current_snapshot().id          # after the 10-row insert
    t.delete_where("id IN (2, 4, 6)")
    s1 = t.current_snapshot().id
    t.update_set({"amount": "amount * 1.1"}, "category = 'electronics'")
    s2 = t.current_snapshot().id
    t.rewrite_data_files()                # compaction: no logical change
    s3 = t.current_snapshot().id

    ch = t.changes(s0, s1).collect()
    assert {(r.id, r._change_type) for r in ch} == {
        (2, "delete"), (4, "delete"), (6, "delete")
    }
    assert all(r._commit_snapshot_id == s1 for r in ch)

    ch = t.changes(s1, s2).collect()
    # MoR update = delete of old rows + insert of rewritten rows
    assert {(r.id, r._change_type) for r in ch} == {
        (1, "delete"), (3, "delete"), (9, "delete"),
        (1, "insert"), (3, "insert"), (9, "insert"),
    }

    assert t.changes(s2, s3).count() == 0  # compaction invisible to CDC
    # full range replays everything
    assert t.changes(s0).count() == 9
    with pytest.raises(TableError, match="no snapshot"):
        t.changes(9999)


def test_row_lineage_gated_on_v3(catalog, demo_table):
    t = demo_table
    with pytest.raises(TableError, match="format-version 3"):
        t.scan(with_row_lineage=True)
    t.set_properties({"format-version": "3"})
    lineage = t.scan(with_row_lineage=True)
    assert "_row_id" in lineage.columns
    ids = [r._row_id for r in lineage.collect()]
    assert len(ids) == len(set(ids)) == 10
    # lineage survives compaction (rewrite keeps _row_id)
    before = {r.id: r._row_id for r in lineage.collect()}
    t.delete_where("id = 2")
    t.rewrite_data_files()
    after = {r.id: r._row_id for r in t.scan(with_row_lineage=True).collect()}
    assert after == {i: rid for i, rid in before.items() if i != 2}


def test_files_metadata_and_sorted_compaction(catalog, demo_table):
    t = demo_table
    t.delete_where("id IN (2, 4, 6)")
    files = t.files().collect()
    assert {r.content for r in files} == {"data", "deletes"}
    assert all(r.file_size_bytes > 0 for r in files)
    t.rewrite_data_files(sort_by=["id"], target_file_partitions=1)
    files = t.files().collect()
    assert {r.content for r in files} == {"data"}
    # sorted clustering: ids within the scan come back ordered per file
    vals = [r.id for r in t.scan().orderBy("id").collect()]
    assert vals == sorted(vals) and len(vals) == 7


def test_catalog_listing_and_report(catalog, demo_table):
    catalog.create_table("demo_db", "t2", "id INT")
    infos = catalog.list_tables("demo_db")
    assert [i["name"] for i in infos] == ["t2", "v2_mor_demo"]
    assert all(i["format_version"] == "2" for i in infos)

    execute_upgrade(catalog, "demo_db", "t2")
    report = {r.table: r.status for r in catalog.list_report("demo_db").collect()}
    assert report["t2"] == "[OK]"
    assert "WARN" in report["v2_mor_demo"]

    info = catalog.get_table_info("demo_db", "t2")
    assert info["metadata_location"].endswith("metadata.json")
    assert catalog.get_table_info("demo_db", "missing") is None


def test_partition_pruning_layout(catalog, demo_table, tmp_path):
    """Identity partitioning must produce category=<val> directories so a
    category predicate prunes at file-listing time (§4 table row 1)."""
    snap = demo_table.current_snapshot()
    import os

    subdirs = os.listdir(snap.data_dirs[0])
    assert any(d.startswith("category=") for d in subdirs)
    plan = (
        demo_table.scan()
        .filter("category = 'electronics'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "category" in plan


def test_branch_write_audit_publish(spark, tmp_path):
    """WAP: stage DML on a branch, main unaffected; audit the branch read;
    fast_forward publishes; branch heads survive expiry."""
    import datetime

    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    catalog = LocalCatalog(spark, str(tmp_path / "wap_wh"))
    t = catalog.create_table(
        "db", "wap", "id INT, category STRING, amount DOUBLE",
        partition_by=["category"],
    )
    t.insert_values([(i, "a" if i % 2 else "b", float(i)) for i in range(10)])
    assert t.count() == 10

    t.create_branch("audit")
    t.insert(
        spark.createDataFrame(
            [(100, "a", 100.0), (101, "b", 101.0)],
            "id INT, category STRING, amount DOUBLE",
        ),
        branch="audit",
    )
    t.delete_where("id = 0", branch="audit")

    # main unchanged until publish; branch shows staged state
    assert t.count() == 10
    assert t.scan(snapshot_id="audit").count() == 11  # +2 inserted, -1
    main_ids = {r.id for r in t.scan().select("id").collect()}
    assert 0 in main_ids and 100 not in main_ids

    # branch head survives snapshot expiry
    t.expire_snapshots(
        older_than=datetime.datetime(2030, 1, 1), retain_last=1
    )
    assert t.scan(snapshot_id="audit").count() == 11

    # publish
    t.fast_forward("audit")
    published = {r.id for r in t.scan().select("id").collect()}
    assert 100 in published and 101 in published and 0 not in published
    assert t.count() == 11
    t.drop_branch("audit")
    assert t.branches() == {}


def test_equality_deletes_sequence_semantics(spark, tmp_path):
    """Equality deletes (the streaming-CDC delete flavor): keys anti-join
    only data committed BEFORE the delete — same-key rows inserted later
    survive. Compaction materializes them away; bookkeeping (files,
    expiry) tracks the eq-delete files."""
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    catalog = LocalCatalog(spark, str(tmp_path / "eq_wh"))
    t = catalog.create_table("db", "eq", "id INT, v DOUBLE")
    t.insert_values([(1, 1.0), (2, 2.0), (3, 3.0)])

    # delete ids 1,2 by KEY — no table scan happens at write time
    keys = spark.createDataFrame([(1,), (2,)], "id INT")
    t.delete_by_keys(keys, ["id"])
    assert {r.id for r in t.scan().collect()} == {3}

    # re-insert id 2 AFTER the delete: newer sequence -> survives
    t.insert_values([(2, 22.0)])
    got = {r.id: r.v for r in t.scan().collect()}
    assert got == {3: 3.0, 2: 22.0}

    # files metadata sees the eq-delete file
    kinds = {r.content for r in t.files().collect()}
    assert "eq-deletes" in kinds

    # positional + equality deletes compose: positional delete of id 3
    t.delete_where("id = 3")
    assert {r.id for r in t.scan().collect()} == {2}

    # compaction materializes both delete flavors
    t.rewrite_data_files(rewrite_all=True)
    assert t.current_snapshot().eq_deletes == []
    assert not t.current_snapshot().delete_dirs
    got = {r.id: r.v for r in t.scan().collect()}
    assert got == {2: 22.0}

    # time travel to before compaction still applies eq deletes
    pre_compact = t.snapshots()[-2].id
    old = {r.id: r.v for r in t.scan(snapshot_id=pre_compact).collect()}
    assert old == {2: 22.0}


def test_changes_sees_insert_overwrite(catalog):
    """CDC over INSERT OVERWRITE (round-4 ADVICE high finding): the
    'overwrite' op must emit deletes for replaced rows and inserts for
    the new data — on both the unpartitioned (fresh dir list) and the
    partitioned (dir diff) commit paths."""
    # unpartitioned: full-table replace
    t = catalog.create_table("cdc_db", "flat", "id int, v string")
    s0 = t.insert_values([(1, "a"), (2, "b")]).id
    s1 = t.insert_overwrite(
        t.spark.createDataFrame([(9, "z")], t.schema_ddl)
    ).id
    ch = t.changes(s0, s1).collect()
    dels = sorted(r.id for r in ch if r._change_type == "delete")
    ins = sorted(r.id for r in ch if r._change_type == "insert")
    assert dels == [1, 2] and ins == [9]
    assert t.count() == 1

    # partitioned: only the touched partition's rows are replaced
    p = catalog.create_table(
        "cdc_db", "parted", "id int, cat string", partition_by=["cat"]
    )
    p0 = p.insert_values([(1, "x"), (2, "y")]).id
    p1 = p.insert_overwrite(
        p.spark.createDataFrame([(3, "x")], p.schema_ddl)
    ).id
    ch = p.changes(p0, p1).collect()
    dels = sorted(r.id for r in ch if r._change_type == "delete")
    ins = sorted(r.id for r in ch if r._change_type == "insert")
    assert dels == [1] and ins == [3]  # partition 'y' untouched
    assert sorted(r.id for r in p.scan().collect()) == [2, 3]


def test_rollback_timestamp_set_current_cherrypick(catalog):
    """The remaining snapshot-management procedures: rollback by
    timestamp (latest snapshot at-or-before the instant),
    set_current_snapshot (may move FORWARD — undo a rollback), and
    cherrypick_snapshot (apply one append's delta onto head; refuses
    non-appends)."""
    t = catalog.create_table("cdc_db", "snapmgmt", "id int")
    s1 = t.insert_values([(1,)])
    s2 = t.insert_values([(2,)])

    # rollback_to_timestamp: s1's own commit instant resolves to s1
    t.rollback_to_timestamp(s1.timestamp)
    assert sorted(r.id for r in t.scan().collect()) == [1]
    with pytest.raises(TableError, match="no snapshot at or before"):
        t.rollback_to_timestamp("1999-01-01T00:00:00")

    # SQL-convention space separator normalizes to the stored 'T' form:
    # without it, ' ' < 'T' makes a same-day instant sort BEFORE every
    # stored timestamp and resolve to the wrong (or no) snapshot.
    t.set_current_snapshot(s2.id)
    t.rollback_to_timestamp(s1.timestamp.replace("T", " ", 1))
    assert sorted(r.id for r in t.scan().collect()) == [1]
    assert sorted(
        r.id
        for r in t.scan(as_of=s1.timestamp.replace("T", " ", 1)).collect()
    ) == [1]

    # set_current_snapshot moves FORWARD again
    t.set_current_snapshot(s2.id)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]

    # cherrypick: stage an append on a branch, pick it onto main
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]  # unstaged
    t.cherrypick_snapshot(staged.id)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 9]

    # refuses: re-pick (already present) and non-append snapshots
    with pytest.raises(TableError, match="already present"):
        t.cherrypick_snapshot(staged.id)
    t.delete_where("id = 1")
    with pytest.raises(TableError, match="only append"):
        t.cherrypick_snapshot(t.current_snapshot().id)


def test_expire_materializes_legacy_parent_before_compacting(catalog):
    """A legacy survivor (parent_id=None, written before parent_id
    existed) resolves its parent POSITIONALLY; expire must materialize
    that resolution as an explicit id BEFORE compacting the snapshot
    list — otherwise the survivor silently re-binds to whatever now
    precedes it, e.g. a tag-pinned rolled-back-away snapshot."""
    import datetime as _dt

    t = catalog.create_table("cdc_db", "exp_legacy", "id int")
    s1 = t.insert_values([(1,)])
    bad = t.insert_values([(66,)])
    t.create_tag("pin_bad", bad.id)
    t.rollback_to_snapshot(s1.id)  # rollback commit: parent = s1
    t.insert_values([(2,)])
    # simulate a legacy engine writing the newest commit without
    # parent_id: positional fallback resolves it through the rollback
    t._meta["snapshots"][-1]["parent_id"] = None
    t._write_meta()
    pre = {s.id for s in t.ancestry()}
    assert bad.id not in pre  # rolled-back-away line is out, pre-expiry
    t.expire_snapshots(older_than=_dt.datetime(2030, 1, 1), retain_last=1)
    post = {s.id for s in t.ancestry()}
    assert bad.id not in post, (
        "legacy survivor re-bound to the pinned abandoned snapshot "
        "after compaction"
    )
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]


def test_cherrypick_gets_new_sequence_number(catalog):
    """Iceberg assigns cherry-picked files the NEW snapshot's sequence
    number: an equality delete committed on main AFTER the branch staged
    the append but BEFORE the cherry-pick must NOT mask the picked rows
    (its seq is lower than the publish seq), while a delete committed
    after publish must."""
    t = catalog.create_table("cdc_db", "cherryseq", "id int")
    t.insert_values([(1,), (2,)])
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    # main moves on: an eq delete targeting the staged key, committed
    # between staging and publish — higher seq than the staged dir name
    t.delete_by_keys(t.spark.createDataFrame([(9,)], "id int"), ["id"])
    t.cherrypick_snapshot(staged.id)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 9], (
        "pre-publish eq delete must not apply to cherry-picked data"
    )
    # a delete committed AFTER publish does mask the picked row
    t.delete_by_keys(t.spark.createDataFrame([(9,)], "id int"), ["id"])
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]


def test_cherrypick_override_scoped_to_publish_lineage(catalog):
    """Round-5 review high finding: the cherry-pick seq override must be
    scoped to the publish snapshot and its descendants, NOT recorded
    globally — a global per-dir map retroactively re-sequences the
    staged dir inside the BRANCH's own snapshots, un-applying a
    branch-side equality delete (the deleted row resurrected on the
    branch after an unrelated main-side publish)."""
    t = catalog.create_table("cdc_db", "cherryscope", "id int")
    t.insert_values([(1,), (2,)])
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    # branch-side delete of the staged row: branch head reads [1, 2]
    t.delete_by_keys(
        t.spark.createDataFrame([(9,)], "id int"), ["id"], branch="wap"
    )
    assert sorted(r.id for r in t.scan(snapshot_id="wap").collect()) == [1, 2]
    # main publishes the staged append out of band
    t.cherrypick_snapshot(staged.id)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2, 9]
    # the SAME branch head must still read [1, 2]: the publish-side seq
    # override must not leak into the branch snapshot's delete scoping
    assert sorted(r.id for r in t.scan(snapshot_id="wap").collect()) == [1, 2], (
        "branch-deleted row resurrected by a main-side cherrypick"
    )


def test_changes_sees_equality_deletes(catalog):
    """CDC over delete_by_keys (round-4 review high finding): an
    equality-delete commit grows eq_deletes without touching dir lists,
    so changes() must recover the deleted rows by joining prev's visible
    scan against the new key sets — not silently emit nothing."""
    t = catalog.create_table("cdc_db", "eqcdc", "id int, v string")
    s0 = t.insert_values([(1, "a"), (2, "b"), (3, "c")]).id
    keys = t.spark.createDataFrame([(1,), (2,)], "id int")
    s1 = t.delete_by_keys(keys, ["id"]).id
    ch = t.changes(s0, s1).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (1, "delete"),
        (2, "delete"),
    ]
    assert {r.v for r in ch} == {"a", "b"}  # old values recovered

    # a second eq delete only removes rows still visible: id 1 is
    # already gone, re-deleting it emits nothing new
    s2 = t.delete_by_keys(
        t.spark.createDataFrame([(1,), (3,)], "id int"), ["id"]
    ).id
    ch = t.changes(s1, s2).collect()
    assert [(r.id, r._change_type) for r in ch] == [(3, "delete")]

    # full range composes insert + both delete commits
    assert t.changes(s0).count() == 3


def test_changes_refuses_rollback_range(catalog):
    """'rollback' reverts visibility wholesale — there is no incremental
    delta. changes() must refuse loudly (callers fall back to a full
    recompute) instead of silently emitting nothing."""
    t = catalog.create_table("cdc_db", "rb", "id int")
    s0 = t.insert_values([(1,)]).id
    t.insert_values([(2,)])
    t.rollback_to_snapshot(s0)
    with pytest.raises(TableError, match="not incrementally diffable"):
        t.changes(s0).count()


def test_schema_change_seq_uses_global_high_water(catalog):
    """Initial-default / rename seqs must be the GLOBAL max snapshot id:
    snapshot ids are allocated across branches, so a branch commit made
    before the ALTER can exceed the MAIN head (round-4 ADVICE low
    finding) — it must still classify as pre-ALTER."""
    t = catalog.create_table("cdc_db", "seqs", "id int")
    t.insert_values([(1,)])
    t.create_branch("audit")
    t.insert(t.spark.createDataFrame([(2,)], t.schema_ddl), branch="audit")
    branch_head = max(s["id"] for s in t._meta["snapshots"])
    assert branch_head > t._meta["current_snapshot_id"]  # precondition
    t.set_properties({"format-version": "3"})
    t.add_column("tag", "string", default="'legacy'")
    assert t._meta["column_defaults"]["tag"]["seq"] >= branch_head


def test_rollback_timestamp_never_publishes_staged_branch(catalog):
    """rollback_to_timestamp resolves over MAIN ancestry only: an
    unpublished branch-staged (WAP) commit with a later timestamp must
    never become main's head via a timestamp rollback (round-4 review
    finding — the staged batch is unaudited by definition)."""
    t = catalog.create_table("cdc_db", "rbts_wap", "id int")
    t.insert_values([(1,)])
    s2 = t.insert_values([(2,)])
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    # an instant at/after the staged commit must resolve to s2, not to
    # the staged snapshot
    t.rollback_to_timestamp(staged.timestamp)
    assert sorted(r.id for r in t.scan().collect()) == [1, 2]
    assert t._meta["current_snapshot_id"] != staged.id
    # TIMESTAMP AS OF takes the same rule
    assert sorted(
        r.id for r in t.scan(as_of=staged.timestamp).collect()
    ) == [1, 2]
    del s2


def test_changes_skips_unpublished_branch_commits(catalog):
    """changes() walks the parent-id ancestry, not the global snapshot
    list: a staged branch commit interleaved between two main commits
    must be invisible to a main changelog (round-4 review finding — the
    positional walk either raised or attributed staged rows), and after
    a cherrypick the published rows are attributed to the CHERRYPICK
    commit on main, not the staging commit."""
    t = catalog.create_table("cdc_db", "cdc_wap", "id int")
    s1 = t.insert_values([(1,)])
    t.create_branch("wap")
    staged = t.insert(
        t.spark.createDataFrame([(9,)], t.schema_ddl), branch="wap"
    )
    s3 = t.insert_values([(2,)])  # main commit AFTER the staged one
    ch = t.changes(s1.id).collect()
    assert sorted(r.id for r in ch) == [2]  # staged row invisible
    assert all(r._commit_snapshot_id == s3.id for r in ch)
    pub = t.cherrypick_snapshot(staged.id)
    ch2 = t.changes(s3.id).collect()
    assert sorted(r.id for r in ch2) == [9]
    assert all(r._commit_snapshot_id == pub.id for r in ch2)
    # a staged snapshot is not a valid `from` for a main changelog
    with pytest.raises(TableError, match="not an ancestor"):
        t.changes(staged.id).count()


def test_norm_ts_z_suffix_and_offsets(catalog):
    """'Z'-suffixed and offset ISO-8601 instants must compare
    chronologically, not lexically: 'Z' sorts after the fractional
    digits and would otherwise admit snapshots committed strictly after
    the requested instant (round-4 review finding)."""
    from iceberg_v2_to_v3_upgrade_spark.tables.table import _norm_ts

    assert _norm_ts("2026-08-15T04:07:24Z") == "2026-08-15T04:07:24+00:00"
    assert (
        _norm_ts("2026-08-15 06:07:24+02:00") == "2026-08-15T04:07:24+00:00"
    )
    assert _norm_ts("2026-08-15T04:07:24") == "2026-08-15T04:07:24+00:00"
    # stored form: a snapshot at 04:07:24.5 must NOT be <= the 24.0 instant
    assert not ("2026-08-15T04:07:24.500000+00:00" <= _norm_ts("2026-08-15T04:07:24Z"))
    t = catalog.create_table("cdc_db", "zts", "id int")
    s1 = t.insert_values([(1,)])
    t.insert_values([(2,)])
    # reuse s1's own timestamp spelled with Z at microsecond precision
    import datetime as _dt

    iso = _dt.datetime.fromisoformat(s1.timestamp).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )
    assert sorted(r.id for r in t.scan(as_of=iso).collect()) == [1]


def test_changes_across_fast_forward_publish(catalog):
    """fast_forward adopts the staged branch chain into main's ancestry:
    a changelog crossing the publish must emit the staged rows,
    attributed to the staging commits that produced them (they ARE
    main's history after the publish — unlike cherrypick, which
    re-commits the delta as a new main snapshot)."""
    t = catalog.create_table("cdc_db", "cdc_ff", "id int")
    s1 = t.insert_values([(1,)])
    t.create_branch("wap")
    st1 = t.insert(
        t.spark.createDataFrame([(7,)], t.schema_ddl), branch="wap"
    )
    st2 = t.insert(
        t.spark.createDataFrame([(8,)], t.schema_ddl), branch="wap"
    )
    t.fast_forward("wap")
    assert sorted(r.id for r in t.scan().collect()) == [1, 7, 8]
    ch = t.changes(s1.id).collect()
    assert sorted(r.id for r in ch) == [7, 8]
    assert {r._commit_snapshot_id for r in ch} == {st1.id, st2.id}


def test_rollback_removes_abandoned_line_from_ancestry(catalog):
    """A rollback commit's parent is the TARGET: the rolled-back-away
    snapshot leaves main ancestry, so TIMESTAMP AS OF can never resolve
    onto abandoned data (Iceberg ancestorsOf semantics) — while VERSION
    AS OF by id still reaches it for audit."""
    t = catalog.create_table("cdc_db", "rb_anc", "id int")
    t.insert_values([(1,)])
    s2 = t.insert_values([(2,)])
    bad = t.insert_values([(66,)])
    t.rollback_to_snapshot(s2.id)
    ids = [s.id for s in t.ancestry()]
    assert bad.id not in ids and s2.id in ids
    # an instant at the bad commit resolves to s2, not to the bad line
    assert sorted(r.id for r in t.scan(as_of=bad.timestamp).collect()) == [1, 2]
    # audit path still works by explicit id
    assert sorted(r.id for r in t.scan(snapshot_id=bad.id).collect()) == [1, 2, 66]
    # re-adopting the line via set_current restores its ancestry
    t.set_current_snapshot(bad.id)
    assert bad.id in [s.id for s in t.ancestry()]


def test_expire_reparents_ancestry_through_expired_nodes(catalog):
    """expire_snapshots must not sever the parent chain: survivors whose
    parent expired hop to the nearest surviving ancestor, so time travel
    to a RETAINED (tagged) snapshot keeps working after expiry."""
    import datetime as _dt

    t = catalog.create_table("cdc_db", "exp_anc", "id int")
    t.insert_values([(1,)])
    s2 = t.insert_values([(2,)])
    t.create_tag("keeper", s2.id)
    t.insert_values([(3,)])
    t.insert_values([(4,)])
    expired = t.expire_snapshots(
        older_than=_dt.datetime(2030, 1, 1), retain_last=1
    )
    assert expired  # something was expired
    ids = [s.id for s in t.ancestry()]
    assert s2.id in ids  # tagged survivor reachable through the chain
    assert sorted(r.id for r in t.scan(as_of=s2.timestamp).collect()) == [1, 2]


def test_expire_whole_chain_keeps_abandoned_line_out_of_ancestry(catalog):
    """When a survivor's ENTIRE parent chain expires, reparenting must
    record the explicit root sentinel, not None: None re-enables the
    legacy positional fallback, which adopted the positional neighbor —
    a tag-pinned rolled-back-away snapshot — as parent and flipped its
    is_current_ancestor back to true (round-4 review repro)."""
    import datetime as _dt

    t = catalog.create_table("cdc_db", "exp_root", "id int")
    t.insert_values([(1,)])
    t.insert_values([(2,)])
    s3 = t.current_snapshot()
    bad = t.insert_values([(66,)])
    t.create_tag("pinned_bad", bad.id)
    t.rollback_to_snapshot(s3.id)
    t.insert_values([(3,)])
    t.expire_snapshots(older_than=_dt.datetime(2030, 1, 1), retain_last=2)
    anc = {s.id for s in t.ancestry()}
    assert bad.id not in anc  # the abandoned line must stay abandoned
    hist = {r.snapshot_id: r.is_current_ancestor for r in t.history().collect()}
    assert hist[bad.id] is False
    assert sorted(r.id for r in t.scan(as_of=t.current_snapshot().timestamp).collect()) == [1, 2, 3]


def test_metadata_log_versioning_and_retention(catalog):
    """Every _write_meta appends a versioned metadata file; retention
    honors write.metadata.previous-versions-max; each retained version
    is a complete, loadable metadata document (metadata-file time
    travel)."""
    import json as _json
    import os as _os

    t = catalog.create_table(
        "cdc_db", "mlog", "id int",
        properties={"write.metadata.previous-versions-max": "3"},
    )
    for i in range(6):
        t.insert_values([(i,)])
    log = t.metadata_log_entries().collect()
    # Iceberg semantics: the property counts PREVIOUS versions — 3
    # previous + the current version's copy = 4 retained
    assert len(log) == 4
    versions = [r.metadata_version for r in log]
    assert versions == sorted(versions)
    # each retained version parses and records a strictly growing
    # snapshot count ending at the current one
    counts = [r.n_snapshots for r in log]
    assert counts == sorted(counts)
    assert counts[-1] == len(t.snapshots())
    latest = log[-1]
    vpath = _os.path.join(t.root, "metadata", latest.file)
    with open(vpath) as f:
        meta = _json.load(f)
    assert meta["current_snapshot_id"] == t.current_snapshot().id


def test_snapshot_table_zero_copy_independence(catalog):
    """CALL system.snapshot semantics: the snapshot references the
    source's files without copying; DML on either side never leaks to
    the other; dropping the snapshot leaves source data intact; the
    adopted-seq remap keeps eq-delete relative order (a source eq
    delete must not mask source rows appended after it)."""
    src = catalog.create_table("cdc_db", "snap_src", "id int, v string")
    src.insert_values([(1, "a"), (2, "b")])
    src.delete_by_keys(src.spark.createDataFrame([(1,)], "id int"), ["id"])
    # appended AFTER the eq delete: must stay visible on both sides
    src.insert_values([(1, "reborn"), (3, "c")])
    snap = catalog.snapshot_table("cdc_db", "snap_src", "cdc_db", "snap_dst")
    assert sorted(r.id for r in snap.scan().collect()) == [1, 2, 3]
    assert len(snap.current_snapshot().data_dirs) == len(
        src.current_snapshot().data_dirs
    )  # same dirs referenced, nothing copied
    assert set(snap.current_snapshot().data_dirs) == set(
        src.current_snapshot().data_dirs
    )
    # snapshot-side DML: delete an ADOPTED row (seq remap) + insert
    snap.delete_by_keys(snap.spark.createDataFrame([(2,)], "id int"), ["id"])
    snap.insert_values([(9, "z")])
    assert sorted(r.id for r in snap.scan().collect()) == [1, 3, 9]
    assert sorted(r.id for r in src.scan().collect()) == [1, 2, 3]
    # source-side DML after the snapshot: invisible to the snapshot
    src.insert_values([(7, "q")])
    assert sorted(r.id for r in snap.scan().collect()) == [1, 3, 9]
    # row-id spaces must not collide: snapshot inserts continue past the
    # source watermark, so adopted positional tombstones can never mask
    # a fresh snapshot-side row
    assert int(snap._meta["next_row_id"]) >= int(src._meta["next_row_id"])
    # dropping the snapshot leaves the source readable
    catalog.drop_table("cdc_db", "snap_dst")
    assert sorted(r.id for r in src.scan().collect()) == [1, 2, 3, 7]


def test_snapshot_table_expire_never_deletes_source_files(catalog):
    """Round-5 review high finding: expire_snapshots on a snapshot table
    must only UNREFERENCE adopted dirs (they live under the source's
    root) — physically deleting them corrupts the source table."""
    import datetime as _dt

    src = catalog.create_table("cdc_db", "gc_src", "id int")
    src.insert_values([(1,), (2,)])
    dst = catalog.snapshot_table("cdc_db", "gc_src", "cdc_db", "gc_dst")
    dst.rewrite_data_files()  # adopted dirs leave dst's live set
    dst.expire_snapshots(older_than=_dt.datetime(2030, 1, 1), retain_last=1)
    assert sorted(r.id for r in src.scan().collect()) == [1, 2], (
        "source data deleted by snapshot-table expiry"
    )
    assert sorted(r.id for r in dst.scan().collect()) == [1, 2]


def test_snapshot_table_carries_seq_keyed_metadata(catalog):
    """Round-5 review high findings: a snapshot table must carry every
    seq-keyed interpretation structure — carried row ids (V3 MoR
    update), renames, and the partition spec log — or adopted dirs read
    wrong."""
    # V3 carried-row-id update
    src = catalog.create_table(
        "cdc_db", "v3_src", "id int, v string",
        properties={"format-version": "3"},
    )
    src.insert_values([(1, "a"), (2, "b")])
    src.update_set({"v": "'upd'"}, "id = 1")
    snap = catalog.snapshot_table("cdc_db", "v3_src", "cdc_db", "v3_dst")
    assert sorted((r.id, r.v) for r in snap.scan().collect()) == [
        (1, "upd"), (2, "b"),
    ], "carried MoR update lost in the snapshot"

    # rename: adopted dirs written under the OLD name must still map
    src2 = catalog.create_table("cdc_db", "rn_src", "id int, v string")
    src2.insert_values([(1, "a"), (2, "b")])
    src2.rename_column("v", "w")
    snap2 = catalog.snapshot_table("cdc_db", "rn_src", "cdc_db", "rn_dst")
    assert sorted((r.id, r.w) for r in snap2.scan().collect()) == [
        (1, "a"), (2, "b"),
    ], "pre-rename dir read as NULL in the snapshot"

    # partition evolution: filters must not hit pre-evolution dirs
    src3 = catalog.create_table(
        "cdc_db", "pe_src", "id int, brand string",
        partition_by=["brand"],
    )
    src3.insert_values([(i, "x") for i in range(10)])
    src3.evolve_partition_spec(["bucket(4, id)"])
    src3.insert_values([(100 + i, "y") for i in range(10)])
    snap3 = catalog.snapshot_table("cdc_db", "pe_src", "cdc_db", "pe_dst")
    for flt in ("id_bucket = '1'", "id_bucket = '2'"):
        a = src3.scan(partition_filter=flt).count()
        b = snap3.scan(partition_filter=flt).count()
        assert a == b, f"partition filter {flt}: src {a} != snapshot {b}"


def test_snapshot_proc_requires_create_table_on_destination(spark, tmp_path):
    """Round-5 review high finding: CALL system.snapshot creates a table,
    so it must pass the destination CREATE_TABLE gate — SELECT on the
    source alone must not mint tables in arbitrary databases."""
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.permissions import (
        PermissionDenied,
    )

    catalog = LocalCatalog(spark, str(tmp_path / "wh"))
    root = EngineSQL(catalog)
    root.execute(
        "CREATE TABLE glue_catalog.pd.t (id INT) USING iceberg;"
        "INSERT INTO pd.t VALUES (1), (2)"
    )
    catalog.permissions.grant_table_permissions(
        "analyst", "pd", "t", ["SELECT", "DESCRIBE"]
    )
    catalog.permissions.enable_enforcement()
    with pytest.raises(PermissionDenied):
        EngineSQL(catalog, principal="analyst").execute_one(
            "CALL system.snapshot(source_table => 'pd.t', "
            "table => 'other.sneak')"
        )
    assert not catalog.table_exists("other", "sneak")
    catalog.permissions.grant_database_permissions(
        "analyst", "other", ["CREATE_TABLE"]
    )
    EngineSQL(catalog, principal="analyst").execute_one(
        "CALL system.snapshot(source_table => 'pd.t', table => 'other.ok')"
    )
    assert catalog.table_exists("other", "ok")


def test_at_metadata_version_read_only_and_schema(catalog):
    """Metadata-file time travel: a historical handle restores schema
    interpretation and history as of that write; mutating through it is
    refused (it would fork the trail); unretained versions error."""
    t = catalog.create_table("cdc_db", "mtv", "id int, v string")
    t.insert_values([(1, "a")])
    pinned_ver = int(t._meta["last_metadata_version"])
    t.rename_column("v", "w")
    t.insert_values([(2, "b")])
    old = t.at_metadata_version(pinned_ver)
    assert [f.name for f in old.scan().schema.fields] == ["id", "v"]
    assert old.scan().count() == 1
    assert len(old.snapshots()) == 2  # create + first insert
    # mutators refuse AT ENTRY: a late refusal (at metadata-write time)
    # would let the physical write land first — the clone's stale
    # metadata re-derives an already-used snapshot id and OVERWRITES the
    # live table's data dir (round-5 review repro)
    with pytest.raises(TableError, match="read-only"):
        old.insert_values([(9, "z")])
    with pytest.raises(TableError, match="read-only"):
        old.delete_where("id = 1")
    with pytest.raises(TableError, match="read-only"):
        old.expire_snapshots(datetime.datetime(2030, 1, 1), retain_last=1)
    with pytest.raises(TableError, match="not retained"):
        t.at_metadata_version(99999)
    # the live handle is unaffected — assert VALUES, not counts: the
    # corruption mode replaced a row in place, leaving counts equal
    assert sorted((r.id, r.w) for r in t.scan().collect()) == [
        (1, "a"), (2, "b"),
    ]
    # and the pinned handle still reflects its version after the refusals
    assert sorted((r.id, r.v) for r in old.scan().collect()) == [(1, "a")]


def test_changes_across_snapshot_adopt_commit(catalog):
    """CDC over a snapshot table from its create snapshot: the adopt
    commit's delta is the INITIAL LOAD — rows VISIBLE at the adopt
    (MoR-merged), never raw adopted dirs (which still hold rows the
    source deleted pre-snapshot); destination DML then diffs normally."""
    src = catalog.create_table("cdc_db", "cdc_src", "id int")
    src.insert_values([(1,), (2,), (5,)])
    src.delete_where("id = 5")  # pre-snapshot source delete
    dst = catalog.snapshot_table("cdc_db", "cdc_src", "cdc_db", "cdc_dst")
    dst.insert_values([(3,)])
    dst.delete_where("id = 1")
    ch = dst.changes(dst.snapshots()[0].id).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (1, "delete"), (1, "insert"), (2, "insert"), (3, "insert"),
    ]


def test_dir_stats_pruned_to_surviving_snapshots(catalog):
    """Per-dir min/max stats must not outlive their dirs: expiry and
    orphan GC delete dirs, and metadata that kept their stats would grow
    by one entry per compaction forever."""
    t = catalog.create_table("stats_db", "cycles", "id bigint, v double")
    for i in range(4):
        t.insert(t.spark.createDataFrame([(i, i * 1.5)], t.schema_ddl))
        t.rewrite_data_files()
        t.expire_snapshots(
            older_than=datetime.datetime(2030, 1, 1), retain_last=1
        )
    t = catalog.load_table("stats_db", "cycles")
    referenced = {
        d for s in t.snapshots() for d in s.data_dirs + s.delete_dirs
    }
    assert t._meta["dir_stats"]
    assert set(t._meta["dir_stats"]) <= referenced
    # metadata that already carries stale entries is cleaned by orphan GC
    t._meta["dir_stats"]["/gone/data/snap-00001"] = {"id": [0, 0]}
    t._write_meta()
    t.remove_orphan_files(older_than_seconds=0)
    t = catalog.load_table("stats_db", "cycles")
    assert set(t._meta["dir_stats"]) <= referenced
    assert sorted(r.id for r in t.scan().collect()) == [0, 1, 2, 3]


_SCHEMA_CASES = {
    "primitive": ("id bigint, name string, ok boolean, d date", None),
    "decimal_ts": (
        "amount decimal(12,2), ts timestamp, local_ts timestamp_ntz", None
    ),
    "nested": (
        "tags array<string>, attrs map<string,int>, "
        "addr struct<city:string,zip:int>",
        None,
    ),
    "not_null_comment": ("id int NOT NULL, note string COMMENT 'free'", None),
    "add_column": ("id int, v float", lambda t: t.add_column("x", "string")),
    "rename_column": ("id int, v float", lambda t: t.rename_column("v", "w")),
    "widen_column": (
        "id int, v float", lambda t: t.widen_column("v", "double")
    ),
    "drop_column": ("id int, v float", lambda t: t.drop_column("v")),
    "char": ("code char(4)", None),
    "varchar": ("id int, label varchar(16)", None),
    "nested_varchar": ("id int, names array<varchar(8)>", None),
}


@pytest.mark.parametrize("case", list(_SCHEMA_CASES))
def test_declared_schema_matches_session_parser(catalog, case):
    """``declared_schema`` is the one schema source for DML: it must
    equal what ``createDataFrame([], ddl).schema`` gives, follow schema
    evolution on the same handle, and refuse CHAR/VARCHAR as that path
    does."""
    ddl, alter = _SCHEMA_CASES[case]
    t = catalog.create_table("schema_db", case, ddl)
    if "char(" in ddl:
        with pytest.raises(Exception):
            t.spark.createDataFrame([], ddl).schema
        with pytest.raises(TableError, match="CHAR/VARCHAR"):
            t.declared_schema()
        return
    if alter is not None:
        t.declared_schema()  # memoized before the ALTER on this handle
        alter(t)
    assert t.declared_schema() == t.spark.createDataFrame(
        [], t.schema_ddl
    ).schema
