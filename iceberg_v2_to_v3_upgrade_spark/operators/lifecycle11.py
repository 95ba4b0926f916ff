"""Round-9 driver-gate conversion: the combined metadata-integrity arc
(verdict item 9) — the per-commit ADDED-DIRS manifest (SURVEY §2 I+
round-5 row) and the reference's VERIFY 3-PROBE suite (§2 K4 /
``internal/verify_in_databricks.py:57-112``), previously pytest-only.

- Added-dirs: every commit records the data dirs it ADDED vs its
  parent (Iceberg's added-files manifest field); cherry-pick reads its
  delta from that record instead of diffing against earlier-listed
  snapshots — the construction that broke in round 5 once
  ``expire_snapshots`` compacted the earlier history away (the diff
  base emptied and the whole inherited dir list was mistaken for the
  delta). The arc stages an append on a branch, EXPIRES the shared
  ancestry down to heads, then cherry-picks — exactly the
  post-expiry publish that needs the recorded delta.
- 3-probe: DESCRIBE / SELECT * LIMIT 5 / COUNT(*), the fixed suite the
  reference runs in the OTHER engine after the upgrade
  (``verify_in_databricks.py:67,79,102``); here the second engine is
  DuckDB reading the table natively (``tables/duckdb_reader.py``).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

_I50_ORACLE = """
    WITH final AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 <> 0
        UNION ALL
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 500000000 FROM orders
        WHERE o_orderkey % 64 = 0
    ),
    picked AS (
        SELECT CAST(count(*) AS BIGINT) AS v FROM orders
        WHERE o_orderkey % 64 = 0
    ),
    head5 AS (
        SELECT CAST(sum(o_orderkey) AS BIGINT) AS v FROM (
            SELECT o_orderkey FROM final ORDER BY o_orderkey LIMIT 5
        )
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS v FROM final),
    report(step, fact, value) AS (
        VALUES
            (1, 'added_dirs_create',       CAST(0 AS BIGINT)),
            (2, 'added_dirs_insert1',      CAST(1 AS BIGINT)),
            (3, 'added_dirs_delete',       CAST(0 AS BIGINT)),
            (4, 'added_dirs_insert2',      CAST(1 AS BIGINT)),
            (5, 'added_dirs_compaction',   CAST(1 AS BIGINT)),
            (6, 'cherrypick_after_expiry', (SELECT v FROM picked)),
            (7, 'probe_describe_cols',     CAST(2 AS BIGINT)),
            (8, 'probe_head5_keysum',      (SELECT v FROM head5)),
            (9, 'probe_count',             (SELECT v FROM total))
    )
    SELECT step, fact, value FROM report ORDER BY step
"""


@declare(
    "i50_metadata_integrity_arc",
    oracle=_I50_ORACLE,
    tags=("lifecycle", "metadata", "cross-engine", "branch"),
)
def i50_metadata_integrity_arc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Added-dirs manifest + verify 3-probe behind the hash gate
    (round-9 verdict #9, closing SURVEY §2 to full driver evidence):

    steps 1-5: for EVERY commit (create / insert / MoR delete / insert
    / full compaction) the recorded ``added_dirs`` must equal the
    recomputed data-dir diff against the parent snapshot — asserted
    in-query, the per-commit count is the returned fact;
    step 6: an append staged on a branch is cherry-picked to main
    AFTER ``expire_snapshots(retain_last=1)`` compacted the shared
    ancestry — the publish must take its delta from the recorded
    added-dirs (the legacy earlier-listed diff base no longer exists)
    and exactly the staged rows appear on main;
    steps 7-9: the reference's fixed verification probes — DESCRIBE,
    ordered-head SELECT (LIMIT 5), COUNT(*) — run in DuckDB reading
    the table natively, no Spark in the read path.
    """
    import datetime

    import duckdb

    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
        duckdb_table_sql,
    )

    warehouse = tempfile.mkdtemp(prefix="mi_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "mi_db", "orders_mi", "o_orderkey BIGINT, o_totalprice DOUBLE"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.insert(orders.filter("o_orderkey % 2 = 1"))
    t.delete_where("o_orderkey % 5 = 0")
    t.insert(orders.filter("o_orderkey % 2 = 0 AND o_orderkey % 7 = 0"))
    t.rewrite_data_files(rewrite_all=True, delete_file_threshold=1)

    # steps 1-5: recorded added-dirs == recomputed diff vs parent
    snaps = t.snapshots()
    by_id = {s.id: s for s in snaps}
    labels = [
        "added_dirs_create",
        "added_dirs_insert1",
        "added_dirs_delete",
        "added_dirs_insert2",
        "added_dirs_compaction",
    ]
    assert len(snaps) == len(labels), [s.operation for s in snaps]
    rows: list[tuple[int, str, int]] = []
    for step, (s, label) in enumerate(zip(snaps, labels), start=1):
        parent_data = (
            set(by_id[s.parent_id].data_dirs) if s.parent_id else set()
        )
        diff = [d for d in s.data_dirs if d not in parent_data]
        # the CREATE snapshot predates any _commit (no added_dirs
        # field); it owns no data dirs, so its delta is [] by definition
        recorded = s.added_dirs if s.added_dirs is not None else []
        if s.added_dirs is None:
            assert s.operation == "create" and not s.data_dirs, label
        assert sorted(recorded) == sorted(diff), (label, recorded, diff)
        rows.append((step, label, len(recorded)))

    # step 6: stage on a branch, expire the shared ancestry, cherry-pick
    t.create_branch("stage")
    staged = t.insert(
        orders.filter("o_orderkey % 64 = 0").selectExpr(
            "o_orderkey + 500000000 AS o_orderkey", "o_totalprice"
        ),
        branch="stage",
    )
    before = t.scan().count()
    t.expire_snapshots(
        older_than=datetime.datetime(2030, 1, 1), retain_last=1
    )
    t = catalog.load_table("mi_db", "orders_mi")  # reload post-GC
    t.cherrypick_snapshot(staged.id)
    picked = t.scan().count() - before
    rows.append((6, "cherrypick_after_expiry", picked))

    # steps 7-9: the reference's 3-probe suite in the second engine
    sql = duckdb_table_sql(t)
    con = duckdb.connect()
    try:
        cols = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
        rows.append((7, "probe_describe_cols", len(cols)))
        head5 = con.execute(
            f"SELECT CAST(sum(o_orderkey) AS BIGINT) FROM "
            f"(SELECT o_orderkey FROM ({sql}) "
            f"ORDER BY o_orderkey LIMIT 5)"
        ).fetchone()[0]
        rows.append((8, "probe_head5_keysum", int(head5)))
        n = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        rows.append((9, "probe_count", int(n)))
    finally:
        con.close()
    return spark.createDataFrame(
        rows, "step int, fact string, value bigint"
    ).orderBy("step")


_I51_ORACLE = """
    WITH final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' refreshed content'
                    ELSE text END AS text
        FROM documents
        WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 10000000, 'brand new document about ' ||
               CAST(doc_id AS VARCHAR) || ' retrieval'
        FROM documents WHERE doc_id % 13 = 0
    ),
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM final),
    postings AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY term, doc_id)
    SELECT term,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM postings
    WHERE term IN ('retrieval', 'refreshed', 'table', 'join', 'scan',
                   'customer', 'vector')
    GROUP BY term ORDER BY term
"""


@declare(
    "i51_incremental_index",
    oracle=_I51_ORACLE,
    tags=("lifecycle", "cdc", "retrieval", "incremental"),
)
def i51_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance from table CDC (round-9
    extra — the retrieval-side twin of i28's incremental MV): an index
    table (term, doc_id, tf) is seeded from a documents LocalTable,
    then the table takes a MoR DELETE, a MoR text UPDATE, and an
    INSERT; ``changes()`` emits the row-level deltas and the index is
    maintained by the signed-postings fold (insert rows add their
    postings, delete rows subtract; an UPDATE is delete+insert, so a
    rewritten doc's old postings vanish and new ones appear). The
    maintained index is proven IN-QUERY to equal a full rebuild from
    the final scan (exceptAll both directions), and a per-term summary
    over a fixed vocabulary slice is returned hash-gated.

    Scale: changes() reads only the delta commits (O(changed rows));
    the fold is one keyed groupBy over seed+delta postings — the
    whole point vs re-exploding the corpus per refresh.
    """
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="idx_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "idx_db", "docs_idx", "doc_id BIGINT, text STRING"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t.insert(docs)
    seed_snap = t.current_snapshot().id

    def postings(frame):
        return (
            frame.select(
                "doc_id", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    seed = postings(t.scan().select("doc_id", "text"))

    # the day's DML: retire a slice, refresh a slice, ingest new docs
    t.delete_where("doc_id % 7 = 0")
    t.update_set(
        {"text": "concat(text, ' refreshed content')"}, "doc_id % 11 = 0"
    )
    t.insert(
        docs.filter("doc_id % 13 = 0").selectExpr(
            "doc_id + 10000000 AS doc_id",
            "concat('brand new document about ', CAST(doc_id AS STRING), "
            "' retrieval') AS text",
        )
    )

    delta = t.changes(seed_snap).select("doc_id", "text", "_change_type")
    signed = postings(delta.where("_change_type = 'insert'")).select(
        "term", "doc_id", F.col("tf").alias("s")
    ).unionAll(
        postings(delta.where("_change_type = 'delete'")).select(
            "term", "doc_id", (-F.col("tf")).alias("s")
        )
    )
    maintained = (
        seed.select("term", "doc_id", F.col("tf").alias("s"))
        .unionAll(signed)
        .groupBy("term", "doc_id")
        .agg(F.sum("s").alias("tf"))
        .filter(F.col("tf") > 0)
    )

    # in-query equivalence: maintained index == full rebuild. BOTH
    # sides persist: each exceptAll direction is its own count job, and
    # an unpersisted rebuild re-scans + re-aggregates the whole corpus
    # per direction (round-9 second-review finding)
    rebuilt = scope.persist(postings(t.scan().select("doc_id", "text")))
    m = scope.persist(maintained)
    assert m.exceptAll(rebuilt).count() == 0, "maintained ⊃ rebuild"
    assert rebuilt.exceptAll(m).count() == 0, "rebuild ⊃ maintained"
    out = (
        m.filter(
            F.col("term").isin(
                "retrieval", "refreshed", "table", "join", "scan",
                "customer", "vector",
            )
        )
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .orderBy("term")
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


_I52_ORACLE = """
    SELECT c_custkey, c_acctbal FROM customer WHERE c_nationkey >= 5
    UNION ALL
    SELECT c_custkey + 900000000 AS c_custkey, c_acctbal + 0.5 AS c_acctbal
    FROM customer WHERE c_nationkey < 5 AND c_custkey % 10 = 3
    ORDER BY c_custkey
"""


@declare(
    "i52_eq_gap_time_travel",
    oracle=_I52_ORACLE,
    tags=("lifecycle", "cross-engine", "metadata", "time-travel", "cdc"),
)
def i52_eq_gap_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical equality-delete export gap, driven end-to-end
    (round-10 verdict item 5): a table takes an EQUALITY delete on
    ``c_nationkey`` (the streaming-CDC delete flavor,
    ``delete_by_keys``), then a LATER insert that re-uses deleted key
    values (sequence scoping: later rows must survive), then a
    compaction that applies the delete, then a REAL
    ``drop_column("c_nationkey")`` — legal, since no live eq-delete
    needs the column. The export (``iceberg_export``) cannot map the
    historical delete's column to a current field id, so its manifest
    ships ``equality_ids=null`` plus the ``unresolved-equality-columns``
    gap record (round-8 advice). This arc is the CONSUMER side: a
    blind DuckDB reader time-travels to the post-insert snapshot via
    the exported chain alone and

    1. detects the gap (content=2 entries with null equality_ids AND
       the recorded column names in the manifest metadata),
    2. quantifies what a naive reader that skips the unreadable delete
       would do — silently resurrect every eq-deleted row (asserted
       in-query as an exact count),
    3. reconstructs the correct state anyway: the recorded NAMES still
       resolve in the delete parquet files and in the data files'
       physical columns (drop_column is metadata-only — Iceberg files
       keep the bytes), so the keys anti-join data entries whose
       manifest sequence_number predates the delete's, while
       later-sequence entries are kept whole.

    Hash-gated against the relational oracle; reference parity:
    the post-upgrade second-engine verification of
    ``internal/verify_in_databricks.py:57-112``, pointed at a snapshot
    the reference's stock consumer would mis-read.
    """
    import glob as _glob
    import json as _json

    import pandas as pd

    import duckdb

    from iceberg_v2_to_v3_upgrade_spark.tables.avro_io import read_avro
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.iceberg_export import (
        export_iceberg_metadata,
    )

    warehouse = tempfile.mkdtemp(prefix="eqgap_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "eqgap_db",
        "cust_eq",
        "c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    t.insert(cust)
    t.delete_by_keys(
        spark.createDataFrame([(k,) for k in range(5)], "c_nationkey BIGINT"),
        ["c_nationkey"],
    )
    eq_snap = t.current_snapshot()
    del_seq = int(eq_snap.eq_deletes[-1]["seq"])
    # later-sequence rows re-using deleted keys: must NOT be deleted
    t.insert(
        cust.filter("c_nationkey < 5 AND c_custkey % 10 = 3").select(
            (F.col("c_custkey") + 900000000).alias("c_custkey"),
            "c_nationkey",
            (F.col("c_acctbal") + 0.5).alias("c_acctbal"),
        )
    )
    target_id = t.current_snapshot().id
    # compaction applies the eq-delete; nothing live needs the column
    t.rewrite_data_files(rewrite_all=True, delete_file_threshold=1)
    assert not t.current_snapshot().eq_deletes
    t.drop_column("c_nationkey")

    meta = _json.load(
        open(export_iceberg_metadata(t, tempfile.mkdtemp(prefix="eqgap_out_")))
    )
    target = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == target_id
    )
    assert target_id != meta["current-snapshot-id"], "target must be old"
    _, _, manifests = read_avro(target["manifest-list"])
    data_files: list[tuple[str, int]] = []
    delete_files: list[str] = []
    gap_cols: list[str] = []
    for m in manifests:
        _, mmeta, entries = read_avro(m["manifest_path"])
        for e in entries:
            df = e["data_file"]
            if df["content"] == 0:
                data_files.append((df["file_path"], e["sequence_number"]))
            elif df["content"] == 2:
                # the gap: ids unresolvable, names recorded (1)
                assert df["equality_ids"] is None, df["equality_ids"]
                cols = _json.loads(mmeta["unresolved-equality-columns"])
                assert cols == ["c_nationkey"], cols
                gap_cols = cols
                delete_files.append(df["file_path"])
    assert delete_files and gap_cols, "gap manifest missing from export"
    assert any(seq > del_seq for _, seq in data_files), (
        "later-sequence data entry missing"
    )
    con = duckdb.connect()
    try:
        con.register(
            "fseq", pd.DataFrame(data_files, columns=["fname", "fseq"])
        )
        flist = ", ".join(f"'{f}'" for f, _ in data_files)
        dlist = ", ".join(f"'{f}'" for f in delete_files)
        key = gap_cols[0]
        # (2) a naive reader skips the unreadable delete: every deleted
        # row resurrects
        naive, correct, resurrected = con.execute(
            f"""
            WITH dk AS (SELECT {key} FROM read_parquet([{dlist}])),
            d AS (
                SELECT r.*, fseq.fseq AS _seq
                FROM read_parquet([{flist}], filename=1) r
                JOIN fseq ON fseq.fname = r.filename
            )
            SELECT
                (SELECT count(*) FROM d),
                (SELECT count(*) FROM d
                 WHERE _seq > {del_seq} OR {key} NOT IN (SELECT {key} FROM dk)),
                (SELECT count(*) FROM d
                 WHERE _seq < {del_seq} AND {key} IN (SELECT {key} FROM dk))
            """
        ).fetchone()
        assert naive == correct + resurrected and resurrected > 0, (
            naive, correct, resurrected,
        )
        # (3) gap-aware reconstruction, projected to the CURRENT schema
        pdf = con.execute(
            f"""
            SELECT r.c_custkey, r.c_acctbal
            FROM read_parquet([{flist}], filename=1) r
            JOIN fseq ON fseq.fname = r.filename
            WHERE fseq.fseq > {del_seq}
               OR r.{key} NOT IN (SELECT {key} FROM read_parquet([{dlist}]))
            ORDER BY r.c_custkey
            """
        ).df()
    finally:
        con.close()
    assert len(pdf) == correct
    return spark.createDataFrame(pdf, "c_custkey bigint, c_acctbal double")
