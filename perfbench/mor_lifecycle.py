"""``mor_lifecycle``: the V2 -> V3 upgrade arc, then the read side.

Every cycle takes ``TABLES`` equal-size V2 merge-on-read tables,
partitioned by ``category``, through the reference's lifecycle as SQL
programs sent to ``EngineSQL.execute``: CREATE, INSERT ... SELECT, a
seeded ``DELETE ...; UPDATE ...`` program (the reference ships the two
together), ``data_filter`` point lookups on the merge-on-read layout, the
upgrade (``plans.upgrade.upgrade_many`` on one table at a time: ALTER
to format-version 3 plus full ``rewrite_data_files``), a full scan of the
compacted table, a time-travel scan to the pre-upgrade snapshot, the
DuckDB cross-engine verification, a post-upgrade DELETE, snapshot expiry
and DROP. The cycle ends with one pass over the registered queries of
``queries.py``. Each program shape is one op type, and all tables have
one size, so every op type's latencies form one cluster.

Checks, all outside the op timers: after every DML program the table's
row count and key sum equal those of a DuckDB mirror that ran the same
program; point lookups return the mirror's rows; after the upgrade the
table is format-version 3 with zero delete files, and both the current
scan and the time-travel scan hash equal the pre-upgrade scan hash; the
verification probes pass; expiry leaves one snapshot; DROP removes the
table; each listed query's first result equals its DuckDB oracle.
"""

from __future__ import annotations

import datetime
import os
import random

import duckdb

from perfbench.harness import Run
from perfbench.queries import QueryPass

TABLES = 1          # tables per cycle
ROWS = 10_000       # rows per table
POINTS = 2          # point lookups per table
CATEGORIES = ("electronics", "clothing", "furniture")
#: op kinds behind the end-to-end metrics op1_p50_ms and op2_p50_ms
SLOTS = ("dml", "upgrade")

_COLUMNS = ("id INT, name STRING, category STRING, amount DECIMAL(10,2), "
            "created_at TIMESTAMP")
_PROPS = ("'format-version' = '2', 'write.delete.mode' = 'merge-on-read', "
          "'write.update.mode' = 'merge-on-read'")


class MorLifecycle:
    def __init__(self, run: Run):
        self.run = run
        self.rng = random.Random(run.seed)
        self.n = 0
        self.queries = QueryPass(run)

    def setup(self) -> None:
        from iceberg_v2_to_v3_upgrade_spark.sql_router import EngineSQL
        from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

        self.catalog = LocalCatalog(
            self.run.spark, os.path.join(self.run.work_dir, "wh")
        )
        self.catalog.create_database("fleet")
        self.sql = EngineSQL(self.catalog)
        self.queries.setup()
        self.cycle()  # warm-up

    def close(self) -> None:
        pass

    # ------------------------------------------------------------- cycle

    def cycle(self) -> None:
        names = []
        for _ in range(TABLES):
            self.n += 1
            names.append(f"t{self.n:05d}")
        mirrors = {t: duckdb.connect() for t in names}
        try:
            self._lifecycle(names, mirrors)
        finally:
            for con in mirrors.values():
                con.close()
        self.run.op("query_pass", self.queries.run_pass)

    def _lifecycle(self, names, mirrors) -> None:
        run, rng = self.run, self.rng
        for t in names:
            run.op("create", self._exec,
                   f"CREATE TABLE glue_catalog.fleet.{t} ({_COLUMNS}) "
                   f"USING iceberg PARTITIONED BY (category) "
                   f"TBLPROPERTIES ({_PROPS})")
        for t in names:
            self._dml("insert", t, mirrors[t],
                      self._insert_sql(t, rng.randrange(1, 1000)))
        for t in names:
            lo = rng.randrange(0, ROWS - ROWS // 10)
            self._dml("dml", t, mirrors[t],
                      f"DELETE FROM glue_catalog.fleet.{t} WHERE "
                      f"id % {rng.randrange(7, 40)} = {rng.randrange(0, 7)}; "
                      f"UPDATE glue_catalog.fleet.{t} SET amount = amount * 1.1 "
                      f"WHERE id BETWEEN {lo} AND {lo + ROWS // 10}")
        for t in names:
            for _ in range(POINTS):
                self._point(t, mirrors[t], rng.randrange(0, ROWS))
        before = {t: self._content_hash(t) for t in names}
        snaps = {t: self.catalog.load_table("fleet", t).current_snapshot().id
                 for t in names}
        self._upgrade(names)
        for t in names:
            got = run.op("scan", self._content_hash, t)
            run.check("scan_after_compaction", got == before[t],
                      f"{t}: {before[t]} -> {got}")
            got = run.op("time_travel", self._content_hash, t, snaps[t])
            run.check("time_travel", got == before[t],
                      f"{t}@{snaps[t]}: {before[t]} -> {got}")
        for t in names:
            self._verify(t)
        for t in names:
            self._dml("delete_post", t, mirrors[t],
                      f"DELETE FROM glue_catalog.fleet.{t} WHERE "
                      f"id % {rng.randrange(41, 90)} = {rng.randrange(0, 41)}")
        for t in names:
            ts = datetime.datetime.now(datetime.timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S.%f")
            run.op("expire", self._exec,
                   f"CALL system.expire_snapshots(table => 'fleet.{t}', "
                   f"older_than => TIMESTAMP '{ts}', retain_last => 1)")
            n_snaps = len(self.catalog.load_table("fleet", t).snapshots())
            run.check("expire", n_snaps == 1, f"{t}: {n_snaps} snapshots left")
        for t in names:
            run.op("drop", self._exec, f"DROP TABLE glue_catalog.fleet.{t}")
            run.check("drop", not self.catalog.table_exists("fleet", t), t)

    # -------------------------------------------------------------- ops

    def _exec(self, program: str):
        return self.sql.execute(program)

    @staticmethod
    def _insert_sql(t: str, mult: int) -> str:
        cats = ", ".join(f"'{c}'" for c in CATEGORIES)
        return (
            f"INSERT INTO glue_catalog.fleet.{t} SELECT "
            f"CAST(id AS INT) AS id, concat('p', id) AS name, "
            f"element_at(array({cats}), CAST((id * {mult}) % 3 AS INT) + 1) "
            f"AS category, "
            f"CAST(((id * {mult}) % 100000) / 100.0 AS DECIMAL(10,2)) AS amount, "
            f"TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) "
            f"AS created_at FROM range(0, {ROWS})"
        )

    def _dml(self, kind: str, t: str, mirror, sql: str) -> None:
        self.run.op(kind, self._exec, sql)
        if kind == "insert":
            mirror.execute(f"CREATE TABLE m AS SELECT CAST(range AS INT) AS id "
                           f"FROM range(0, {ROWS})")
        else:  # the mirror keeps keys only, which UPDATE leaves alone
            for stmt in sql.split("; "):
                if stmt.startswith("DELETE"):
                    mirror.execute(stmt.replace(f"glue_catalog.fleet.{t}", "m"))
        want = mirror.execute("SELECT count(*), sum(id) FROM m").fetchone()
        got = self._engine_count(t)
        self.run.check(kind, tuple(got) == tuple(want),
                       f"{t}: engine (rows, key sum) {got} != mirror {want} "
                       f"after {sql}")

    def _engine_count(self, t: str):
        from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
            duckdb_table_sql,
        )

        con = duckdb.connect()
        try:
            return con.execute(
                "SELECT count(*), sum(id) FROM "
                f"({duckdb_table_sql(self.catalog.load_table('fleet', t))})"
            ).fetchone()
        finally:
            con.close()

    def _point(self, t: str, mirror, k: int) -> None:
        rows = self.run.op("point", self._lookup, t, k)
        want = mirror.execute(f"SELECT id FROM m WHERE id = {k}").fetchall()
        self.run.check("point", [(r.id,) for r in rows] == want,
                       f"{t} id={k}: {rows} != {want}")

    def _lookup(self, t: str, k: int):
        table = self.catalog.load_table("fleet", t)
        if self.run.trace:
            snap = table.current_snapshot()
            self.run.count("tables.dirs_in_scope",
                           len(snap.data_dirs) + len(snap.delete_dirs))
        rows = table.scan(data_filter=f"id = {k}").collect()
        pruning = table.last_scan_pruning
        if pruning and pruning.get("candidate_dirs"):
            self.run.count("tables.scan.read_dirs_ratio",
                           pruning["read_dirs"] / pruning["candidate_dirs"])
        return rows

    def _content_hash(self, t: str, snapshot_id: int | None = None):
        from pyspark.sql import functions as F

        df = self.catalog.load_table("fleet", t).scan(snapshot_id=snapshot_id)
        return tuple(df.agg(
            F.count("*"), F.sum(F.xxhash64(*df.columns) % (2**31 - 1))
        ).collect()[0])

    def _upgrade(self, names: list[str]) -> None:
        from iceberg_v2_to_v3_upgrade_spark.plans import upgrade

        for t in names:  # one upgrade op per table
            [res] = self.run.op("upgrade", upgrade.upgrade_many,
                                self.catalog, "fleet", [t])
            table = self.catalog.load_table("fleet", t)
            snap = table.current_snapshot()
            self.run.check(
                "upgrade",
                res.ok and table.format_version == 3
                and not snap.delete_dirs and not snap.eq_deletes,
                f"{t}: ok={res.ok} v{table.format_version} "
                f"deletes={len(snap.delete_dirs)}+{len(snap.eq_deletes)}",
            )

    def _verify(self, t: str) -> None:
        from iceberg_v2_to_v3_upgrade_spark.tables import verify

        table = self.catalog.load_table("fleet", t)
        probes = self.run.op("verify", verify.verify_table_in_duckdb, table)
        self.run.check("verify", verify.verification_passed(probes),
                       f"{t}: {probes}")

