"""Cross-engine read verification — the reference's Databricks probe suite
(K4/J9, ``internal/verify_in_databricks.py:57-112``) with DuckDB as the
second engine.

Same three probes, same pass criteria:
1. DESCRIBE TABLE        (schema readable)
2. SELECT * LIMIT 5      (data readable, prints 3 rows)
3. SELECT COUNT(*)       (non-critical cardinality probe)

DuckDB reads the MANAGED TABLE itself: the probed view is the compiled
MoR-merge statement of ``tables/duckdb_reader.py`` over the raw data and
delete files (``add_files`` imports included), with no Spark in the read
path — the reference likewise points Databricks at the live Iceberg
table, not at an export.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from iceberg_v2_to_v3_upgrade_spark.tables import duckdb_reader
from iceberg_v2_to_v3_upgrade_spark.tables.table import LocalTable


@dataclass
class ProbeResult:
    probe: str
    ok: bool
    detail: str


def verify_table_in_duckdb(table: LocalTable) -> list[ProbeResult]:
    """Run the three probes against DuckDB's compiled read of ``table``'s
    current snapshot (``duckdb_reader.duckdb_table_sql``)."""
    results: list[ProbeResult] = []
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS {duckdb_reader.duckdb_table_sql(table)}")
        # probe 1: DESCRIBE (verify_in_databricks.py:67)
        try:
            cols = con.execute("DESCRIBE t").fetchall()
            results.append(
                ProbeResult("describe", len(cols) > 0, f"{len(cols)} columns")
            )
        except Exception as e:  # noqa: BLE001
            results.append(ProbeResult("describe", False, str(e)))
        # probe 2: SELECT * LIMIT 5 (:79; prints 3 like :85-88)
        try:
            rows = con.execute("SELECT * FROM t LIMIT 5").fetchall()
            results.append(
                ProbeResult(
                    "select_limit",
                    len(rows) > 0,
                    f"sample={rows[:3]!r}",
                )
            )
        except Exception as e:  # noqa: BLE001
            results.append(ProbeResult("select_limit", False, str(e)))
        # probe 3: COUNT(*) (:102; non-critical :109)
        try:
            n = con.execute("SELECT count(*) FROM t").fetchone()[0]
            results.append(ProbeResult("count", True, f"count={n}"))
        except Exception as e:  # noqa: BLE001
            results.append(ProbeResult("count", False, str(e)))
    finally:
        con.close()
    return results


@dataclass
class Warehouse:
    """A discoverable second-engine warehouse (J9): the local analog of
    one entry in the reference's ``GET /api/2.0/sql/warehouses`` listing
    (``internal/verify_in_databricks.py:23-34``) — a name, an id, a
    lifecycle state, and (when RUNNING) a DuckDB database path that
    accepts statements."""

    name: str
    id: str
    state: str  # RUNNING | STOPPED | STARTING | DELETED
    db_path: str = ":memory:"

    def connect(self) -> "duckdb.DuckDBPyConnection":
        """Statements are only served by a RUNNING warehouse — the
        reference never talks to a non-RUNNING one (it filters first),
        and this analog enforces that at the connection boundary."""
        if self.state != "RUNNING":
            raise RuntimeError(
                f"warehouse {self.name} ({self.id}) is {self.state}, "
                "not RUNNING"
            )
        return duckdb.connect(self.db_path)


def discover_warehouse(warehouses: list[Warehouse]) -> Warehouse:
    """Warehouse discovery (SURVEY §2 J9): filter the listing to
    state == RUNNING and pick the FIRST, in listing order — exactly
    ``internal/verify_in_databricks.py:28-34`` (``running = [w for w in
    warehouses if w.get('state') == 'RUNNING']``, error when empty,
    ``running[0]`` otherwise)."""
    running = [w for w in warehouses if w.state == "RUNNING"]
    if not running:
        raise RuntimeError("No running SQL warehouse found")
    return running[0]


def verification_passed(results: list[ProbeResult]) -> bool:
    """Pass rule mirrors the reference: describe + select are critical,
    count is advisory (verify_in_databricks.py:109)."""
    critical = {"describe", "select_limit"}
    return all(r.ok for r in results if r.probe in critical)
