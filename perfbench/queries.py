"""A pass over a fixed list of registered queries, written to the noop sink.

Set-up writes the seeded fixture tables (``fixtures.py``), loads the
registry, and runs every listed query once, checking its rows against the
query's DuckDB oracle (``oracle_sql()``); that first pass is also the
queries' warm-up. Each timed pass then re-runs the list into the noop sink.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

from perfbench import fixtures
from perfbench.harness import Run

#: short id -> registered query. perfbench/README.md records why each
#: other query a ROADMAP item names is left out.
QUERIES = {
    "q1": "q1_pricing_summary",
    "n87": "n87_bfs_shortest_path",
    "n2e": "n2e_embedding_cosine_neardup",
}
_TABLES = ("lineitem", "part", "embeddings")


class QueryPass:
    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        from iceberg_v2_to_v3_upgrade_spark import registry

        self.fixture_dir = os.path.join(self.run.work_dir, "fixtures")
        fixtures.write_all(self.fixture_dir, self.run.seed)
        ops = registry.load_all_operators()
        self.queries = {short: ops[name].fn for short, name in QUERIES.items()}
        con = duckdb.connect()
        try:
            for name in _TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"'{self.fixture_dir}/{name}.parquet'")
            for short, fn in self.queries.items():
                df = fn(self.run.spark, self.fixture_dir)
                got = _canon(df.columns, df.collect())
                rel = con.execute(ops[QUERIES[short]].oracle)
                want = _canon([d[0] for d in rel.description], rel.fetchall())
                self.run.check(f"oracle {short}", got == want and bool(got),
                               f"{len(got)} rows vs oracle {len(want)}")
        finally:
            con.close()

    def run_pass(self) -> None:
        spark = self.run.spark
        for short, fn in self.queries.items():
            with self.run.tracer.span(f"operators.{short}"):
                fn(spark, self.fixture_dir).write.format("noop") \
                    .mode("overwrite").save()


def _canon_value(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{round(v, 6) + 0.0:.6f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def _canon(columns, rows) -> list:
    """Order-insensitive canonical rows, columns matched by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
