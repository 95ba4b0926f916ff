"""``cdc_apply``: streaming CDC batches into a keyed V3 table.

One long-lived ``stream_cdc_into_table(..., available_now=False)`` query
reads a parquet landing directory. Each ``batch`` op lands one CDC file
and ends when ``processAllAvailable()`` returns. The file holds updates to
mostly-recent keys, inserts of new keys and equality deletes of old keys;
inserts and deletes balance, so the row count stays flat. After each batch
a ``read`` op aggregates the live table, checked against the generator's
Python model of live keys. Every ``BATCHES_PER_CYCLE`` batches a
``maintain`` op (rollback to the cycle's base snapshot, expire snapshots,
remove orphan files) returns the table to its set-up layout, which the
next cycle asserts before it starts. One batch per cycle keeps every
batch and read on the same layout, so each op type is one population.
"""

from __future__ import annotations

import datetime
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Run

ROWS = 10_000           # live rows, flat across the run
APPENDS = 4             # key-ordered appends that build the table
BATCH = 200             # changes per CDC file: 1/2 updates, 1/4 each I/D
RECENT = ROWS // 10     # "recent" keys: the newest tenth of the key range
BATCHES_PER_CYCLE = 1
#: With the JIT settings of run.py the per-cycle time is flat from the
#: third cycle on (perfbench/README.md has the curves).
WARMUP_CYCLES = 3

SCHEMA = "id BIGINT, val BIGINT, seq BIGINT"
#: op kinds behind the end-to-end metrics op1_p50_ms and op2_p50_ms
SLOTS = ("batch", "read")


class CdcApply:
    def __init__(self, run: Run):
        self.run = run
        self.rng = random.Random(run.seed)
        self.a = self.rng.randrange(1, 2**31 - 1)
        self.b = self.rng.randrange(0, 2**31 - 1)
        self.seq = 0
        self.files = 0

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from iceberg_v2_to_v3_upgrade_spark.streaming import ingest
        from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

        run, spark = self.run, self.run.spark
        self.catalog = LocalCatalog(spark, os.path.join(run.work_dir, "wh"))
        table = self.catalog.create_table(
            "cdc", "live", SCHEMA, properties={"format-version": "3"}
        )
        step = ROWS // APPENDS
        for lo in range(0, ROWS, step):
            table.insert(
                spark.range(lo, lo + step).select(
                    F.col("id"),
                    ((F.col("id") * self.a + self.b) % (2**31 - 1)).alias("val"),
                    F.lit(0).cast("bigint").alias("seq"),
                )
            )
        table.expire_snapshots(  # one snapshot, as after every cycle
            older_than=datetime.datetime.now(datetime.timezone.utc),
            retain_last=1,
        )
        self.base_live = {
            i: (i * self.a + self.b) % (2**31 - 1) for i in range(ROWS)
        }
        self.landing = os.path.join(run.work_dir, "landing")
        self.staging = os.path.join(run.work_dir, "staging")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        stream = (
            spark.readStream.schema(f"{SCHEMA}, op STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.landing)
        )
        self.query = ingest.stream_cdc_into_table(
            stream,
            table,
            keys=["id"],
            checkpoint_dir=os.path.join(run.work_dir, "ckpt"),
            op_col="op",
            order_col="seq",
            available_now=False,
        )
        self.base_snap = table.current_snapshot().id
        for _ in range(WARMUP_CYCLES):
            self.cycle()

    def close(self) -> None:
        query = getattr(self, "query", None)
        if query is not None:
            query.stop()

    # ------------------------------------------------------------- cycle

    def cycle(self) -> None:
        self._assert_stationary()
        self.live = dict(self.base_live)
        self.sums = [len(self.live), sum(self.live), sum(self.live.values())]
        self.next_key = ROWS
        for _ in range(BATCHES_PER_CYCLE):
            self._batch()
            got = self.run.op("read", self._read)
            self.run.check("read", list(got) == self.sums,
                           f"scan {list(got)} != model {self.sums}")
        self.run.op("maintain", self._maintain)

    def _table(self):
        return self.catalog.load_table("cdc", "live")

    def _batch(self) -> None:
        rows = self._changes()
        before = self._layout() if self.run.trace else None
        self.run.op("batch", self._land, rows)
        if before is not None:
            self._count_layout(before, len(rows[0]))

    def _land(self, rows) -> None:
        ids, vals, seqs, ops = rows
        with self.run.tracer.span("bench.cdc_file"):
            self.files += 1
            name = f"cdc-{self.files:06d}.parquet"
            tmp = os.path.join(self.staging, name)
            pq.write_table(
                pa.table({"id": pa.array(ids, pa.int64()),
                          "val": pa.array(vals, pa.int64()),
                          "seq": pa.array(seqs, pa.int64()),
                          "op": pa.array(ops, pa.string())}),
                tmp,
            )
            os.rename(tmp, os.path.join(self.landing, name))
        self.query.processAllAvailable()

    def _changes(self):
        """One CDC file's rows, and the model update they imply."""
        rng, live = self.rng, self.live
        n_ins = n_del = BATCH // 4
        n_upd = BATCH - n_ins - n_del
        dels: set[int] = set()
        while len(dels) < n_del:  # old keys: the older half of the range
            k = rng.randrange(0, ROWS // 2)
            if k in live:
                dels.add(k)
        ins = list(range(self.next_key, self.next_key + n_ins))
        self.next_key += n_ins
        upds: set[int] = set()
        lo = ROWS - RECENT
        while len(upds) < n_upd:  # 80% recent keys, 20% any live key
            if rng.random() < 0.8:
                k = rng.randrange(lo, self.next_key - n_ins)
            else:
                k = rng.randrange(0, self.next_key - n_ins)
            if k in live and k not in dels:
                upds.add(k)
        ids, vals, seqs, ops = [], [], [], []
        for op, keys in (("D", sorted(dels)), ("I", ins), ("U", sorted(upds))):
            for k in keys:
                self.seq += 1
                v = rng.randrange(0, 2**31 - 1) if op != "D" else 0
                ids.append(k)
                vals.append(v)
                seqs.append(self.seq)
                ops.append(op)
                old = live.pop(k, None)
                if old is not None:
                    self.sums[0] -= 1
                    self.sums[1] -= k
                    self.sums[2] -= old
                if op != "D":
                    live[k] = v
                    self.sums[0] += 1
                    self.sums[1] += k
                    self.sums[2] += v
        return ids, vals, seqs, ops

    def _read(self):
        from pyspark.sql import functions as F

        return self._table().scan().agg(
            F.count("*"), F.sum("id"), F.sum("val")
        ).collect()[0]

    def _maintain(self) -> None:
        t = self._table()
        t.rollback_to_snapshot(self.base_snap)
        t.expire_snapshots(
            older_than=datetime.datetime.now(datetime.timezone.utc),
            retain_last=1,
        )
        t.remove_orphan_files(older_than_seconds=0)
        self.base_snap = t.current_snapshot().id

    # -------------------------------------------------------- invariants

    def _meta_bytes(self) -> int:
        return os.path.getsize(
            os.path.join(self.catalog.table_root("cdc", "live"),
                         "metadata.json")
        )

    def _assert_stationary(self) -> None:
        """Every cycle starts from the set-up layout: same data-dir count,
        no delete files, the set-up row count, one snapshot."""
        from iceberg_v2_to_v3_upgrade_spark.tables.duckdb_reader import (
            duckdb_table_sql,
        )

        t = self._table()
        snap = t.current_snapshot()
        root = self.catalog.table_root("cdc", "live")
        on_disk = sum(
            entry.is_dir()
            for sub in ("data", "deletes")
            if os.path.isdir(os.path.join(root, sub))
            for entry in os.scandir(os.path.join(root, sub))
        )
        con = duckdb.connect()
        try:
            n = con.execute(
                f"SELECT count(*) FROM ({duckdb_table_sql(t)})"
            ).fetchone()[0]
        finally:
            con.close()
        state = (len(snap.data_dirs), on_disk, len(snap.delete_dirs),
                 len(snap.eq_deletes), n)
        self.run.check(
            "stationary", state == (APPENDS, APPENDS, 0, 0, ROWS),
            f"(data dirs, dirs on disk, delete dirs, eq deletes, rows) = "
            f"{state}",
        )
        # The snapshot list must come back to one entry. metadata.json as a
        # whole is reported, not asserted: its per-dir stats keep entries
        # for dirs that expiry already deleted, so it grows every cycle.
        self.run.check("one_snapshot", len(t.snapshots()) == 1,
                       f"{len(t.snapshots())} snapshots")
        self.run.count("tables.metadata_bytes", self._meta_bytes())

    # ------------------------------------------------------ layer counts

    def _layout(self):
        snap = self._table().current_snapshot()
        dirs = set(snap.data_dirs) | set(snap.delete_dirs) | {
            e["dir"] for e in snap.eq_deletes
        }
        self.run.count("tables.dirs_in_scope", len(dirs))
        return snap.id, dirs

    def _count_layout(self, before, rows: int) -> None:
        snap_id, dirs = before
        t = self._table()
        snap = t.current_snapshot()
        new = (set(snap.data_dirs) | set(snap.delete_dirs)
               | {e["dir"] for e in snap.eq_deletes}) - dirs
        self.run.count("tables.bytes_written_per_row",
                       _dir_bytes(new) / rows)
        self.run.count("tables.commits_per_op", snap.id - snap_id)


def _dir_bytes(dirs) -> int:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total

