"""[EXT] Driver-visible Structured Streaming queries (SURVEY.md §2.L).

The reference is batch-only; this module puts the streaming surface behind
the driver's hash gate. Each query here runs a REAL Structured Streaming
job — file-source ``readStream`` over a staged landing zone, an
``availableNow`` trigger, a memory sink — and returns the drained sink as
its result DataFrame. Because Spark's unified model gives a streaming query
the same logical plan as its batch twin, each has an exact DuckDB oracle:
the oracle checks the batch semantics, the query proves the streaming
machinery (state store, watermarks, micro-batching, sink modes) computes
the same thing.

Scale posture: all state is keyed (event_type/user) and watermark-bounded;
the landing-zone stage writes N files so multi-batch triggers exercise real
incremental state updates. Nothing here collects to the driver beyond the
memory sink that IS the declared (small, aggregated) result.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare
from iceberg_v2_to_v3_upgrade_spark.streaming.jobs import (
    click_purchase_attribution,
    dedup_events,
    enrich_with_segment,
    read_event_stream,
    run_append_to_memory_sink,
    run_to_memory_sink,
    run_update_to_memory_sink,
    sessionize,
    tumbling_value_agg,
    user_running_totals_stream,
)

#: One staged landing zone per staging recipe per process — the queries
#: share it; re-staging per bench pass would bill parquet writes to the
#: streaming operator being measured. Keys are (sf_dir, table, order_col,
#: n_files) for _stage_table stages and (sf_dir, tag) for the bespoke
#: l12/l13 stages.
_STAGE_CACHE: dict[tuple, str] = {}

#: Per-prefix micro-batch progress (dict-like StreamingQueryProgress rows)
#: of the most recent _drain — lets queries assert batch structure.
_LAST_PROGRESS: dict[str, list] = {}

#: Per-prefix name of the most recent memory-sink table — the previous
#: pass's sink is dropped on the next _drain so repeated bench passes
#: don't accumulate every drained result on the driver (the sf1 audit
#: needed a 48g driver purely from leaked sinks).
_LAST_SINK: dict[str, str] = {}
#: Per-prefix parquet dir of the most recent FILE-sink drain
#: (SPARK_GRAFT_STREAM_SINK=file) — removed on the next drain so a long
#: audit session doesn't fill /tmp either.
_LAST_SINK_DIR: dict[str, str] = {}


def _stage_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_col: str,
    n_files: int = 8,
) -> str:
    """Stage any fixture table as an n_files landing zone ordered by
    ``order_col`` (see _stage_events for why ordering matters)."""
    import glob
    import time

    key = (sf_dir, table, order_col, n_files)
    if key not in _STAGE_CACHE:
        stage = tempfile.mkdtemp(prefix=f"stream_stage_{table}_")
        (
            load_table(spark, sf_dir, table)
            .repartitionByRange(n_files, order_col)
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(stage)
        )
        base = time.time() - 3600
        for i, path in enumerate(sorted(glob.glob(f"{stage}/part-*"))):
            os.utime(path, (base + i, base + i))
        _STAGE_CACHE[key] = stage
    return _STAGE_CACHE[key]


def _stage_events(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Write the (type-normalized) events fixture as an n_files landing zone
    that the file stream source can tail — the upstream-writes-clean-files
    pattern from streaming/jobs.py.

    Files are TIME-ORDERED: ``repartitionByRange(ts)`` puts each ts range in
    its own part file (one distributed write — no driver loop over buckets),
    then part files get strictly increasing mtimes so the file source's
    modification-time ordering replays them oldest-range first. That mirrors
    real landing-zone arrival (upstream flushes chronologically) and keeps
    every row inside the 2h watermark — with time-interleaved files, every
    micro-batch after the second is entirely behind the watermark and gets
    dropped (measured: 4 interleaved batches lose half the sessions)."""
    # part-0000N holds range-partition N (lowest ts range first); replay
    # order = mtime order, so _stage_table pins mtimes to the name order.
    return _stage_table(spark, sf_dir, "events", "ts", n_files)


def _append_stage_file(
    df: DataFrame, stage: str, mtime: float, seen: set[str]
) -> None:
    """Append ``df`` as ONE parquet part file to ``stage`` and pin its
    mtime (file-source replay order = mtime order). ``seen`` carries the
    already-staged part files across calls so only the new file is touched."""
    import glob

    df.coalesce(1).write.mode("append").parquet(stage)
    new = set(glob.glob(f"{stage}/part-*")) - seen
    seen |= new
    for path in new:
        os.utime(path, (mtime, mtime))


def _drain(stream_df: DataFrame, mode: str, prefix: str) -> str:
    """Run a stream to completion into a uniquely-named memory table (fresh
    checkpoint per invocation so availableNow reprocesses from scratch) and
    return the sink table name.

    State-partition sizing: a streaming query pins its state-store count
    to ``spark.sql.shuffle.partitions`` at START and keeps it for the
    query's lifetime — it is a deployment knob, sized to the cluster, not
    an optimizer decision. For these availableNow micro-bench drains the
    session default (32) means every stateful micro-batch pays 32 state
    stores x checkpoint round-trips for a few thousand rows of state, so
    the drain sets SPARK_GRAFT_STREAM_SHUFFLE (default 8) around start()
    and restores the session value afterwards. On a real cluster the same
    knob is simply set larger than the executor count; semantics are
    identical at any value."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{prefix}_")
    spark = stream_df.sparkSession
    # Sink selection (round-9 verdict #7): the default memory sink is
    # right for the bench/driver scale (results are small aggregates and
    # live exactly one pass), but a LONG audit session at sf1 parks
    # every drained result on the driver — the documented 48g-driver
    # artifact. SPARK_GRAFT_STREAM_SINK=file drains through foreachBatch
    # into parquet instead (complete: per-batch overwrite so the final
    # batch IS the result; append: plain appends), keeping driver heap
    # flat; the result is read back lazily and registered under the same
    # name so callers are sink-agnostic. Update-mode drains (l5) keep
    # the memory sink: their emission is per-KEY rows whose final state
    # needs last-emission-per-key reconstruction, and their result is
    # bounded by distinct keys, not corpus volume.
    use_file = (
        os.environ.get("SPARK_GRAFT_STREAM_SINK") == "file"
        and mode != "update"
    )
    stale = _LAST_SINK.pop(prefix, None)
    if stale is not None:
        spark.catalog.dropTempView(stale)
        stale_dir = _LAST_SINK_DIR.pop(prefix, None)
        if stale_dir is not None:
            import shutil

            shutil.rmtree(stale_dir, ignore_errors=True)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
    try:
        if use_file:
            out_dir = tempfile.mkdtemp(prefix=f"sink_{prefix}_")
            write_mode = "overwrite" if mode == "complete" else "append"

            def _write_batch(batch_df: DataFrame, _bid: int) -> None:
                batch_df.write.mode(write_mode).parquet(out_dir)

            q = (
                stream_df.writeStream.foreachBatch(_write_batch)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if any(
                f.endswith(".parquet") for f in os.listdir(out_dir)
            ):
                spark.read.parquet(out_dir).createOrReplaceTempView(name)
            else:
                # zero micro-batches fired: foreachBatch never ran, so
                # mirror the memory sink's valid EMPTY table instead of
                # crashing on schema inference (round-9 review finding)
                spark.createDataFrame(
                    [], stream_df.schema
                ).createOrReplaceTempView(name)
            _LAST_SINK_DIR[prefix] = out_dir
        else:
            runner = {
                "complete": run_to_memory_sink,
                "append": run_append_to_memory_sink,
                "update": run_update_to_memory_sink,
            }[mode]
            q = runner(stream_df, name, ckpt)
        # Keep the micro-batch progress log (batch sizes, watermarks,
        # numRowsDroppedByWatermark) so queries/tests can assert the
        # batching STRUCTURE, not just the result values — a silent
        # file-ordering or trigger change must fail loudly (l13).
        _LAST_PROGRESS[prefix] = list(q.recentProgress or [])
        _LAST_SINK[prefix] = name
    finally:
        spark.conf.set(key, prev)
    return name


@declare(
    "l1_stream_tumbling_agg",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ext", "streaming"),
)
def l1_stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling 1-hour window aggregate (complete mode, 4
    micro-batches): the state store accumulates partial window aggregates
    across triggers; the final sink table must equal the batch twin
    (n6_tumbling_window's oracle, verbatim)."""
    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    name = _drain(
        tumbling_value_agg(stream, streaming=True), "complete", "l1_tumbling"
    )
    return spark.table(name).orderBy("window_start", "event_type")


@declare(
    "l2_stream_sessionize",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id, value,
                   -- '>=' matches Spark session_window's HALF-OPEN
                   -- [start, last_ts + gap): an event exactly 30 min after
                   -- the previous one starts a NEW session
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events),
        numbered AS (
            -- same (ts, event_id) order as the lag above: with equal-ts
            -- ties an ORDER BY ts alone leaves the running sum's peer
            -- order unspecified, which could split tied rows across
            -- session numbers that session_window always merges
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_no
            FROM ordered)
        SELECT user_id, min(ts) AS session_start,
               count(*) AS n_events, round(sum(value), 2) AS session_value
        FROM numbered GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
    tags=("ext", "streaming"),
)
def l2_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (session_window state, complete mode):
    sessions spanning micro-batch boundaries must merge in the state store —
    the stateful behavior a batch gap-and-islands oracle pins down."""
    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    name = _drain(sessionize(stream, streaming=True), "complete", "l2_session")
    return spark.table(name).orderBy("user_id", "session_start")


@declare(
    "l3_stream_dedup_counts",
    oracle="""
        SELECT event_type, count(DISTINCT event_id) AS n_unique
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("ext", "streaming"),
)
def l3_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark, append mode):
    dedup keys live in the state store only until the watermark passes.
    The drained sink is then rolled up per event type — count of unique
    event_ids, which the oracle states directly."""
    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    name = _drain(
        dedup_events(stream, streaming=True, watermark="3650 days"),
        "append",
        "l3_dedup",
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
        .orderBy("event_type")
    )


@declare(
    "l4_stream_attribution",
    oracle="""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM events c JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    tags=("ext", "streaming"),
)
def l4_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click -> purchase within 1h, append
    mode): the time-bounded condition is what lets the join state evict.
    Run as a single availableNow batch (no maxFilesPerTrigger) so state
    eviction order cannot depend on file arrival order — inner-join
    emission is then exactly the batch join the oracle states."""
    stage = _stage_events(spark, sf_dir)
    clicks = read_event_stream(spark, stage, max_files_per_trigger=0).filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, stage, max_files_per_trigger=0).filter(
        F.col("event_type") == "purchase"
    )
    name = _drain(
        click_purchase_attribution(clicks, purchases, streaming=True),
        "append",
        "l4_attr",
    )
    return spark.table(name).orderBy("click_id", "purchase_id")


@declare(
    "l5_stream_running_totals",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("ext", "streaming"),
)
def l5_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState, update mode): the
    sink receives one row per user per micro-batch with the running totals;
    the FINAL state per user (selected via max on the monotone n_events,
    not on the dollar total — partial sums need not be monotone) must equal
    the batch per-user aggregate."""
    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    name = _drain(user_running_totals_stream(stream), "update", "l5_totals")
    final = F.max(F.struct("n_events", "total_value")).alias("s")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
        )
        .orderBy("user_id")
    )


@declare(
    "l7_stream_upsert_table",
    oracle="""
        WITH latest AS (
            SELECT user_id, ts, value, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rk
            FROM events)
        SELECT user_id, event_type AS last_event_type, value AS last_value
        FROM latest WHERE rk = 1 ORDER BY user_id
    """,
    tags=("ext", "streaming", "dml"),
)
def l7_stream_upsert_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-upsert landing into the mutable-table module: each
    micro-batch of the event stream upserts into a snapshot-versioned MoR
    table (foreachBatch, last-writer-wins by ts within a batch; one
    equality delete of the batch's keys plus an append, no table scan),
    then the table is scanned. Because the landing zone replays in event-time order,
    the final table state is exactly "each user's latest event" — which the
    oracle states as one window over the raw fixture.

    This is the reference's INSERT path upgraded to continuous ingestion:
    idempotent replay per batch via the checkpoint, one merge commit per batch
    (history() shows every applied batch), full DML surface available on
    the landed table afterwards."""
    from iceberg_v2_to_v3_upgrade_spark.streaming.ingest import (
        stream_upsert_into_table,
    )
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    stage = _stage_events(spark, sf_dir)
    # event_id rides along ONLY as the last-writer tie-break: equal
    # (user_id, ts) rows would otherwise be won arbitrarily by both the
    # engine and the oracle — agreeing only by luck (equal-ts rows can
    # never straddle batches: repartitionByRange puts equal keys in one
    # staged file, and a file is atomic to a micro-batch)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2).select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    catalog = LocalCatalog(spark, tempfile.mkdtemp(prefix="l7_wh_"))
    t = catalog.create_table(
        "stream_db",
        "user_latest",
        "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    stream_upsert_into_table(
        stream,
        t,
        keys=["user_id"],
        checkpoint_dir=tempfile.mkdtemp(prefix="ckpt_l7_"),
        order_col=["ts", "event_id"],
        drop_after_dedup=["event_id"],
    )
    assert (
        t.history().count() >= 2
    ), "expected one merge commit per micro-batch"
    return (
        t.scan()
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


@declare(
    "l8_stream_cdc_apply",
    oracle="""
        WITH latest AS (
            SELECT user_id, ts, value, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rk
            FROM events)
        SELECT user_id, event_type AS last_event_type, value AS last_value
        FROM latest WHERE rk = 1 AND event_type <> 'purchase'
        ORDER BY user_id
    """,
    tags=("ext", "streaming", "dml"),
)
def l8_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-aware streaming CDC apply (debezium-style I/U/D): 'purchase'
    events are treated as the DELETE op for their user, everything else as
    upsert. Every key of a batch lands in one equality delete file and the
    upserts in one data dir, with no table scan. With event-time-ordered
    replay, the final state is "each user's latest event, unless it was a
    delete" — stated directly by the oracle.

    The applied changelog is the table's commit history: one snapshot
    commit per batch, time-travelable."""
    from iceberg_v2_to_v3_upgrade_spark.streaming.ingest import (
        stream_cdc_into_table,
    )
    from iceberg_v2_to_v3_upgrade_spark.tables.catalog import LocalCatalog

    stage = _stage_events(spark, sf_dir)
    # event_id = deterministic last-writer tie-break (see l7)
    stream = (
        read_event_stream(spark, stage, max_files_per_trigger=2)
        .select("user_id", "ts", "event_type", "value", "event_id")
        .withColumn(
            "op",
            F.when(F.col("event_type") == "purchase", "D").otherwise("U"),
        )
    )
    catalog = LocalCatalog(spark, tempfile.mkdtemp(prefix="l8_wh_"))
    t = catalog.create_table(
        "stream_db",
        "user_state",
        "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    stream_cdc_into_table(
        stream,
        t,
        keys=["user_id"],
        checkpoint_dir=tempfile.mkdtemp(prefix="ckpt_l8_"),
        op_col="op",
        order_col=["ts", "event_id"],
        drop_after_dedup=["event_id"],
    )
    return (
        t.scan()
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# single source of truth for the MinHash family geometry — l9's oracle is
# rendered from the same constant the sig/band helpers use, so they can't
# drift apart.
from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (  # noqa: E402
    _MH_SEEDS,
)

#: persisted static LSH band index per sf_dir (l9) — built once, read by
#: every micro-batch's static-side re-plan.
_L9_INDEX_CACHE: dict[str, DataFrame] = {}


@declare(
    "l9_stream_neardup_ingest",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
            FROM d, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
        h AS (
            SELECT doc_id, s.seed,
                   min(('0x' || substr(
                       md5(s.seed::VARCHAR || ':' || shingle), 1, 8))::BIGINT)
                       AS mh
            FROM sh, unnest(range({_MH_SEEDS})) AS s(seed)
            GROUP BY doc_id, s.seed),
        sig AS (
            SELECT doc_id, list(mh ORDER BY seed) AS sig
            FROM h GROUP BY doc_id),
        banded AS (
            SELECT doc_id, sig, b.band,
                   md5(array_to_string(
                       sig[b.band * 4 + 1 : (b.band + 1) * 4], ',')) AS bkey
            FROM sig, unnest(range(8)) AS b(band)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sig AS sig_a, b.sig AS sig_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bkey = b.bkey
                 AND a.doc_id <> b.doc_id)
        SELECT doc_a, doc_b,
               round(len(list_filter(generate_series(1, {_MH_SEEDS}),
                         i -> sig_a[i] = sig_b[i])) / {_MH_SEEDS}.0, 6)
                   AS est_jaccard
        FROM cand
        WHERE len(list_filter(generate_series(1, {_MH_SEEDS}),
                  i -> sig_a[i] = sig_b[i])) / {_MH_SEEDS}.0 >= 0.8
        ORDER BY doc_a, doc_b
    """,
    tags=("ext", "streaming", "dedup"),
)
def l9_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest: streamed documents are MinHash-signed PER ROW
    (pure higher-order functions — no stateful aggregation, so the stream
    needs no watermark) and LSH-band-joined against a static corpus index
    (stream-static inner join, re-planned per micro-batch). Every incoming
    doc is flagged with its near-duplicate partners before it ever lands —
    the shape a 100 TB training-data pipeline runs at the ingest boundary
    instead of re-deduping the whole corpus per crawl.

    Physical strategy per side (measured at sf0.1, 5000 docs): the STATIC
    index uses n2h's explode -> grouped-min build (7.8 s) and is persisted
    + materialized once per sf_dir so the per-micro-batch static re-plan
    reads cache instead of recomputing; the STREAM side must stay
    stateless, so it uses the per-row HOF signature over a PRE-PROJECTED
    shingle column (9.6 s corpus-wide) — the naive form that inlines the
    shingle expression into all 32 seed-mins re-evaluates it per seed and
    costs 52 s. Duplicate band collisions are collapsed and the >= 0.8
    estimated-Jaccard verify applied after the drain (batch, on the tiny
    candidate set). Oracle = both directions of n2h's pair set (streamed
    doc x corpus partner, self excluded)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iceberg_v2_to_v3_upgrade_spark.functions.hashing import word_shingles
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        md5_band_keys,
        md5_minhash_sig_grouped,
        md5_minhash_sig_rows,
    )

    stage = _stage_table(spark, sf_dir, "documents", "doc_id")
    docs_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )

    def band_explode(sig_df: DataFrame) -> DataFrame:
        return sig_df.select(
            "doc_id", "sig", F.explode(md5_band_keys(F.col("sig"))).alias("bk")
        ).select("doc_id", "sig", "bk.band", "bk.bkey")

    if sf_dir not in _L9_INDEX_CACHE:
        from pyspark import StorageLevel

        idx = band_explode(
            md5_minhash_sig_grouped(load_table(spark, sf_dir, "documents"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        idx.count()  # materialize BEFORE the stream starts: every
        # micro-batch re-plans the static side and must hit cache
        _L9_INDEX_CACHE[sf_dir] = idx
    static_index = _L9_INDEX_CACHE[sf_dir]

    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
    )
    # round-10: per-row signatures via the Arrow kernel (bit-identical
    # to the HOF form, still stateless/streaming-safe) and a per-batch
    # repartition first — a micro-batch reads <=2 staged files, so the
    # signature work otherwise runs on <=2 cores regardless of the
    # machine (the stream-side twin of the single-file-scan finding)
    stream_sigs = md5_minhash_sig_rows(
        stream.repartition(
            spark.sparkContext.defaultParallelism
        ).select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
        # a <3-word doc has NO shingles: the grouped static index omits it
        # entirely, while the per-row path would emit an all-null signature
        # whose band keys degenerate to md5('') — filter to keep the stream
        # side symmetric with the index (and the kernel needs >=1 shingle)
        .filter(F.size("sh") > 0)
    )
    flagged = (
        band_explode(stream_sigs)
        .alias("a")
        .join(
            static_index.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
    )
    name = _drain(flagged, "append", "l9_neardup")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(_MH_SEEDS))
    )
    return (
        spark.table(name)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.8)
        .orderBy("doc_a", "doc_b")
    )


@declare(
    "l6_stream_enrich_segment",
    oracle="""
        SELECT date_trunc('hour', e.ts) AS window_start,
               coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
               count(*) AS n_events, round(sum(e.value), 2) AS total_value
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ext", "streaming"),
)
def l6_stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment join + windowed rollup (complete
    mode): the static dim (customer) is re-broadcast per micro-batch — the
    canonical enrich-the-stream shape; unmatched users must land in
    'UNKNOWN', never be dropped."""
    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    dim = load_table(spark, sf_dir, "customer")
    name = _drain(
        enrich_with_segment(stream, dim, streaming=True),
        "complete",
        "l6_enrich",
    )
    return spark.table(name).orderBy("window_start", "segment")


@declare(
    "l10_stream_cep_pattern",
    oracle="""
        WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        cl AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
              FROM events WHERE event_type = 'purchase'),
        qc AS (
            SELECT c.user_id, c.ts AS click_ts, max(v.ts) AS view_ts
            FROM cl c JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts
            GROUP BY 1, 2
            HAVING max(v.ts) >= c.ts - INTERVAL 24 HOUR),
        m AS (
            SELECT p.user_id, p.purchase_id, p.purchase_ts,
                   max(q.click_ts) AS click_ts
            FROM p JOIN qc q
              ON q.user_id = p.user_id AND q.click_ts <= p.purchase_ts
            GROUP BY 1, 2, 3
            HAVING max(q.click_ts) >= p.purchase_ts - INTERVAL 24 HOUR)
        SELECT m.user_id, q.view_ts, m.click_ts, m.purchase_ts, m.purchase_id
        FROM m JOIN qc q
          ON q.user_id = m.user_id AND q.click_ts = m.click_ts
        ORDER BY m.purchase_id
    """,
    tags=("ext", "streaming"),
)
def l10_stream_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern detection on the stream: view -> click -> purchase,
    each step within 24 h, per user (streaming/jobs.py
    ``cep_pattern_stream``). A three-step sequence with per-step time
    bounds is the canonical shape that needs a CUSTOM stateful operator —
    chained stream-stream joins would need two unbounded state stores,
    while the matcher keeps exactly three epoch-micro watermarks per
    user. Single availableNow batch so event-time order is the sort
    inside the group, not file arrival. The oracle states the same match
    semantics relationally: latest qualifying click before each purchase,
    and that click's latest preceding view."""
    from iceberg_v2_to_v3_upgrade_spark.streaming.jobs import cep_pattern_stream

    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=0).filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    name = _drain(cep_pattern_stream(stream), "append", "l10_cep")
    return spark.table(name).orderBy("purchase_id")


@declare(
    "l11_stream_topk_trending",
    oracle="""
        WITH counts AS (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
        ranked AS (
            SELECT window_start, event_type, n,
                   rank() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rnk
            FROM counts)
        SELECT window_start, event_type, n, rnk
        FROM ranked WHERE rnk <= 3
        ORDER BY window_start, rnk, event_type
    """,
    tags=("ext", "streaming"),
)
def l11_stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending dashboard: hourly per-type counts accumulate in
    the complete-mode state store across 4 micro-batches, then the
    drained materialized view is ranked top-3 per window — the
    "trending now" pattern (streaming maintains the expensive windowed
    state; ranking is a cheap batch query over the small sink). State is
    keyed (window × type) and bounded; the rank runs over |windows|×|types|
    rows, never the raw stream."""
    from pyspark.sql.window import Window as W

    stage = _stage_events(spark, sf_dir)
    stream = read_event_stream(spark, stage, max_files_per_trigger=2)
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    name = _drain(agg, "complete", "l11_trending")
    ranked = spark.table(name).withColumn(
        "rnk",
        F.rank().over(
            W.partitionBy("window_start").orderBy(
                F.desc("n"), F.col("event_type")
            )
        ),
    )
    return ranked.where(F.col("rnk") <= 3).orderBy(
        "window_start", "rnk", "event_type"
    )


@declare(
    "l12_stream_outer_attribution",
    oracle="""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               c.ts AS click_ts, p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM events c LEFT JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        WHERE c.event_type = 'click'
        ORDER BY click_id, purchase_id
    """,
    tags=("ext", "streaming"),
)
def l12_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (append mode): matched
    clicks emit with their purchase; unmatched clicks emit a NULL row
    once the watermark proves their 1-hour window can no longer match —
    the semantics l4's inner join cannot express ('which clicks provably
    did NOT convert').

    The tail of the stream can never prove itself unmatched (nothing
    later advances the watermark), so the stage appends two WATERMARK
    SENTINEL files — one click + one purchase each at max(ts)+3d, on a
    later mtime, replayed one file per micro-batch. The first sentinel
    batch advances both sides' event-time max; the batch after it
    carries a watermark beyond every real window, flushing ALL remaining
    NULL rows deterministically. Sentinels use user_id = -1 and are
    filtered from the declared result, so the sink equals the plain
    batch left join the oracle states. This is the production heartbeat
    pattern: outer-join/ window completeness at a stream tail is always
    driven by a later event, so pipelines emit synthetic ticks.

    Scale shape: state is keyed by user_id and evicted by the time
    bound; the sentinel adds O(1) rows regardless of corpus size."""
    import glob
    import time as _time

    from iceberg_v2_to_v3_upgrade_spark.streaming.jobs import (
        click_purchase_attribution_outer,
    )

    key = (sf_dir, "l12_outer")
    if key not in _STAGE_CACHE:
        stage = tempfile.mkdtemp(prefix="stream_stage_l12_")
        events = load_table(spark, sf_dir, "events")
        (
            events.repartitionByRange(4, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(stage)
        )
        base = _time.time() - 3600
        real_parts = sorted(glob.glob(f"{stage}/part-*"))
        for i, path in enumerate(real_parts):
            os.utime(path, (base + i, base + i))
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        import datetime as _dt

        seen = set(real_parts)
        for j, i in enumerate((1, 2)):
            sent_ts = max_ts + _dt.timedelta(days=3, hours=i)
            sentinel = spark.createDataFrame(
                [
                    (-100 - i, sent_ts, -1, "click", 0.0, "{}"),
                    (-200 - i, sent_ts, -1, "purchase", 0.0, "{}"),
                ],
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string",
            )
            # one file each; replay strictly after the bulk
            _append_stage_file(sentinel, stage, base + 100 + j, seen)
        _STAGE_CACHE[key] = stage
    stage = _STAGE_CACHE[key]
    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    name = _drain(
        click_purchase_attribution_outer(clicks, purchases, streaming=True),
        "append",
        "l12_outer",
    )
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .orderBy("click_id", "purchase_id")
    )


@declare(
    "l13_stream_late_data_drop",
    oracle="""
        WITH base AS (
            SELECT event_id, user_id, value FROM events
            WHERE event_id < 400
        ),
        ontime AS (  -- files A (hours 0-1) and B (hours 4-5); the LATE
                     -- replay of A's first 100 rows is fully dropped
            SELECT TIMESTAMP '2024-06-01 00:00:00'
                   + INTERVAL (event_id % 60) MINUTE AS ts, value
            FROM base
            UNION ALL
            SELECT TIMESTAMP '2024-06-01 04:00:00'
                   + INTERVAL (event_id % 60) MINUTE, value
            FROM base WHERE event_id < 200
        )
        SELECT date_trunc('hour', ts) AS window_start,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM ontime GROUP BY 1 ORDER BY 1
    """,
    tags=("ext", "streaming", "watermark"),
)
def l13_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data DROP accounting: the one watermark behavior l1-l12 do
    not isolate. Four replayed files: A (event hour 0), B (event hour 4
    — its max event time sets the watermark to 4h59 - 1h = 3h59, past
    every hour-0 window), a CARRIER tick (hour 10, filtered from the
    result), then a LATE file replaying 100 of A's rows; append mode
    must drop ALL of them — the oracle aggregates A and B only. This
    pins the contract production pipelines size watermarks around: data
    later than the delay is LOST, deterministically, not partially.

    WHY the carrier batch exists (the subtle part): since Spark 3.4
    (SPARK-40925 watermark propagation) every stateful operator carries
    TWO watermarks — late-record filtering uses the watermark of the
    PREVIOUS micro-batch, state eviction uses the current one (visible
    in the plan: ``StateStoreSave ... Append, <lateEvents>, <eviction>``).
    A late file arriving in the batch right after B is therefore
    filtered with B's pre-update watermark (still behind hour 0) and
    silently merged before eviction emits the window — the drop only
    engages once the advanced watermark is one batch old. The carrier
    gives the watermark that one-batch head start; its own rows sit at
    hour 10, outside the result filter. The function asserts the
    batching structure itself (4 batches, exactly 100 rows dropped by
    the watermark) so a trigger/file-ordering change fails loudly
    instead of un-dropping the late data.

    Scale: the state store holds only open windows (bounded by the
    watermark delay x window width); late rows are dropped BEFORE the
    aggregate, so a late-data flood costs scan time, not state."""
    import time as _time

    key = (sf_dir, "l13_late")
    if key not in _STAGE_CACHE:
        stage = tempfile.mkdtemp(prefix="stream_stage_l13_")
        base = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 400)
            .select("event_id", "user_id", "value")
        )
        t0 = "2024-06-01 00:00:00"

        def mk(df, hour_off):
            return df.select(
                F.col("event_id"),
                (
                    F.to_timestamp(F.lit(t0))
                    + F.make_interval(
                        hours=F.lit(hour_off),
                        mins=F.col("event_id") % 60,
                    )
                ).alias("ts"),
                "user_id",
                F.lit("late_demo").alias("event_type"),
                "value",
                F.lit("{}").alias("props"),
            )

        files = [
            mk(base, 0),                                   # A: hour 0
            mk(base.filter(F.col("event_id") < 200), 4),   # B: hour 4
            mk(base.filter(F.col("event_id") < 2), 10),    # carrier tick
            mk(base.filter(F.col("event_id") < 100), 0),   # LATE replay
        ]
        t_base = _time.time() - 3600
        seen: set[str] = set()
        for i, df in enumerate(files):
            _append_stage_file(df, stage, t_base + i, seen)
        _STAGE_CACHE[key] = stage
    stage = _STAGE_CACHE[key]
    stream = read_event_stream(spark, stage, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    name = _drain(agg, "append", "l13_late")
    progress = _LAST_PROGRESS["l13_late"]
    data_batches = [p for p in progress if p.numInputRows > 0]
    # numRowsDroppedByWatermark counts rows AFTER the partial aggregate
    # (the late filter sits above it in the plan), so the 100 late input
    # rows surface as >=1 dropped merged window row — in the late batch
    # and nowhere else.
    per_batch_drops = [
        sum(so["numRowsDroppedByWatermark"] for so in p.stateOperators)
        for p in data_batches
    ]
    ok = (
        len(data_batches) == 4
        and data_batches[-1].numInputRows == 100
        and per_batch_drops[-1] >= 1
        and sum(per_batch_drops[:-1]) == 0
    )
    if not ok:
        raise AssertionError(
            "l13 batching contract broken: expected 4 data micro-batches "
            "with the 100-row late file last and its window row dropped by "
            f"the watermark; got inputs="
            f"{[p.numInputRows for p in data_batches]} drops="
            f"{per_batch_drops} — the file source replay order or trigger "
            "batching changed"
        )
    return (
        spark.table(name)
        .filter(F.col("window_start") < F.to_timestamp(F.lit("2024-06-01 08:00:00")))
        .orderBy("window_start")
    )
