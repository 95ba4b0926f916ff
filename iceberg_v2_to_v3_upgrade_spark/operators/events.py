"""[EXT] Event-stream analytics over ``events`` (SURVEY.md §2.N6-N9).

Batch twins of the streaming jobs in ``streaming/jobs.py`` — identical
logical plans, which is exactly how Structured Streaming treats them; the
DuckDB oracle checks the batch twin, tests check batch==streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare


@declare(
    "n6_tumbling_window",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ext", "events", "window"),
)
def n6_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate per event type (F.window).

    The streaming twin adds withWatermark; the aggregate and window
    assignment are identical. Group-key cardinality = hours x types, so the
    shuffle stays tiny at any input scale.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@declare(
    "n6b_sliding_window",
    oracle="""
        WITH grid AS (
            SELECT event_type, value,
                   date_trunc('hour', ts)
                     + CASE WHEN extract(minute FROM ts) >= 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                     AS slot
            FROM events),
        expanded AS (
            SELECT event_type, value,
                   unnest([slot, slot - INTERVAL 30 MINUTE]) AS window_start
            FROM grid)
        SELECT window_start, event_type,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM expanded GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ext", "events", "window"),
)
def n6b_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour wide, 30-minute slide (each event lands in 2
    windows). Spark assigns via F.window(ts, '1 hour', '30 minutes'); the
    oracle expands each event to its two epoch-aligned window starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@declare(
    "n7_sessionization",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events),
        numbered AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS session_no
            FROM ordered)
        SELECT user_id, min(ts) AS session_start,
               count(*) AS n_events, round(sum(value), 2) AS session_value
        FROM numbered GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
    tags=("ext", "events", "session"),
)
def n7_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap via F.session_window.

    session_window.start == min(ts) of the session, which is what the
    gap-and-islands oracle computes. One shuffle keyed on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


#: Memoized HLL error audits (one per sf_dir per process).
_HLL_AUDITS: set[str] = set()


@declare("n8_approx_distinct_users", oracle=None, tags=("ext", "events", "approx"))
def n8_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) of users per event type —
    the constant-memory distinct at 100 TB. Approximate by construction,
    so declared rows-only; SELF-VALIDATING: on first invocation per
    sf_dir the estimates are checked against the exact distinct counts
    (±5% — generous vs the rsd=1% sketch) so the driver's rows-only row
    still proves the sketch works, same pattern as n2c/n3c/d11/n50."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )
    if sf_dir not in _HLL_AUDITS:
        exact = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        for r in out.collect():
            n = exact[r.event_type]
            if abs(r.approx_users - n) > max(1, 0.05 * n):
                raise AssertionError(
                    f"HLL estimate {r.approx_users} vs exact {n} for "
                    f"{r.event_type} exceeds 5% at {sf_dir}"
                )
        _HLL_AUDITS.add(sf_dir)
    return out


@declare(
    "n9_json_extract",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("ext", "events", "json"),
)
def n9_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the string `props` column
    (get_json_object — JVM-side JSON path, no UDF) + grouped stats."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@declare(
    "n23_event_funnel",
    oracle="""
        WITH pu AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t1
            FROM events GROUP BY user_id),
        c2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN pu ON e.user_id = pu.user_id
            WHERE e.event_type = 'click' AND e.ts > pu.t1
            GROUP BY e.user_id),
        p3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c2 ON e.user_id = c2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c2.t2
            GROUP BY e.user_id)
        SELECT count(*) AS n_users,
               count(t1) AS n_viewed,
               (SELECT count(*) FROM c2) AS n_clicked,
               (SELECT count(*) FROM p3) AS n_purchased,
               round((SELECT count(*) FROM c2) / count(t1), 6)
                   AS view_to_click,
               round((SELECT count(*) FROM p3)
                     / (SELECT count(*) FROM c2), 6) AS click_to_purchase
        FROM pu
    """,
    tags=("ext", "events", "funnel"),
)
def n23_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: each stage
    counts users whose first qualifying event happens strictly AFTER the
    previous stage's first event — the sequencing that makes funnels
    different from mere event-type counts.

    One hash shuffle total: three chained whole-partition window
    aggregates over the same hashpartitioning(user_id) (no orderBy, so no
    sort), then a per-user rollup that reuses that partitioning, then a
    single-row global aggregate. The oracle expresses the same sequencing
    with stage-wise join CTEs."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked"),
        F.count("t3").alias("n_purchased"),
        F.round(F.count("t2") / F.count("t1"), 6).alias("view_to_click"),
        F.round(F.count("t3") / F.count("t2"), 6).alias(
            "click_to_purchase"
        ),
    )


@declare(
    "n24_cohort_retention",
    oracle="""
        WITH uw AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
            FROM events),
        c AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
        sizes AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY cohort),
        act AS (
            SELECT c.cohort,
                   CAST(date_diff('day', c.cohort, uw.wk) / 7 AS BIGINT)
                       AS week_offset,
                   count(DISTINCT uw.user_id) AS n_active
            FROM uw JOIN c ON uw.user_id = c.user_id
            GROUP BY 1, 2)
        SELECT act.cohort AS cohort_week, act.week_offset, act.n_active,
               round(act.n_active / sizes.cohort_size, 6) AS retention
        FROM act JOIN sizes ON sizes.cohort = act.cohort
        ORDER BY cohort_week, week_offset
    """,
    tags=("ext", "events", "cohort"),
)
def n24_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    activity; for each cohort and week offset, how many are still active
    and what fraction of the cohort that is.

    ONE fact-scale shuffle: collect_set(week) per user (per-user state
    bounded by the number of distinct weeks, i.e. tiny), then cohort =
    array_min and a posexplode-free unnest — everything downstream
    operates on user-cardinality rows, cached because it feeds both the
    cohort-size census and the activity rollup, with cohort sizes
    re-entering via broadcast. Week arithmetic sticks to date_trunc +
    day-diff/7 so both engines bin identically (ISO Monday weeks)."""
    from pyspark import StorageLevel

    ev = load_table(spark, sf_dir, "events")
    # cast to date: DuckDB's date_trunc('week', ts) yields DATE
    per_user = scope.persist(
        ev.select(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
        )
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("wks"))
        .withColumn("cohort", F.array_min("wks")),
        StorageLevel.MEMORY_AND_DISK,
    )
    sizes = per_user.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = (
        per_user.select("cohort", F.explode("wks").alias("wk"))
        .select(
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        act.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").alias("cohort_week"),
            "week_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )
