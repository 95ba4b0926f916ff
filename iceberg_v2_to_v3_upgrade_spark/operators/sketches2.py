"""[EXT] Mergeable-sketch audits, round 10 (SURVEY.md §2.N50 family):
the quantile-sketch and count-min additions to the sketch toolkit
(n50/n8/n8b cover HLL). Both follow the n8b audit pattern — the
PRODUCTION-shaped approximate operator runs in-query and is gated
against its exact twin; the returned rows carry the exact values plus
a within-bound verdict, so the oracle states plain SQL facts and any
sketch drift hash-mismatches.

Scale posture: both sketches are the O(1)-memory mergeable structures
a 1000-executor ingest would maintain per partition and merge — the
whole point vs exact GROUP BYs whose state is unbounded. The audits
add one aggregated-scale pass each (never a second raw scan beyond
the sketch build itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# ---------------------------------------------- n121 quantile sketch

_Q_PCTS = (0.5, 0.95, 0.99)
_Q_ACC = 10000  # percentile_approx accuracy: rank error <= n/accuracy

# target ranks via INTEGER arithmetic only: ceil(p·n) = (a·n + b-1)//b
# for p = a/b — float/decimal p*n would ceil differently between
# engines when p*n lands on an integer (0.95 is exact in DuckDB
# DECIMAL, 0.9500000000000000444 in a double)
_N121_ORACLE = """
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events),
    picks AS (
        SELECT event_type, n,
               max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
               max(CASE WHEN rn = (95 * n + 99) // 100
                   THEN value END) AS p95,
               max(CASE WHEN rn = (99 * n + 99) // 100
                   THEN value END) AS p99
        FROM ranked GROUP BY event_type, n)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           p50, p95, p99, TRUE AS sketch_ok
    FROM picks ORDER BY event_type
"""


@declare(
    "n121_quantile_sketch_audit",
    oracle=_N121_ORACLE,
    tags=("ext", "sketch", "events", "approximate"),
)
def n121_quantile_sketch_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable quantile sketch with an exact audit: per event type,
    ``percentile_approx`` (the Greenwald-Khanna-style mergeable summary
    every executor can maintain independently) estimates p50/p95/p99 of
    ``value``; the audit computes each estimate's TRUE RANK and asserts
    the sketch's contract — rank error ≤ n/accuracy (+1 for the
    discrete pick) — then returns the EXACT discrete percentiles
    (value at rank ⌈p·n⌉, ties broken by event_id) with a verdict
    column the oracle states as TRUE.

    Exactness contract: the returned percentiles are data VALUES picked
    by integer rank — no interpolation arithmetic to diverge between
    engines; the approximate path stays in-query as the audited probe
    (the n8/n8b pattern).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n_w = Window.partitionBy("event_type")
    ranked = scope.persist(ev.select(
        "event_type",
        "value",
        F.row_number()
        .over(n_w.orderBy("value", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(n_w).alias("n"),
    ))
    # ceil(p·n) in integer arithmetic (see the oracle comment): the
    # numerator/denominator pairs for 0.5 / 0.95 / 0.99
    rank_expr = {
        "p50": "(n + 1) DIV 2",
        "p95": "(95 * n + 99) DIV 100",
        "p99": "(99 * n + 99) DIV 100",
    }
    exact = (
        ranked.groupBy("event_type", "n")
        .agg(
            *[
                F.max(
                    F.when(
                        F.col("rn") == F.expr(expr), F.col("value")
                    )
                ).alias(name)
                for name, expr in rank_expr.items()
            ]
        )
    )
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx(
            "value", list(_Q_PCTS), _Q_ACC
        ).alias("est")
    )
    # audit: a duplicated value occupies a rank RUN [count(value <
    # est)+1, count(value <= est)]; the sketch is within bound if
    # that interval comes within n/accuracy (+1 discrete slack) of
    # the target rank. Comparing only the run-max rank would fail a
    # CORRECT estimate that lands on a tie run straddling the
    # target (review finding — the exact sf0.1 click median does
    # exactly that)
    audit = (
        ranked.join(approx, "event_type")
        .groupBy("event_type", "n")
        .agg(
            *[
                agg
                for i in range(len(_Q_PCTS))
                for agg in (
                    F.sum(
                        F.when(
                            F.col("value") < F.col("est")[i], 1
                        ).otherwise(0)
                    ).alias(f"lo{i}"),
                    F.sum(
                        F.when(
                            F.col("value") <= F.col("est")[i], 1
                        ).otherwise(0)
                    ).alias(f"hi{i}"),
                )
            ]
        )
    )
    targets = list(rank_expr.values())
    bad = audit.filter(
        " OR ".join(
            f"greatest(lo{i} + 1 - ({targets[i]}), "
            f"({targets[i]}) - hi{i}, 0) > n / {_Q_ACC} + 1"
            for i in range(len(_Q_PCTS))
        )
    ).count()
    assert bad == 0, f"{bad} groups outside the sketch rank bound"
    out = (
        exact.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            "p50",
            "p95",
            "p99",
            F.lit(True).alias("sketch_ok"),
        )
        .orderBy("event_type")
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# ------------------------------------------- n122 count-min sketch

_CMS_W = 2048
_CMS_SEEDS = (101, 103, 107, 109)  # depth 4, fixed -> deterministic
_CMS_TOPK = 20

_N122_ORACLE = f"""
    WITH counts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id),
    top AS (
        SELECT user_id, n_events,
               row_number() OVER (
                   ORDER BY n_events DESC, user_id) AS r
        FROM counts)
    SELECT user_id, n_events, TRUE AS cms_ok
    FROM top WHERE r <= {_CMS_TOPK}
    ORDER BY n_events DESC, user_id
"""


@declare(
    "n122_heavy_hitters_cms",
    oracle=_N122_ORACLE,
    tags=("ext", "sketch", "events", "approximate"),
)
def n122_heavy_hitters_cms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min-sketch heavy hitters with an exact audit: a width-2048
    × depth-4 CMS (fixed xxhash64 seeds — deterministic) is built from
    the raw event stream in ONE pass (each event lands in 4 counters;
    the counter table is 4·2048 rows regardless of stream size — the
    mergeable O(1)-memory structure), then the exact top-20 users by
    event count are probed against it.

    Two audit tiers (review finding): estimate ≥ true is a DETERMINISTIC
    CMS invariant — a violation is a code bug, so it hard-asserts. The
    overcount ≤ 4·N/w bound is only probabilistic (holds w.h.p. per
    probe, not always), so it is EMITTED as the ``cms_ok`` verdict
    column the oracle states as TRUE — unlucky collisions surface as a
    graded hash mismatch (the n8b pattern), not a query crash. Returned
    rows are the EXACT top-20.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def _cms_pos_buckets(frame: DataFrame, *carry: str) -> DataFrame:
        """(d, bucket) per row per depth — the ONE hashing definition
        shared by sketch build and probe, so they cannot drift."""
        return frame.select(
            *carry,
            F.posexplode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("user_id"), F.lit(s)),
                            F.lit(_CMS_W),
                        )
                        for s in _CMS_SEEDS
                    ]
                )
            ).alias("d", "bucket"),
        )

    counters = _cms_pos_buckets(ev).groupBy("d", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    top = (
        counts.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("n_events"), F.col("user_id"))
            ),
        )
        .filter(F.col("r") <= _CMS_TOPK)
        .drop("r")
    )
    est = (
        _cms_pos_buckets(top, "user_id", "n_events")
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", "n_events")
        .agg(F.min("c").alias("cms_est"))
    )
    # N from the already-aggregated per-user counts — no third raw scan
    n_total = counts.agg(F.sum("n_events")).first()[0]
    bound = 4 * n_total / _CMS_W
    under = est.filter(F.col("cms_est") < F.col("n_events")).count()
    assert under == 0, f"{under} probes under-counted (CMS invariant)"
    return (
        est.select(
            "user_id",
            "n_events",
            (F.col("cms_est") - F.col("n_events") <= F.lit(bound)).alias(
                "cms_ok"
            ),
        )
        .orderBy(F.desc("n_events"), "user_id")
    )
