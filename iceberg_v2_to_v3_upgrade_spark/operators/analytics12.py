"""Declared queries, round 3 batch K: market-basket association rules,
seasonal-naive forecasting, classifier calibration, and jackknife CIs.

n100 mines co-purchase rules (support / confidence / lift — the Agrawal
& Srikant 1993 metrics) from the order baskets; e10 extends e9's
decomposition into an actual 7-day forecast (seasonal-naive + linear
trend — the baseline every forecasting paper must beat); n101 builds the
reliability diagram + expected-calibration-error for a deterministic
text classifier (Guo et al. 2017's ECE); n102 puts a jackknife
confidence interval on a ratio metric (revenue per user), the
delete-one-group estimator production experimentation systems use
because a ratio of sums has no closed-form variance.

Scale posture (100 TB): n100's pair join is keyed on the basket id with
per-basket fanout bounded by items-per-order (~4 here; k² per basket),
and the item/total frames are tiny broadcasts. e10/n101/n102 reduce to
O(days)/O(bins)/O(buckets) frames after one aggregation scan — the
window/join work downstream of the shuffle is on frames that fit in one
task at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# --------------------------------------------------------------- n100


_RULES_ORACLE = """
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_type AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    totals AS (SELECT count(DISTINCT ok) AS n_baskets FROM baskets),
    items AS (
        SELECT item, CAST(count(*) AS BIGINT) AS item_n
        FROM baskets GROUP BY item),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(count(*) AS BIGINT) AS pair_n
        FROM baskets a JOIN baskets b
          ON a.ok = b.ok AND a.item < b.item
        GROUP BY 1, 2)
    SELECT item_a, item_b, pair_n,
           round(pair_n * 1.0 / t.n_baskets, 4) + 0.0 AS support,
           round(pair_n * 1.0 / ia.item_n, 4) + 0.0 AS conf_a_to_b,
           round(pair_n * 1.0 / ib.item_n, 4) + 0.0 AS conf_b_to_a,
           round(pair_n * 1.0 * t.n_baskets / (ia.item_n * ib.item_n), 4)
               + 0.0 AS lift
    FROM pairs
    CROSS JOIN totals t
    JOIN items ia ON ia.item = pairs.item_a
    JOIN items ib ON ib.item = pairs.item_b
    WHERE pair_n * 1.0 / t.n_baskets >= 0.05
    ORDER BY lift DESC, item_a, item_b
"""


@declare(
    "n100_association_rules",
    oracle=_RULES_ORACLE,
    tags=("ext", "mining", "join"),
)
def n100_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (basket =
    order, item = part type): support, confidence both directions, lift;
    min-support 5%. The pair self-join is keyed on the basket id, so
    fanout per basket is items² (~16 here) — never a cross join; item
    totals and the basket count are broadcast 1-row/|items|-row frames.
    At 100 TB the only shuffle is the basket-keyed groupBys."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_type").alias("item"))
        .distinct()
    )
    totals = baskets.agg(
        F.countDistinct("ok").alias("n_baskets")
    )
    items = baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("item_n")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
    )
    ia = items.select(
        F.col("item").alias("item_a"), F.col("item_n").alias("a_n")
    )
    ib = items.select(
        F.col("item").alias("item_b"), F.col("item_n").alias("b_n")
    )
    return (
        pairs.crossJoin(F.broadcast(totals))
        .join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .where(F.col("pair_n") * 1.0 / F.col("n_baskets") >= 0.05)
        .select(
            "item_a",
            "item_b",
            "pair_n",
            (F.round(F.col("pair_n") * 1.0 / F.col("n_baskets"), 4)
             + F.lit(0.0)).alias("support"),
            (F.round(F.col("pair_n") * 1.0 / F.col("a_n"), 4)
             + F.lit(0.0)).alias("conf_a_to_b"),
            (F.round(F.col("pair_n") * 1.0 / F.col("b_n"), 4)
             + F.lit(0.0)).alias("conf_b_to_a"),
            (
                F.round(
                    F.col("pair_n") * 1.0 * F.col("n_baskets")
                    / (F.col("a_n") * F.col("b_n")),
                    4,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
    )


# --------------------------------------------------------------- e10


_FORECAST_ORACLE = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1),
    trended AS (
        SELECT day, n_events,
               avg(n_events * 1.0) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
               (day - DATE '2023-12-31') % 7 AS dow,
               row_number() OVER (ORDER BY day) AS di
        FROM daily),
    season AS (
        SELECT dow, avg(n_events - trend) AS s
        FROM trended GROUP BY dow),
    fit AS (
        SELECT regr_slope(trend, di) AS slope
        FROM trended
        WHERE di > (SELECT max(di) FROM trended) - 14),
    last AS (
        SELECT day AS last_day, trend AS last_trend
        FROM trended
        WHERE di = (SELECT max(di) FROM trended)),
    horizon AS (SELECT unnest(generate_series(1, 7)) AS h)
    SELECT last_day + CAST(h AS INTEGER) AS day,
           CAST(h AS INTEGER) AS h,
           round(last_trend + slope * h + s, 4) + 0.0 AS forecast
    FROM horizon
    CROSS JOIN fit CROSS JOIN last
    JOIN season
      ON season.dow = (last_day + CAST(h AS INTEGER) - DATE '2023-12-31') % 7
    ORDER BY day
"""


@declare(
    "e10_seasonal_forecast",
    oracle=_FORECAST_ORACLE,
    tags=("ext", "events", "timeseries"),
)
def e10_seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day-ahead seasonal-naive + linear-trend forecast of the daily
    event count: trend level = last centered-MA value, slope = OLS over
    the last 14 trend points (regr_slope, algebraic aggregate), weekly
    shape = day-of-week mean of the detrended series. The day-of-week
    key is an engine-agnostic epoch-day mod 7 (Spark and DuckDB number
    weekdays differently). Everything after the daily count is O(days);
    the 7-row horizon spine comes from sequence() — no data scan."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("2023-12-31").cast("date")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w_ma = Window.orderBy("day").rowsBetween(-3, 3)
    trended = scope.persist(daily.select(
        "day",
        "n_events",
        F.avg(F.col("n_events") * 1.0).over(w_ma).alias("trend"),
        (F.datediff(F.col("day"), epoch) % 7).alias("dow"),
        F.row_number().over(Window.orderBy("day")).alias("di"),
    ))
    season = trended.groupBy("dow").agg(
        F.avg(F.col("n_events") - F.col("trend")).alias("s")
    )
    max_di = trended.agg(F.max("di").alias("mx"))
    fit = (
        trended.crossJoin(F.broadcast(max_di))
        .where(F.col("di") > F.col("mx") - 14)
        .agg(F.regr_slope("trend", "di").alias("slope"))
    )
    last = (
        trended.crossJoin(F.broadcast(max_di))
        .where(F.col("di") == F.col("mx"))
        .select(F.col("day").alias("last_day"), F.col("trend").alias("last_trend"))
    )
    horizon = spark.range(1, 8).select(F.col("id").cast("int").alias("h"))
    return (
        horizon.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(last))
        .select(
            F.date_add(F.col("last_day"), F.col("h")).alias("day"),
            "h",
            (F.col("last_trend") + F.col("slope") * F.col("h")).alias("base"),
        )
        .join(
            F.broadcast(season),
            (F.datediff(F.col("day"), epoch) % 7) == F.col("dow"),
        )
        .select(
            "day",
            "h",
            (F.round(F.col("base") + F.col("s"), 4) + F.lit(0.0)).alias(
                "forecast"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------- n101


_CALIBRATION_ORACLE = """
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
               least(0.999,
                     length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
                     * 2.5 / greatest(length(text), 1)) AS score
        FROM documents),
    binned AS (
        SELECT CAST(floor(score * 10) AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               avg(score) AS avg_score,
               avg(label * 1.0) AS pos_rate
        FROM scored GROUP BY 1)
    SELECT bin, n,
           round(avg_score, 4) + 0.0 AS avg_score,
           round(pos_rate, 4) + 0.0 AS pos_rate,
           round(sum(abs(avg_score - pos_rate) * n) OVER ()
                 / sum(n) OVER (), 4) + 0.0 AS ece
    FROM binned ORDER BY bin
"""


@declare(
    "n101_calibration_reliability",
    oracle=_CALIBRATION_ORACLE,
    tags=("ext", "text", "quality"),
)
def n101_calibration_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    deterministic is-English scorer (vowel-density logit proxy — the
    point is the calibration MACHINERY, hash-checkable cross-engine):
    decile-bin the scores, compare mean predicted probability to the
    realized positive rate per bin, ECE = bin-weighted |gap|. One
    map-only scoring pass, one groupBy over 10 bins, windows over the
    10-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    vowels = F.length(
        F.regexp_replace(F.lower(F.col("text")), "[^aeiou]", "")
    )
    scored = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
        F.least(
            F.lit(0.999),
            vowels * 2.5 / F.greatest(F.length("text"), F.lit(1)),
        ).alias("score"),
    )
    binned = scored.groupBy(
        F.floor(F.col("score") * 10).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("score").alias("avg_score_raw"),
        F.avg(F.col("label") * 1.0).alias("pos_rate_raw"),
    )
    w_all = Window.partitionBy()
    return binned.select(
        "bin",
        "n",
        (F.round("avg_score_raw", 4) + F.lit(0.0)).alias("avg_score"),
        (F.round("pos_rate_raw", 4) + F.lit(0.0)).alias("pos_rate"),
        (
            F.round(
                F.sum(
                    F.abs(F.col("avg_score_raw") - F.col("pos_rate_raw"))
                    * F.col("n")
                ).over(w_all)
                / F.sum("n").over(w_all),
                4,
            )
            + F.lit(0.0)
        ).alias("ece"),
    ).orderBy("bin")


# --------------------------------------------------------------- n102


_JACKKNIFE_ORACLE = """
    WITH bucketed AS (
        SELECT substr(md5(CAST(user_id AS VARCHAR)), 1, 1) AS bucket,
               value, user_id
        FROM events),
    per_bucket AS (
        SELECT bucket, sum(value) AS s, count(DISTINCT user_id) AS u
        FROM bucketed GROUP BY bucket),
    totals AS (
        SELECT sum(s) AS st, sum(u) AS ut,
               CAST(count(*) AS BIGINT) AS b
        FROM per_bucket),
    loo AS (
        SELECT (t.st - p.s) / (t.ut - p.u) AS r, t.b, t.st, t.ut
        FROM per_bucket p CROSS JOIN totals t),
    jk AS (
        SELECT max(st / ut) AS ratio, max(b) AS n_buckets,
               (max(b) - 1.0) / max(b)
                   * sum((r - (SELECT avg(r) FROM loo)) ^ 2) AS var_jk
        FROM loo)
    SELECT round(ratio, 4) + 0.0 AS revenue_per_user,
           n_buckets,
           round(sqrt(var_jk), 4) + 0.0 AS jk_se,
           round(ratio - 1.96 * sqrt(var_jk), 4) + 0.0 AS ci_lo,
           round(ratio + 1.96 * sqrt(var_jk), 4) + 0.0 AS ci_hi
    FROM jk
"""


@declare(
    "n102_jackknife_ratio_ci",
    oracle=_JACKKNIFE_ORACLE,
    tags=("ext", "events", "stats"),
)
def n102_jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife CI for revenue-per-user — the
    estimator experimentation platforms use for ratio metrics (user in
    denominator ⇒ no closed-form variance). Users are hash-assigned to
    16 md5 buckets, so bucket membership is deterministic, engine-
    portable, and — because the bucket is a function of user_id —
    per-bucket distinct-user counts sum to the global count. One scan,
    one 16-group agg; the leave-one-out algebra runs on a 16-row frame."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = ev.groupBy(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).alias(
            "bucket"
        )
    ).agg(
        F.sum("value").alias("s"),
        F.countDistinct("user_id").alias("u"),
    )
    totals = per_bucket.agg(
        F.sum("s").alias("st"),
        F.sum("u").alias("ut"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    )
    loo = per_bucket.crossJoin(F.broadcast(totals)).select(
        ((F.col("st") - F.col("s")) / (F.col("ut") - F.col("u"))).alias("r"),
        "b",
        "st",
        "ut",
    )
    w_all = Window.partitionBy()
    jk = loo.select(
        "r",
        "b",
        "st",
        "ut",
        F.avg("r").over(w_all).alias("r_bar"),
    ).agg(
        F.max(F.col("st") / F.col("ut")).alias("ratio"),
        F.max("b").alias("n_buckets"),
        (
            (F.max("b") - 1.0)
            / F.max("b")
            * F.sum(F.pow(F.col("r") - F.col("r_bar"), 2))
        ).alias("var_jk"),
    )
    return jk.select(
        (F.round("ratio", 4) + F.lit(0.0)).alias("revenue_per_user"),
        "n_buckets",
        (F.round(F.sqrt("var_jk"), 4) + F.lit(0.0)).alias("jk_se"),
        (F.round(F.col("ratio") - 1.96 * F.sqrt("var_jk"), 4) + F.lit(0.0)).alias(
            "ci_lo"
        ),
        (F.round(F.col("ratio") + 1.96 * F.sqrt("var_jk"), 4) + F.lit(0.0)).alias(
            "ci_hi"
        ),
    )
