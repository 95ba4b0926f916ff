"""Analytics breadth, round 2 batch 4: sketch-based quantiles with
in-query validation, explicit shuffle-hash join strategy, and near-dup
graph degree statistics.

``d11`` is rows-only by design (sketch quantiles have no exact SQL twin)
but self-validating against exact percentiles — the n50/n2c precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare


@declare("d11_approx_quantiles_validated", oracle=None, tags=("ext", "sketch"))
def d11_approx_quantiles_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles (approx_percentile, Greenwald-Khanna) per
    event type, validated in-query against exact percentiles: every
    approximate p50/p95/p99 must land within 2% relative error of the
    exact value or the query refuses to return.

    This is the quantile path that survives 100 TB: the GK sketch is a
    bounded-memory mergeable summary computed with map-side partials —
    exact percentile needs the whole group sorted in one place. Sketch
    merge order varies with partitioning, so the estimate is not
    bit-stable across cluster layouts — hence rows-only + the in-query
    tolerance assert instead of a hash oracle (n50 precedent).
    """
    ev = load_table(spark, sf_dir, "events")
    qs = [0.5, 0.95, 0.99]
    lo = [max(q - 0.02, 0.0) for q in qs]
    hi = [min(q + 0.02, 1.0) for q in qs]
    both = (
        ev.groupBy("event_type")
        .agg(
            F.approx_percentile("value", qs, 10000).alias("approx"),
            F.percentile("value", qs).alias("exact"),
            F.percentile("value", lo).alias("exact_lo"),
            F.percentile("value", hi).alias("exact_hi"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            *[F.col("approx")[i].alias(f"approx_p{int(q*100)}") for i, q in enumerate(qs)],
            *[F.col("exact")[i].alias(f"exact_p{int(q*100)}") for i, q in enumerate(qs)],
            *[F.col("exact_lo")[i].alias(f"lo_p{int(q*100)}") for i, q in enumerate(qs)],
            *[F.col("exact_hi")[i].alias(f"hi_p{int(q*100)}") for i, q in enumerate(qs)],
        )
        .orderBy("event_type")
    )
    # GK's guarantee is on RANK, not value: the estimate is an actual
    # element whose rank is within eps*n of the target, so the correct
    # check is containment in the exact [q-2%, q+2%] quantile envelope
    # (a value-relative tolerance falsely fails on interpolation gaps in
    # small groups).
    for row in both.collect():
        for q in (50, 95, 99):
            approx = row[f"approx_p{q}"]
            lo_v, hi_v = row[f"lo_p{q}"], row[f"hi_p{q}"]
            assert lo_v <= approx <= hi_v, (
                f"{row.event_type} p{q}: approx {approx} outside exact "
                f"rank envelope [{lo_v}, {hi_v}]"
            )
    return both.select(
        "event_type",
        "n_events",
        *[c for q in (50, 95, 99) for c in (f"approx_p{q}", f"exact_p{q}")],
    )


_SHJ_ORACLE = """
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""


@declare("k7_shuffle_hash_join", oracle=_SHJ_ORACLE, tags=("join", "scale"))
def k7_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SHUFFLE_HASH join strategy: when one side is too big to
    broadcast but small enough to hash per-partition, a shuffled hash
    join beats sort-merge by skipping both sorts (the build side's hash
    table replaces them). The hint pins the strategy; the plan test
    asserts ShuffledHashJoin with no Sort below it.

    At 100 TB this is the middle tier of the join ladder — broadcast
    (< ~100 MB) -> shuffle-hash (build side fits executor memory) ->
    sort-merge (both sides unbounded) — and choosing it explicitly
    saves two O(n log n) sorts on every fact join against a mid-size
    dimension.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").hint("shuffle_hash").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


_DEGREE_ORACLE = """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
        FROM d, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    jac AS (
        SELECT doc_a, doc_b
        FROM pairs
        JOIN sz za ON za.doc_id = doc_a
        JOIN sz zb ON zb.doc_id = doc_b
        WHERE common / (za.n + zb.n - common) >= 0.8),
    deg AS (
        SELECT doc_id, count(*) AS degree
        FROM (SELECT doc_a AS doc_id FROM jac
              UNION ALL SELECT doc_b FROM jac)
        GROUP BY doc_id)
    SELECT degree, count(*) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
"""


@declare(
    "n54_neardup_degree_histogram",
    oracle=_DEGREE_ORACLE,
    tags=("ext", "dedup", "graph"),
)
def n54_neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-duplicate graph (exact 3-gram
    Jaccard >= 0.8 edges, n2b's pair machinery): how many documents have
    1, 2, ... near-duplicates. Heavy right tails mean template families
    — the signal that decides between pairwise dedup (n2f connected
    components collapse whole families) and per-pair removal.

    Round-9 (verdict #6): candidate generation is BOUNDED, not the
    all-shared-shingle self-join. Two exact reductions, bit-identical
    to the naive formulation:

    - exact-dup collapse first (the n92 construction): pairing runs on
      DISTINCT texts; identical texts have identical shingle sets, so
      within-family edges are all at Jaccard 1.0 (degree m-1 for each
      of m members) and every cross-family edge replicates across the
      whole families (each member of F gains m_G degree per adjacent
      family G) — degrees expand back in closed form;
    - the prefix filter (``_exact_jaccard_pairs``, shared with n2b):
      a pair with Jaccard >= tau MUST share one of each doc's
      (n - ceil(tau*n) + 1) RAREST shingles — the no-false-negative
      completeness argument of prefix-filtered similarity join
      (SSJoin/PPJoin family, public literature), which at tau=0.8
      keeps ~20% of each doc's shingles in the candidate join. Banded
      minhash-LSH was considered and rejected for this gate: its
      no-miss pigeonhole bound holds on the SIGNATURE estimate, never
      on true Jaccard, so it cannot feed a hash-exact oracle.
    """
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _exact_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # shingle-set nonemptiness == word count >= 3 (count = max(len-2, 0),
    # array_distinct never empties a nonempty array): the cheap split-size
    # filter avoids building the full shingle array per row just to test
    # emptiness. fam is PERSISTED: it feeds three consumers (reps via the
    # pair machinery, mult twice) and each re-evaluation re-ran the
    # filter+group over the raw scan (round-10 measurement: ~2.1 s per
    # evaluation at sf0.1 with the old filter).
    fam = scope.persist(
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("m"), F.min("doc_id").alias("doc_id"))
    )
    reps = fam.select("doc_id", "text")
    pairs = _exact_jaccard_pairs(reps, tau=0.8).select("doc_a", "doc_b")
    mult = fam.select("doc_id", "m")
    cross = (
        pairs.select(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr"))
        .unionAll(
            pairs.select(
                F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("nbr")
            )
        )
        .join(
            mult.select(
                F.col("doc_id").alias("nbr"), F.col("m").alias("m_nbr")
            ),
            "nbr",
        )
        .groupBy("doc_id")
        .agg(F.sum("m_nbr").alias("cross_deg"))
    )
    famdeg = (
        mult.join(cross, "doc_id", "left")
        .withColumn(
            "degree",
            (
                F.col("m")
                - 1
                + F.coalesce(F.col("cross_deg"), F.lit(0))
            ).cast("bigint"),
        )
        .filter(F.col("degree") >= 1)
    )
    return (
        famdeg.groupBy("degree")
        .agg(F.sum("m").cast("bigint").alias("n_docs"))
        .orderBy("degree")
    )


@declare(
    "d13_data_quality_audit",
    oracle="""
        SELECT 'lineitem_rows' AS metric, count(*)::DOUBLE AS value FROM lineitem
        UNION ALL
        SELECT 'pk_duplicates',
               (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::DOUBLE
        FROM lineitem
        UNION ALL
        SELECT 'null_shipdate_frac',
               round(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                     / count(*), 6)
        FROM lineitem
        UNION ALL
        SELECT 'discount_range_violations',
               sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                        THEN 1 ELSE 0 END)::DOUBLE
        FROM lineitem
        UNION ALL
        SELECT 'orphan_orders', count(*)::DOUBLE FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'orphan_lineitems', count(*)::DOUBLE FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
        ORDER BY metric
    """,
    tags=("audit", "quality"),
)
def d13_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality audit: completeness (null
    fraction), key uniqueness (PK duplicate count — the fixture genuinely
    contains duplicate (orderkey, linenumber) pairs, which this surfaces),
    domain constraints (discount range), and referential integrity
    (orphan FK rows via anti joins) — the validation gate a pipeline runs
    before promoting a landed batch.

    Shape: all scalar metrics over one table collapse into a SINGLE
    aggregate pass (one Project + one partial agg, no shuffle of the fact
    table); each referential check is one broadcast anti join that reduces
    to a count. Unioned result is 6 rows at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    one_pass = li.agg(
        F.count(F.lit(1)).cast("double").alias("lineitem_rows"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        )
        .cast("double")
        .alias("pk_duplicates"),
        F.round(
            F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("null_shipdate_frac"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
            ).otherwise(0)
        )
        .cast("double")
        .alias("discount_range_violations"),
    )
    melted = one_pass.unpivot(
        [],
        [
            "lineitem_rows",
            "pk_duplicates",
            "null_shipdate_frac",
            "discount_range_violations",
        ],
        variableColumnName="metric",
        valueColumnName="value",
    )
    orphan_orders = (
        od.join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(F.lit("orphan_orders").alias("metric"), "value")
    )
    orphan_li = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(F.lit("orphan_lineitems").alias("metric"), "value")
    )
    return melted.unionAll(orphan_orders).unionAll(orphan_li).orderBy("metric")


@declare(
    "d14_skyline_pareto",
    oracle="""
        WITH pts AS (SELECT p_retailprice AS price, p_size AS size,
                            count(*) AS n_parts
                     FROM part GROUP BY 1, 2)
        SELECT price, size, n_parts FROM pts p1
        WHERE NOT EXISTS (SELECT 1 FROM pts p2
                          WHERE p2.price <= p1.price AND p2.size >= p1.size
                            AND (p2.price < p1.price OR p2.size > p1.size))
        ORDER BY price, size
    """,
    tags=("analytics", "skyline"),
)
def d14_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (minimize price, maximize size —
    "cheapest part for its size class"; cf. skyline-in-Spark-SQL, EDBT
    2023): a point survives iff nothing is both cheaper-or-equal and
    larger-or-equal with one strict.

    Spark-first 2D formulation in O(n log n), NOT the definitional O(n^2)
    self-join: (1) same-price points collapse to the per-price max size
    (anything smaller is dominated at equal price), (2) over distinct
    prices ascending, a point survives iff its size strictly exceeds the
    running max over all cheaper prices — one groupBy + one window on the
    already price-distinct (tiny) frame. At 100 TB you'd add a
    partition-local skyline pass first (local frontiers are tiny) before
    this global step. The ORACLE is the definitional NOT EXISTS — a
    different formulation entirely, so a dominance edge-case bug in
    either one breaks the hash."""
    from pyspark.sql.window import Window

    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    per_price = pts.groupBy("price").agg(F.max("size").alias("size"))
    w_prev = (
        Window.orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_price.withColumn("prev_max", F.max("size").over(w_prev))
        .filter(F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
        .select("price", "size")
    )
    return (
        frontier.join(pts, ["price", "size"])
        .select("price", "size", "n_parts")
        .orderBy("price", "size")
    )


@declare(
    "d15_aqp_sampled_estimates",
    oracle="""
        WITH s AS (
            SELECT l_returnflag, l_extendedprice
            FROM lineitem
            WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || ':'
                       || l_linenumber::VARCHAR), 1, 4))::INT % 10 = 0),
        est AS (
            SELECT l_returnflag,
                   count(*) AS n_sample,
                   avg(l_extendedprice) AS est_avg,
                   stddev_samp(l_extendedprice) / sqrt(count(*)) AS se
            FROM s GROUP BY 1),
        exact AS (
            SELECT l_returnflag, avg(l_extendedprice) AS exact_avg,
                   count(*) AS n_total
            FROM lineitem GROUP BY 1)
        SELECT e.l_returnflag, e.n_sample, x.n_total,
               round(e.est_avg, 4) AS est_avg,
               round(x.exact_avg, 4) AS exact_avg,
               round(e.se, 4) AS std_err,
               CASE WHEN abs(e.est_avg - x.exact_avg) <= 4 * e.se
                    THEN 1 ELSE 0 END AS within_4se
        FROM est e JOIN exact x USING (l_returnflag)
        ORDER BY e.l_returnflag
    """,
    tags=("analytics", "aqp", "sampling"),
)
def d15_aqp_sampled_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing: grouped averages estimated from a
    deterministic 10% md5-hash sample, with standard errors and an
    in-result coverage check against the exact answer (within_4se). The
    AQP contract at 100 TB: scan 10% of the data for a ±2·SE answer —
    and because the sample is hash-deterministic (not rand()), the oracle
    reproduces the estimate EXACTLY, so even the approximate path is
    hash-checked cross-engine.

    Both branches aggregate map-side; the sample filter is a pure
    projection predicate that pushes to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % 10
    )
    est = (
        li.filter(bucket == 0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.avg("l_extendedprice").alias("est_avg"),
            (
                F.stddev_samp("l_extendedprice")
                / F.sqrt(F.count(F.lit(1)))
            ).alias("se"),
        )
    )
    exact = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("exact_avg"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        est.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_sample",
            "n_total",
            F.round("est_avg", 4).alias("est_avg"),
            F.round("exact_avg", 4).alias("exact_avg"),
            F.round("se", 4).alias("std_err"),
            F.when(
                F.abs(F.col("est_avg") - F.col("exact_avg"))
                <= 4 * F.col("se"),
                1,
            )
            .otherwise(0)
            .alias("within_4se"),
        )
        .orderBy("l_returnflag")
    )
