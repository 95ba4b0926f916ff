"""Declared queries, round 3 batch G: dedup-threshold sensitivity curve
and the array higher-order-function surface.

n92 answers the question every dedup rollout starts with — how much of
the corpus disappears at each similarity threshold — from ONE pass of the
exact pair computation (pairs at tau=0.5 computed once, every higher
threshold read off the same frame). h20 completes the §2.H scalar surface
with the lambda HOFs (transform/filter/exists/aggregate/zip_with) that
h12's nested-access query doesn't touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# --------------------------------------------------------------- n92


_THRESHOLD_CURVE_ORACLE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
        FROM words, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs0 AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT p.doc_a, p.doc_b,
               round(p.common * 1.0 / (x.n + y.n - p.common), 3) AS jac
        FROM pairs0 p
        JOIN sz x ON x.doc_id = p.doc_a
        JOIN sz y ON y.doc_id = p.doc_b
        WHERE p.common * 1.0 / (x.n + y.n - p.common) >= 0.5),
    flat AS (
        SELECT doc_a AS d, jac FROM pairs
        UNION ALL SELECT doc_b, jac FROM pairs),
    th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS tau)
    SELECT t.tau,
           (SELECT count(*) FROM pairs WHERE jac >= t.tau) AS n_pairs,
           (SELECT count(DISTINCT d) FROM flat WHERE jac >= t.tau)
               AS n_flagged_docs
    FROM th t ORDER BY t.tau
"""


@declare(
    "n92_dedup_threshold_curve",
    oracle=_THRESHOLD_CURVE_ORACLE,
    tags=("ext", "dedup", "text"),
)
def n92_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sensitivity: near-dup pair count and flagged-doc
    count at tau in {0.5 .. 0.9}, from ONE exact-Jaccard pass at the
    loosest threshold (the pair frame is tiny — every higher threshold is
    a filter over it, not a recompute). The rollout-planning curve that
    decides what a dedup threshold costs in corpus volume. Pairs use the
    same prefix-filtered exact join as n2b; comparisons happen on the
    3-decimal rounded similarity so both engines bucket identically."""
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _exact_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # EXACT-DUP COLLAPSE FIRST (the production pipeline order, and the
    # clone-resistance fix the 10x audit demanded: the naive all-docs
    # pairing measured x22.3 at 10x because pair counts grow as
    # multiplicity^2 on a clone-heavy corpus). Pairing runs on DISTINCT
    # texts only; counts expand back through multiplicities —
    # bit-identical to the naive/oracle formulation because identical
    # texts have identical shingle sets (cross-text jaccard unchanged;
    # within-family jaccard is exactly 1.0). Texts whose shingle set is
    # empty (<3 words) can never pair and are excluded, as the oracle's
    # empty gram series excludes them.
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
    pairs_d = _exact_jaccard_pairs(reps, tau=0.5).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jac")
    )
    mult = fam.select("doc_id", "m")
    pairs = (
        pairs_d.join(mult.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("m", "m_a")
        .join(mult.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("m", "m_b")
    )
    taus = spark.createDataFrame(
        [(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "tau double"
    )
    qual = pairs.crossJoin(F.broadcast(taus)).filter(F.col("jac") >= F.col("tau"))
    # cross-family pairs expand m_a*m_b; within-family exact dups add
    # C(m,2) pairs at jaccard 1.0 (>= every tau)
    exact_per_tau = (
        fam.filter(F.col("m") >= 2)
        .agg(
            F.sum(F.col("m") * (F.col("m") - 1) / 2)
            .cast("bigint")
            .alias("exact_pairs"),
            F.sum("m").cast("bigint").alias("exact_flagged"),
        )
        .crossJoin(F.broadcast(taus))
    )
    n_pairs = (
        qual.groupBy("tau")
        .agg(F.sum(F.col("m_a") * F.col("m_b")).cast("bigint").alias("cross"))
        .join(exact_per_tau, "tau", "right")
        .select(
            "tau",
            (
                F.coalesce(F.col("cross"), F.lit(0))
                + F.coalesce(F.col("exact_pairs"), F.lit(0))
            ).alias("n_pairs"),
        )
    )
    # flagged docs: every member of a family that is an exact-dup family
    # OR has a cross partner at >= tau
    cross_flagged = qual.select(
        "tau", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    flagged = (
        cross_flagged.join(mult, "doc_id")
        .join(
            fam.filter(F.col("m") >= 2).select(
                "doc_id", F.lit(True).alias("is_exact")
            ),
            "doc_id",
            "left",
        )
        # exact-dup family members are counted via exact_flagged below;
        # avoid double counting: only non-exact families add here
        .filter(F.col("is_exact").isNull())
        .groupBy("tau")
        .agg(F.sum("m").cast("bigint").alias("cross_only_flagged"))
    )
    return (
        n_pairs.join(flagged, "tau", "left")
        .join(exact_per_tau.select("tau", "exact_flagged"), "tau")
        .select(
            "tau",
            "n_pairs",
            (
                F.coalesce(F.col("cross_only_flagged"), F.lit(0))
                + F.coalesce(F.col("exact_flagged"), F.lit(0))
            ).alias("n_flagged_docs"),
        )
        .orderBy("tau")
    )


# --------------------------------------------------------------- h20


_HOF_ORACLE = """
    WITH per_order AS (
        SELECT l_orderkey,
               list_sort(list(l_quantity::DOUBLE)) AS qs
        FROM lineitem GROUP BY 1),
    m AS (
        SELECT l_orderkey,
               len(qs) AS n_items,
               qs[1] AS min_q,
               list_aggregate(qs, 'sum') AS sum_q,
               len(list_filter(qs, x -> x > 25)) AS n_big,
               CASE WHEN len(list_filter(qs, x -> x >= 50)) > 0
                    THEN 1 ELSE 0 END AS has_cap,
               list_aggregate(
                   list_transform(qs, x -> x * x), 'sum') AS sum_sq
        FROM per_order)
    SELECT count(*) AS n_orders,
           CAST(sum(n_items) AS BIGINT) AS total_items,
           round(avg(min_q), 4) + 0.0 AS avg_min_q,
           round(sum(sum_q), 2) + 0.0 AS grand_sum_q,
           CAST(sum(n_big) AS BIGINT) AS total_big,
           CAST(sum(has_cap) AS BIGINT) AS n_orders_with_cap,
           round(sum(sum_sq), 2) + 0.0 AS grand_sum_sq
    FROM m
"""


@declare("h20_array_hof", oracle=_HOF_ORACLE, tags=("scalar", "nested"))
def h20_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array lambda HOFs — transform, filter, exists, aggregate — over
    per-order quantity arrays, all JVM-side codegen (no Python). The sort
    inside collect makes the array content deterministic; every metric is
    order-insensitive anyway, and the summary row makes the whole HOF
    chain hash-checkable. Complements h12 (nested ACCESS) with nested
    COMPUTE."""
    l = load_table(spark, sf_dir, "lineitem")
    per_order = l.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.col("l_quantity").cast("double"))
        ).alias("qs")
    )
    m = per_order.select(
        F.size("qs").alias("n_items"),
        F.element_at("qs", 1).alias("min_q"),
        F.aggregate("qs", F.lit(0.0), lambda acc, x: acc + x).alias("sum_q"),
        F.size(F.filter("qs", lambda x: x > 25)).alias("n_big"),
        F.when(F.exists("qs", lambda x: x >= 50), 1).otherwise(0).alias(
            "has_cap"
        ),
        F.aggregate(
            F.transform("qs", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_items").cast("bigint").alias("total_items"),
        (F.round(F.avg("min_q"), 4) + F.lit(0.0)).alias("avg_min_q"),
        (F.round(F.sum("sum_q"), 2) + F.lit(0.0)).alias("grand_sum_q"),
        F.sum("n_big").cast("bigint").alias("total_big"),
        F.sum("has_cap").cast("bigint").alias("n_orders_with_cap"),
        (F.round(F.sum("sum_sq"), 2) + F.lit(0.0)).alias("grand_sum_sq"),
    )
