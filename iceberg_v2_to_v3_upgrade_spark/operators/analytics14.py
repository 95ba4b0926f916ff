"""Declared queries, round 4 batch B: late-interaction (MaxSim)
multi-vector retrieval and an exact-arithmetic Wasserstein-1 drift
metric.

n108 is ColBERT-style late interaction: a "document" is a BAG of
vectors (here: every embedding sharing a label), and the score of a
document for a multi-token query is sum over query tokens of the MAX
cosine against any document vector. This is the retrieval shape modern
multi-vector indexes (ColBERT/PLAID) serve, and it is expressible as
two ordinary aggregates — no index structure needed for the exact
baseline. n109 ranks sources by distribution shift of document length
vs the whole corpus using Wasserstein-1 (earth mover's) distance over
fixed-width buckets — complementing n96 (PSI) and n21 (KL), which are
density-ratio metrics and blow up on empty bins; EMD is the metric that
stays finite and meaningful for disjoint supports.

Scale posture (100 TB): n108 scans the corpus once with the (tiny)
query-token frame broadcast; the two aggregates reduce to
O(labels x query_tokens) then O(labels) rows — no corpus shuffle at
all. n109 is one scan to bucket counts (O(sources x buckets) rows),
then window cumsums on that metadata-sized frame; the EMD numerators
are exact BIGINT cross-products so both engines agree bit-for-bit —
one double division at the very end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.functions.arrays import (
    as_double_array,
    cosine_similarity,
)
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# --------------------------------------------------------------- n108

_N_QUERY_TOKENS = 3
_TOP_LABELS = 5

_MAXSIM_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_N_QUERY_TOKENS}
    ),
    best AS (
        SELECT e.label, q.qid,
               max(
                   list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v)))
               ) AS best_sim
        FROM q CROSS JOIN e
        GROUP BY e.label, q.qid
    ),
    scored AS (
        SELECT label,
               round(sum(best_sim), 4) AS maxsim_score,
               CAST(count(*) AS BIGINT) AS n_query_tokens
        FROM best GROUP BY label
    )
    SELECT label, maxsim_score, n_query_tokens,
           CAST(row_number() OVER (ORDER BY maxsim_score DESC, label)
                AS INTEGER) AS rank
    FROM scored
    ORDER BY rank LIMIT {_TOP_LABELS}
"""


@declare(
    "n108_maxsim_multivector",
    oracle=_MAXSIM_ORACLE,
    tags=("ext", "similarity", "retrieval"),
)
def n108_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction MaxSim retrieval: each label's embeddings form a
    multi-vector document; the first {_N_QUERY_TOKENS} vectors are the
    query tokens; score(doc) = sum_q max_d cos(q, d); return the top
    {_TOP_LABELS} documents.

    Scale: the corpus is scanned ONCE with the query tokens broadcast
    (|q| x dim floats — model-weight sized). max() per (label, qid) is
    a partial aggregate; the final sum runs on O(labels x |q|) rows.
    The rounding happens BEFORE ranking in both engines so tie order is
    identical. Exact baseline for a PLAID-style pruned index."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") < _N_QUERY_TOKENS).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    best = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "label", "qid", cosine_similarity(F.col("qv"), F.col("v")).alias("sim")
        )
        .groupBy("label", "qid")
        .agg(F.max("sim").alias("best_sim"))
    )
    scored = best.groupBy("label").agg(
        F.round(F.sum("best_sim"), 4).alias("maxsim_score"),
        F.count("*").alias("n_query_tokens"),
    )
    w = Window.orderBy(F.desc("maxsim_score"), F.asc("label"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_LABELS)
        .select("label", "maxsim_score", "n_query_tokens", "rank")
        .orderBy("rank")
    )


# --------------------------------------------------------------- n109

_BUCKET_W = 32

_EMD_ORACLE = f"""
    WITH d AS (
        SELECT source, CAST(floor(n_chars / {_BUCKET_W}) AS BIGINT) AS bucket
        FROM documents
    ),
    grid AS (
        SELECT s.source, b.bucket
        FROM (SELECT DISTINCT source FROM d) s
        CROSS JOIN (SELECT DISTINCT bucket FROM d) b
    ),
    per_src AS (
        SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY source, bucket
    ),
    filled AS (
        SELECT g.source, g.bucket, coalesce(p.n, 0) AS n
        FROM grid g LEFT JOIN per_src p
          ON g.source = p.source AND g.bucket = p.bucket
    ),
    per_bucket AS (
        SELECT bucket, sum(n) AS bn FROM filled GROUP BY bucket
    ),
    tot AS (SELECT sum(bn) AS tot_c FROM per_bucket),
    cums AS (
        SELECT f.source, f.bucket,
               sum(f.n) OVER (PARTITION BY f.source ORDER BY f.bucket)
                   AS cum_s,
               sum(f.n) OVER (PARTITION BY f.source) AS tot_s,
               sum(pb.bn) OVER (PARTITION BY f.source ORDER BY f.bucket)
                   AS cum_c,
               t.tot_c
        FROM filled f
        JOIN per_bucket pb USING (bucket)
        CROSS JOIN tot t
    )
    SELECT source,
           CAST(max(tot_s) AS BIGINT) AS n_docs,
           round(CAST(sum(abs(cum_s * tot_c - cum_c * tot_s)) AS DOUBLE)
                 / (CAST(max(tot_s) AS DOUBLE) * CAST(max(tot_c) AS DOUBLE)),
                 6) AS emd_buckets
    FROM cums
    GROUP BY source
    ORDER BY emd_buckets DESC, source
"""


@declare(
    "n109_length_emd_drift",
    oracle=_EMD_ORACLE,
    tags=("ext", "curation", "drift"),
)
def n109_length_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between each source's
    document-length distribution and the whole corpus, over fixed
    {_BUCKET_W}-char buckets: EMD = sum over buckets of |CDF_source -
    CDF_corpus| (unit: buckets). Ranks sources by distribution shift —
    finite even when supports are disjoint, unlike KL (n21) / PSI (n96).

    Exactness: the per-bucket term is |cum_s*tot_c - cum_c*tot_s| /
    (tot_s*tot_c); numerator products and their sum are computed in
    exact integer arithmetic on BOTH engines — DECIMAL(19,0) operands ->
    DECIMAL(38,0) products in Spark, HUGEINT (128-bit) in DuckDB — so
    the engines agree bit-for-bit up to the single double division at
    the end (operands cast to double first, identically on both sides;
    exact for any corpus below ~10^19 docs).

    Scale: one scan reduces the corpus to O(sources x buckets) count
    rows; the dense grid, cumsums, and EMD all run on that
    metadata-sized frame. Corpus CDF is a per-bucket sum joined back —
    no second scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") / _BUCKET_W).cast("long").alias("bucket")
    )
    # per_src is the only child of the corpus scan and is referenced by
    # four downstream branches (sources, buckets, filled, per_bucket);
    # without a persist the 100 TB scan would re-run per branch —
    # exchange reuse does not fire across these differing aggregates.
    # The frame itself is O(sources x buckets) — metadata-sized.
    per_src = scope.persist(
        docs.groupBy("source", "bucket").agg(F.count("*").alias("n")),
        StorageLevel.MEMORY_AND_DISK,
    )
    sources = per_src.select("source").distinct()
    buckets = per_src.select("bucket").distinct()
    filled = (
        sources.crossJoin(buckets)
        .join(per_src, ["source", "bucket"], "left")
        .select("source", "bucket", F.coalesce("n", F.lit(0)).alias("n"))
    )
    per_bucket = filled.groupBy("bucket").agg(F.sum("n").alias("bn"))
    joined = filled.join(per_bucket, "bucket")
    w_src = Window.partitionBy("source").orderBy("bucket")
    cums = joined.select(
        "source",
        "bucket",
        F.sum("n").over(w_src).alias("cum_s"),
        F.sum("n").over(Window.partitionBy("source")).alias("tot_s"),
        F.sum("bn").over(w_src).alias("cum_c"),
    )
    tot_c = per_bucket.agg(F.sum("bn").alias("tot_c"))
    cums = cums.crossJoin(F.broadcast(tot_c))
    # exact integer numerators: DECIMAL(19,0) operands so the products
    # land in DECIMAL(38,0) (no BIGINT wraparound at extreme counts);
    # the decimal sum is exact, and the only inexact step is the final
    # double division — performed identically by the DuckDB oracle.
    dec = "decimal(19,0)"
    num = F.abs(
        F.col("cum_s").cast(dec) * F.col("tot_c").cast(dec)
        - F.col("cum_c").cast(dec) * F.col("tot_s").cast(dec)
    )
    return (
        cums.groupBy("source")
        .agg(
            F.max("tot_s").alias("n_docs"),
            F.round(
                F.sum(num).cast("double")
                / (
                    F.max("tot_s").cast("double")
                    * F.max("tot_c").cast("double")
                ),
                6,
            ).alias("emd_buckets"),
        )
        .orderBy(F.desc("emd_buckets"), F.asc("source"))
    )


# --------------------------------------------------------------- h24

_PERMISSIVE_ORACLE = """
    WITH raw AS (
        SELECT event_type,
               CASE WHEN event_id % 11 = 0
                    THEN substr(props, 1, length(props) - 1)  -- drop '}'
                    ELSE props END AS payload
        FROM events
    ),
    parsed AS (
        SELECT event_type,
               CASE WHEN json_valid(payload)
                    THEN CAST(json_extract_string(payload, '$.k') AS INTEGER)
               END AS k,
               NOT json_valid(payload) AS corrupt
        FROM raw
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE corrupt) AS BIGINT) AS n_corrupt,
           round(avg(k), 4) AS avg_k,
           CAST(max(k) AS INTEGER) AS max_k
    FROM parsed GROUP BY event_type ORDER BY event_type
"""


@declare(
    "h24_permissive_json_parse",
    oracle=_PERMISSIVE_ORACLE,
    tags=("functions", "ingest"),
)
def h24_permissive_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced JSON parsing with PERMISSIVE corrupt-record
    capture: `from_json` with a `_corrupt_record` column — the ingest
    idiom where a malformed payload must never kill the job but must be
    COUNTED (silently nulling it hides upstream breakage). The fixture
    has no malformed rows, so every 11th payload is deterministically
    truncated (closing brace dropped) on both engines before parsing;
    the oracle mirrors with json_valid().

    Scale: one scan, per-row JVM-side Jackson parse (no UDF), one
    partial aggregate to O(event_types) rows. At 100 TB the corrupt
    count per type is the data-quality dashboard's first line."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 11 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_type",
        F.from_json(
            payload,
            "k int, _corrupt_record string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.col("p._corrupt_record")).alias("n_corrupt"),
            F.round(F.avg("p.k"), 4).alias("avg_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------- h25

_COLLATION_ORACLE = """
    WITH mixed AS (
        SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
                    ELSE lower(p_brand) END AS brand_mixed,
               p_retailprice
        FROM part
    )
    SELECT lower(brand_mixed) AS brand_ci,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(p_retailprice), 2) AS total_price
    FROM mixed GROUP BY brand_ci ORDER BY brand_ci
"""


@declare(
    "h25_collated_grouping",
    oracle=_COLLATION_ORACLE,
    tags=("functions", "collation"),
)
def h25_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 string collation: the key
    is `collate(col, 'UTF8_LCASE')`, so 'Brand#11' and 'BRAND#11' land
    in one group WITHOUT rewriting the data — the collation is a
    comparison property of the type, exactly how warehouse engines
    expose locale/case rules. (The oracle normalizes with lower(),
    which is semantically equal for this data; the Spark side
    deliberately exercises the collated-comparison path, and the output
    key is lower()-canonicalized only for the cross-engine hash.)

    Scale: one scan, one partial-aggregated shuffle on the collated
    key — identical shape to any groupBy; collation adds no extra
    pass."""
    part = load_table(spark, sf_dir, "part")
    mixed = part.select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_brand")
        ).otherwise(F.lower("p_brand")).alias("brand_mixed"),
        "p_retailprice",
    )
    return (
        mixed.groupBy(
            F.collate("brand_mixed", "UTF8_LCASE").alias("k")
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("p_retailprice"), 2).alias("total_price"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("brand_ci"),
            "n_parts",
            "total_price",
        )
        .orderBy("brand_ci")
    )
