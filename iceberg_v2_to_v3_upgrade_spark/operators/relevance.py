"""[EXT] Corpus relevance + mixture diagnostics over ``documents``
(SURVEY.md §2.N, training-data pipeline extensions).

- ``n20_bm25_relevance`` — BM25 keyword scoring: the retrieval primitive
  behind quality-classifier seed sets and targeted corpus slicing.
- ``n21_source_kl_divergence`` — per-source unigram KL divergence to the
  corpus distribution: the data-mixture drift diagnostic (which sources
  are lexically atypical) used when tuning sampling weights.

Both are pure built-in expressions (no UDF, whole-stage codegen); the
global statistics each needs are tiny (one row / vocab-sized) and reach
the fact side via broadcast, so the only fact-scale movement is the
token-count shuffle n21 shares with any grouped aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# Fixed keyword query (constants, like any scoring model's parameters).
_BM25_TERMS = ("join", "hash", "scan")
_K1, _B = 1.2, 0.75
_TOP_N = 15


def _bm25_oracle() -> str:
    tf_cols = ",\n               ".join(
        f"len(list_filter(tok, x -> x = '{t}')) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    score = " + ".join(
        f"ln(1 + (n - df_{t} + 0.5) / (df_{t} + 0.5)) * tf_{t}"
        f" / (tf_{t} + {_K1} * ({1 - _B} + {_B} * dl / avgdl))"
        for t in _BM25_TERMS
    )
    tf_out = ", ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
        WITH f AS (
            SELECT doc_id, len(tok) AS dl,
               {tf_cols}
            FROM (SELECT doc_id, string_split(text, ' ') AS tok
                  FROM documents)),
        g AS (SELECT count(*) AS n, avg(dl) AS avgdl, {df_cols} FROM f),
        s AS (
            SELECT doc_id, {tf_out},
                   round({score}, 6) AS score
            FROM f CROSS JOIN g)
        SELECT doc_id, {tf_out}, score
        FROM s ORDER BY score DESC, doc_id LIMIT {_TOP_N}
    """


@declare(
    "n20_bm25_relevance",
    oracle=_bm25_oracle(),
    tags=("ext", "text", "relevance"),
)
def n20_bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword relevance (k1=1.2, b=0.75) for a fixed query, top-15
    documents.

    Two passes over a 2-column projection: one grouped-to-one-row pass for
    the global stats (N, avgdl, per-term document frequency), then a
    scoring pass with that single stats row broadcast — so corpus size
    only ever flows through map-side work plus the final top-k
    (TakeOrderedAndProject, no global sort). Per-term tf uses
    size(filter(tokens)) on the split array; score terms are summed in
    fixed query order so the float result is reproducible cross-engine
    (rounded to 6, ties broken by doc_id)."""
    def tf(term):
        # closure factory: a 2-arg lambda would be read as (element, index)
        return F.size(F.filter(F.split("text", " "), lambda x: x == term))

    f = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        *[tf(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    g = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(
                f"df_{t}"
            )
            for t in _BM25_TERMS
        ],
    )
    score = None
    for t in _BM25_TERMS:
        term = (
            F.log(1 + (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5))
            * F.col(f"tf_{t}")
            / (F.col(f"tf_{t}") + _K1 * ((1 - _B) + _B * F.col("dl") / F.col("avgdl")))
        )
        score = term if score is None else score + term
    return (
        f.crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            *[f"tf_{t}" for t in _BM25_TERMS],
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_TOP_N)
    )


# Cross-source overlap window (matches n16's fixture-calibrated tradeoff:
# production pipelines use 13-grams; the synthetic 31-word vocabulary needs
# a small n to exhibit nonzero overlap, here 5).
_OVL_N = 5
_OVL_TOP = 20

_OVERLAP_ORACLE = f"""
    WITH w AS (SELECT source, string_split(text, ' ') AS words
               FROM documents),
    g AS (
        SELECT DISTINCT source,
               unnest(list_distinct(list_transform(
                   range(1, len(words) - {_OVL_N - 2}),
                   i -> md5(array_to_string(
                       list_slice(words, i, i + {_OVL_N - 1}), ' ')))))
                   AS gram
        FROM w),
    n AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source),
    p AS (
        SELECT a.source AS sa, b.source AS sb, count(*) AS shared
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT p.sa AS source_a, p.sb AS source_b,
           p.shared AS shared_grams,
           round(p.shared / least(na.n_grams, nb.n_grams), 6)
               AS containment
    FROM p
    JOIN n na ON na.source = p.sa
    JOIN n nb ON nb.source = p.sb
    ORDER BY shared_grams DESC, source_a, source_b
    LIMIT {_OVL_TOP}
"""


@declare(
    "n22_cross_source_overlap",
    oracle=_OVERLAP_ORACLE,
    tags=("ext", "text", "dedup", "mixture"),
)
def n22_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source n-gram overlap matrix: for every pair of corpus
    sources, the count of shared distinct word 5-grams and the containment
    ratio shared/min(|A|,|B|) — the scraping-pipeline diagnostic that
    finds mirrored / re-crawled sources before they skew dedup and
    mixture weights (n16 is corpus-vs-benchmark; this is
    corpus-vs-itself at source granularity).

    Grams are md5'd in-executor (16-byte keys). The (source, gram)
    distinct set is built once and persisted — it feeds the per-source
    census and both sides of the self-join, and Spark shares no subplans
    across branches. The self-join shuffles by gram hash with group size
    bounded by the number of sources, so candidate pairs stay linear in
    corpus size; per-source totals re-enter via broadcast."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("w")
    )
    grams_arr = F.when(
        F.size("w") >= _OVL_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (_OVL_N - 1)),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("w"), i, _OVL_N), " ")
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark import StorageLevel

    g = scope.persist(
        docs.select("source", F.explode(grams_arr).alias("gram")).distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    n = g.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    ga = g.select(F.col("source").alias("sa"), "gram")
    gb = g.select(F.col("source").alias("sb"), "gram")
    pairs = (
        ga.join(gb, "gram")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = n.select(F.col("source").alias("sa"), F.col("n_grams").alias("na"))
    nb = n.select(F.col("source").alias("sb"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.col("shared").alias("shared_grams"),
            F.round(F.col("shared") / F.least("na", "nb"), 6).alias(
                "containment"
            ),
        )
        .orderBy(F.desc("shared_grams"), "source_a", "source_b")
        .limit(_OVL_TOP)
    )


_KL_ORACLE = """
    WITH sw AS (
        SELECT source, t.word, count(*) AS c
        FROM documents, unnest(string_split(text, ' ')) AS t(word)
        GROUP BY source, t.word),
    s AS (SELECT source, sum(c) AS tot FROM sw GROUP BY source),
    g AS (SELECT word, sum(c) AS gc FROM sw GROUP BY word),
    t AS (SELECT sum(c) AS gtot FROM sw)
    SELECT sw.source,
           CAST(s.tot AS BIGINT) AS n_tokens,
           count(*) AS vocab_size,
           round(sum((sw.c / s.tot) * ln((sw.c / s.tot) / (g.gc / t.gtot))),
                 6) AS kl_to_corpus
    FROM sw
    JOIN s USING (source)
    JOIN g USING (word)
    CROSS JOIN t
    GROUP BY sw.source, s.tot
    ORDER BY sw.source
"""


@declare(
    "n21_source_kl_divergence",
    oracle=_KL_ORACLE,
    tags=("ext", "text", "mixture"),
)
def n21_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence to the whole-corpus distribution —
    the lexical-drift diagnostic behind data-mixture weight tuning
    (a source with high KL is out-of-distribution for the mix).

    One explode + one (source, word) grouped count is the only fact-scale
    shuffle; everything after operates on vocab-sized aggregates (global
    word counts, per-source totals) that re-join via broadcast. KL terms
    p*ln(p/q) never hit zero because every source word is, by
    construction, in the corpus vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    sw = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = sw.groupBy("source").agg(F.sum("c").alias("tot"))
    g = sw.groupBy("word").agg(F.sum("c").alias("gc"))
    t = sw.agg(F.sum("c").alias("gtot"))
    p = F.col("c") / F.col("tot")
    q = F.col("gc") / F.col("gtot")
    return (
        sw.join(F.broadcast(s), "source")
        .join(F.broadcast(g), "word")
        .crossJoin(F.broadcast(t))
        .groupBy("source", "tot")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_to_corpus"),
        )
        .select(
            "source",
            F.col("tot").alias("n_tokens"),
            "vocab_size",
            "kl_to_corpus",
        )
        .orderBy("source")
    )
