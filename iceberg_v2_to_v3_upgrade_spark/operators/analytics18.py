"""[EXT] Round-10 training-data additions (SURVEY.md §2.N):

- n117: margin-based bitext mining (Artetxe & Schwenk ratio margin) —
  the standard parallel-corpus miner for translation training data.
- n118: EWMA ingest-rate anomaly detection — exact sequential fold,
  the streaming-health check a 100 TB ingest pipeline runs per source.
- n119: Bradley-Terry preference aggregation — pairwise "A beats B"
  counts to latent quality ratings, the RLHF preference-data reducer.
- n120: Kneser-Ney smoothed bigram LM — the n-gram scorer used for
  corpus quality filtering (distinct from n59's unsmoothed MLE).

Determinism contract (same as analytics16): every floating-point
reduction either folds LEFT-TO-RIGHT over an explicitly sorted list on
BOTH engines (Spark ``F.aggregate`` over ``sort_array`` vs DuckDB
``list_sum``/recursive CTE over ``ORDER BY``-controlled ``array_agg``)
or is rounded on both sides before reuse — intermediate doubles are
bit-identical, so the hash gate is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

# --------------------------------------------------- n117 bitext mining

_MARGIN_K = 4  # neighborhood size for the margin denominator

_N117_ORACLE = f"""
    WITH emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    src AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM emb WHERE vec_id % 2 = 0),
    tgt AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM emb WHERE vec_id % 2 = 1),
    pairs AS (
        SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
               round(list_dot_product(s.v, t.v) / (s.nrm * t.nrm), 6)
                   AS cos
        FROM src s, tgt t),
    rs AS (SELECT *, row_number() OVER (
               PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS r
           FROM pairs),
    rt AS (SELECT *, row_number() OVER (
               PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS r
           FROM pairs),
    avg_s AS (
        SELECT src_id,
               list_sum(list_sort(array_agg(cos))) / {_MARGIN_K} AS a
        FROM rs WHERE r <= {_MARGIN_K} GROUP BY src_id),
    avg_t AS (
        SELECT tgt_id,
               list_sum(list_sort(array_agg(cos))) / {_MARGIN_K} AS a
        FROM rt WHERE r <= {_MARGIN_K} GROUP BY tgt_id),
    scored AS (
        SELECT p.src_id, p.tgt_id,
               round(p.cos / ((s.a + t.a) / 2), 5) AS margin
        FROM pairs p
        JOIN avg_s s ON s.src_id = p.src_id
        JOIN avg_t t ON t.tgt_id = p.tgt_id),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS r
        FROM scored)
    SELECT src_id, tgt_id, margin FROM best WHERE r = 1
    ORDER BY src_id
"""


@declare(
    "n117_margin_bitext_mining",
    oracle=_N117_ORACLE,
    tags=("ext", "embeddings", "similarity", "mining"),
)
def n117_margin_bitext_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): source pool
    = even vec_ids, target pool = odd; candidate score is not raw
    cosine but the RATIO margin cos(x,y) / mean of both endpoints'
    k-NN neighborhoods — the correction that suppresses hub vectors
    which are "close to everything" and would flood a raw-cosine miner
    with false pairs. Returns each source's best target by margin.

    Scale: the fixture pools brute-force (the n3 baseline pattern);
    at 100 TB the pair generation swaps for the LSH/IVF candidate path
    (n3b/n3c) with identical downstream margin math — the margin only
    needs each candidate pair plus the two k-NN neighborhood means.
    Determinism: cosines round to 6dp, neighborhood means fold over
    value-SORTED lists (ties sum identically in any order), margins
    round to 5dp; ranking ties break on id.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    src = emb.filter("vec_id % 2 = 0")
    tgt = emb.filter("vec_id % 2 = 1")
    # Candidate cosines via broadcast target pool x streamed source
    # blocks (n2e's broadcast-GEMM machinery; round-10 optimization —
    # the previous crossJoin form evaluated one interpreted HOF fold
    # per PAIR and dominated the query at 8+ s). Each dot accumulates
    # PER DIMENSION (acc += S[:,i] outer T[:,i]), the exact IEEE op
    # sequence of the sequential _dot fold / DuckDB list_dot_product,
    # so every cos is bit-identical to the oracle's; rounding stays
    # JVM-side F.round as before. The collect is bounded by the target
    # POOL (half the fixture corpus; at 100 TB the pool pre-prunes via
    # the LSH/IVF candidate path exactly as the scale note says).
    tgt_rows = tgt.collect()
    if not tgt_rows:
        pairs = spark.createDataFrame(
            [], "src_id long, tgt_id long, cos double"
        )
    else:
        import numpy as np

        t_ids = np.array([r["vec_id"] for r in tgt_rows], dtype=np.int64)
        t_mat = np.array([r["v"] for r in tgt_rows], dtype=np.float64)

        def _fold_norms(mat: "np.ndarray") -> "np.ndarray":
            acc = np.zeros(mat.shape[0], dtype=np.float64)
            for i in range(mat.shape[1]):
                acc = acc + mat[:, i] * mat[:, i]
            return np.sqrt(acc)

        t_nrm = _fold_norms(t_mat)
        bc = scope.broadcast(spark, (t_ids, t_mat, t_nrm))

        def cos_blocks(batches):
            import pandas as pd

            ids_t, mat_t, nrm_t = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                s_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                s_mat = np.array(list(pdf["v"]), dtype=np.float64)
                s_nrm = _fold_norms(s_mat)
                acc = np.zeros(
                    (len(s_ids), len(ids_t)), dtype=np.float64
                )
                for i in range(s_mat.shape[1]):
                    acc = acc + s_mat[:, i, None] * mat_t[None, :, i]
                cos_raw = acc / (s_nrm[:, None] * nrm_t[None, :])
                yield pd.DataFrame(
                    {
                        "src_id": np.repeat(s_ids, len(ids_t)),
                        "tgt_id": np.tile(ids_t, len(s_ids)),
                        "cos_raw": cos_raw.ravel(),
                    }
                )

        par = spark.sparkContext.defaultParallelism
        pairs = scope.persist(
            src.repartition(par)
            .mapInPandas(
                cos_blocks, "src_id long, tgt_id long, cos_raw double"
            )
            .select(
                "src_id",
                "tgt_id",
                F.round(F.col("cos_raw"), 6).alias("cos"),
            )
        )

    def _knn_mean(key: str, other: str, alias: str) -> DataFrame:
        r = F.row_number().over(
            Window.partitionBy(key).orderBy(F.desc("cos"), F.col(other))
        )
        return (
            pairs.withColumn("r", r)
            .filter(F.col("r") <= _MARGIN_K)
            .groupBy(key)
            .agg(
                (
                    F.aggregate(
                        F.sort_array(F.collect_list("cos")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / _MARGIN_K
                ).alias(alias)
            )
        )

    avg_s = _knn_mean("src_id", "tgt_id", "a_src")
    avg_t = _knn_mean("tgt_id", "src_id", "a_tgt")
    scored = (
        pairs.join(avg_s, "src_id")
        .join(avg_t, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round(
                F.col("cos") / ((F.col("a_src") + F.col("a_tgt")) / 2), 5
            ).alias("margin"),
        )
    )
    best = F.row_number().over(
        Window.partitionBy("src_id").orderBy(
            F.desc("margin"), F.col("tgt_id")
        )
    )
    out = (
        scored.withColumn("r", best)
        .filter("r = 1")
        .select("src_id", "tgt_id", "margin")
        .orderBy("src_id")
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# ----------------------------------------------------- n118 EWMA anomaly

_EWMA_A = 0.3  # smoothing factor; 2.0 = anomaly multiple

_N118_ORACLE = """
    WITH RECURSIVE hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, h),
    idx AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
        FROM hourly),
    rec AS (
        SELECT event_type, rn, x::DOUBLE AS s, 0 AS anom
        FROM idx WHERE rn = 1
        UNION ALL
        -- 0.3 must be DOUBLE-typed: DuckDB would otherwise evaluate
        -- DECIMAL(2,1) * BIGINT exactly (0.3*3 = 0.9) while the engine
        -- computes double 0.3*3 = 0.8999999999999999 (review finding);
        -- the 0.7/2.0 terms already promote through the double r.s
        SELECT i.event_type, i.rn, 0.3::DOUBLE * i.x + 0.7 * r.s,
               r.anom + CASE WHEN i.x > 2.0 * r.s THEN 1 ELSE 0 END
        FROM rec r
        JOIN idx i
          ON i.event_type = r.event_type AND i.rn = r.rn + 1),
    last AS (
        SELECT event_type, max(rn) AS n_hours FROM rec GROUP BY 1)
    SELECT r.event_type, l.n_hours, round(r.s, 6) AS ewma,
           CAST(r.anom AS BIGINT) AS n_anomalies
    FROM rec r JOIN last l
      ON l.event_type = r.event_type AND l.n_hours = r.rn
    ORDER BY r.event_type
"""


@declare(
    "n118_ewma_anomaly",
    oracle=_N118_ORACLE,
    tags=("ext", "events", "timeseries", "anomaly"),
)
def n118_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA ingest-rate anomaly detection: hourly event counts per
    type, exponentially-weighted moving average s_t = 0.3·x_t + 0.7·
    s_{t-1} (s_1 = x_1), and an anomaly flag wherever an hour's count
    exceeds 2× the PRIOR smoothed level — the source-health monitor an
    ingest pipeline keys alerts from.

    The recurrence is inherently sequential per type, so it folds with
    ``F.aggregate`` over the hour-SORTED count list — one shuffle to
    build per-type hourly counts (bounded: #types × #hours, metadata-
    sized next to the event scan), then a JVM-side left fold; the
    DuckDB oracle runs the identical recurrence as a recursive CTE, so
    every intermediate double is bit-identical. No window over the raw
    event stream, no UDF, no driver loop.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    folded = (
        hourly.groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("h"), F.col("x")))
            ).alias("seq")
        )
        .select(
            "event_type",
            F.size("seq").cast("bigint").alias("n_hours"),
            F.aggregate(
                F.col("seq"),
                F.struct(
                    F.lit(0).cast("bigint").alias("n"),
                    F.lit(0.0).alias("s"),
                    F.lit(0).cast("int").alias("anom"),
                ),
                lambda acc, e: F.struct(
                    (acc["n"] + 1).alias("n"),
                    F.when(acc["n"] == 0, e["x"].cast("double"))
                    .otherwise(0.3 * e["x"] + 0.7 * acc["s"])
                    .alias("s"),
                    (
                        acc["anom"]
                        + F.when(
                            (acc["n"] > 0) & (e["x"] > 2.0 * acc["s"]), 1
                        ).otherwise(0)
                    ).alias("anom"),
                ),
            ).alias("fin"),
        )
    )
    return (
        folded.select(
            "event_type",
            "n_hours",
            F.round(F.col("fin.s"), 6).alias("ewma"),
            F.col("fin.anom").cast("bigint").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- n119 Bradley-Terry ratings

_BT_ITERS = 3

# one minorization step: p_i' = W_i / sum_j n_ij/(p_i + p_j), then
# normalize to sum 1 — both sums fold over brand-ORDERED lists
_BT_STEP = """
    d{k} AS (
        SELECT s.bi AS b,
               list_sum(array_agg(s.n / (pi.p + pj.p) ORDER BY s.bj))
                   AS den
        FROM sym s
        JOIN p{j} pi ON pi.b = s.bi
        JOIN p{j} pj ON pj.b = s.bj
        GROUP BY s.bi),
    r{k} AS (
        SELECT t.b, t.w / d.den AS praw
        FROM tot t JOIN d{k} d ON d.b = t.b),
    z{k} AS (SELECT list_sum(array_agg(praw ORDER BY b)) AS z FROM r{k}),
    p{k} AS (SELECT b, praw / (SELECT z FROM z{k}) AS p FROM r{k})
"""

_N119_ORACLE = (
    """
    WITH cmp AS (
        SELECT l.l_orderkey AS o, p.p_brand AS b,
               sum(l.l_quantity) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY o, b),
    duel AS (
        SELECT a.b AS bi, c.b AS bj,
               CAST(count(*) FILTER (WHERE a.q > c.q) AS BIGINT)
                   AS wins_i,
               CAST(count(*) FILTER (WHERE a.q <> c.q) AS BIGINT) AS n
        FROM cmp a JOIN cmp c ON a.o = c.o AND a.b < c.b
        GROUP BY bi, bj),
    sym AS (
        SELECT bi, bj, wins_i AS w, n FROM duel WHERE n > 0
        UNION ALL
        SELECT bj, bi, n - wins_i, n FROM duel WHERE n > 0),
    tot AS (SELECT bi AS b, CAST(sum(w) AS DOUBLE) AS w,
                   CAST(sum(w) AS BIGINT) AS wins
            FROM sym GROUP BY bi),
    p0 AS (SELECT b, 1.0 AS p FROM tot),
"""
    + ",".join(
        _BT_STEP.format(k=k, j=k - 1) for k in range(1, _BT_ITERS + 1)
    )
    + f"""
    SELECT t.b AS brand, t.wins, round(p.p, 6) AS rating
    FROM tot t JOIN p{_BT_ITERS} p ON p.b = t.b
    ORDER BY brand
"""
)


@declare(
    "n119_bradley_terry",
    oracle=_N119_ORACLE,
    tags=("ext", "preference", "ranking"),
)
def n119_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference aggregation — the reducer that turns
    pairwise "A beats B" judgments into latent quality ratings
    (preference-data curation for reward modeling). Duels are derived
    deterministically from the fixture: within each order, brand i
    beats brand j when its total quantity is strictly larger (ties are
    undecided and dropped). Three minorization iterations of
    p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized each step.

    Scale split: the DUEL aggregation is the data-sized part — one
    broadcast join (part is the small dim), one groupBy, one keyed
    self-join per order — all distributed. The iteration runs on the
    aggregated brand×brand matrix (25×25 here; bounded by #entities²,
    METADATA-sized for any real preference corpus), folded in sorted
    order so the Python floats match the oracle's ordered list_sum
    folds bit-for-bit.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    cmp_df = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b")
        )
        .agg(F.sum("l_quantity").alias("q"))
    )
    a = cmp_df.alias("a")
    c = cmp_df.alias("c")
    duel = (
        a.join(
            c,
            (F.col("a.o") == F.col("c.o")) & (F.col("a.b") < F.col("c.b")),
        )
        .groupBy(
            F.col("a.b").alias("bi"), F.col("c.b").alias("bj")
        )
        .agg(
            F.sum(
                F.when(F.col("a.q") > F.col("c.q"), 1).otherwise(0)
            ).cast("bigint").alias("wins_i"),
            F.sum(
                F.when(F.col("a.q") != F.col("c.q"), 1).otherwise(0)
            ).cast("bigint").alias("n"),
        )
        .filter("n > 0")
    )
    # brand×brand matrix: bounded by #entities² — driver-safe by design
    rows = duel.collect()
    sym: dict[tuple[str, str], tuple[int, int]] = {}
    wins: dict[str, int] = {}
    # wins are integer sums — order-independent, unlike the float
    # folds below, so plain accumulation is exact
    for r in rows:
        sym[(r["bi"], r["bj"])] = (r["wins_i"], r["n"])
        sym[(r["bj"], r["bi"])] = (r["n"] - r["wins_i"], r["n"])
        wins[r["bi"]] = wins.get(r["bi"], 0) + r["wins_i"]
        wins[r["bj"]] = wins.get(r["bj"], 0) + r["n"] - r["wins_i"]
    brands = sorted(wins)
    p = {b: 1.0 for b in brands}
    for _ in range(_BT_ITERS):
        den = {
            b: _ordered_sum(
                [
                    sym[(b, bj)][1] / (p[b] + p[bj])
                    for bj in brands
                    if (b, bj) in sym
                ]
            )
            for b in brands
        }
        praw = {b: float(wins[b]) / den[b] for b in brands}
        z = _ordered_sum([praw[b] for b in brands])
        p = {b: praw[b] / z for b in brands}
    out = [
        (b, wins[b], _round6(p[b]))
        for b in brands
    ]
    return spark.createDataFrame(
        out, "brand string, wins bigint, rating double"
    )


def _ordered_sum(vals: list[float]) -> float:
    """Sequential left fold in list order — matches DuckDB's
    ``list_sum(array_agg(x ORDER BY ...))``. Python's ``sum`` already
    folds left; this alias just documents the contract."""
    acc = 0.0
    for v in vals:
        acc += v
    return acc


def _round6(x: float) -> float:
    from iceberg_v2_to_v3_upgrade_spark.operators.analytics16 import (
        _round_half_up,
    )

    return _round_half_up(x, 6)


# ------------------------------------------- n120 Kneser-Ney bigram LM

_KN_D = 0.75  # absolute discount

_N120_ORACLE = f"""
    WITH toks AS (
        SELECT string_split(
                   lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' ')
               AS ts
        FROM documents),
    bg AS (
        SELECT ts[i::INT] AS w1, ts[(i+1)::INT] AS w2
        FROM (SELECT ts, unnest(range(1, len(ts))) AS i
              FROM toks WHERE len(ts) >= 2)
        WHERE ts[i::INT] <> '' AND ts[(i+1)::INT] <> ''),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx,
                  CAST(count(*) AS BIGINT) AS types_fw
           FROM c12 GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS types_bw
             FROM c12 GROUP BY w2),
    nbi AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c12)
    SELECT b.w1, b.w2, b.c,
           round(
               (b.c - {_KN_D}) / c1.ctx
               + ({_KN_D} * c1.types_fw / c1.ctx)
                 * (cont.types_bw / (SELECT n FROM nbi)),
               6) AS p_kn
    FROM c12 b
    JOIN c1 ON c1.w1 = b.w1
    JOIN cont ON cont.w2 = b.w2
    ORDER BY b.c DESC, b.w1, b.w2
    LIMIT 25
"""


@declare(
    "n120_kneser_ney_bigram",
    oracle=_N120_ORACLE,
    tags=("ext", "text", "tokenizer", "lm"),
)
def n120_kneser_ney_bigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute discount
    D=0.75): P(w2|w1) = max(c(w1,w2)-D,0)/c(w1·) + λ(w1)·P_cont(w2),
    with λ(w1) = D·|{w2: c(w1,w2)>0}|/c(w1·) and the continuation
    probability P_cont(w2) = |{w1: c(w1,w2)>0}| / |distinct bigrams| —
    the smoothing that makes n-gram quality scorers robust to unseen
    continuations (n59 is the unsmoothed MLE twin). Every count c ≥ D
    here (counts are ≥ 1 > 0.75), so the max() clamp is implicit.

    One corpus pass for bigram counts; everything after runs on the
    counted frame (context totals + forward types in one groupBy, the
    continuation types in another — both orders of magnitude smaller
    than the corpus). Probabilities are int-ratio arithmetic combined
    identically in both engines, rounded to 6dp.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(
            F.lower(F.regexp_replace(F.col("text"), "[^a-z ]", "")), " "
        ).alias("ts")
    ).filter(F.size("ts") >= 2)
    bg = (
        toks.select(
            F.explode(F.sequence(F.lit(1), F.size("ts") - 1)).alias("i"),
            "ts",
        )
        .select(
            F.element_at("ts", F.col("i")).alias("w1"),
            F.element_at("ts", F.col("i") + 1).alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    c12 = scope.persist(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("ctx"),
        F.count(F.lit(1)).cast("bigint").alias("types_fw"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("types_bw")
    )
    n_bigrams = c12.count()
    out = (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                (F.col("c") - _KN_D) / F.col("ctx")
                + (_KN_D * F.col("types_fw") / F.col("ctx"))
                * (F.col("types_bw") / F.lit(float(n_bigrams))),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(25)
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# ------------------------------------------- n123 DoReMi-lite mixture

_DM_VOCAB = 1000  # reference vocabulary size (top tokens by count)
_DM_ETA = 0.5  # multiplicative-weights step size
_DM_ITERS = 3

# one multiplicative-weights step: w_i <- w_i * exp(eta * loss_i),
# renormalized; exp() is rounded to 6dp on both sides because libm
# bit-parity across engines is not guaranteed, and the normalizing sum
# folds over the domain-ORDERED list
_DM_STEP = """
    u{k} AS (
        SELECT lang, round(w * round(exp({eta} * loss), 6), 6) AS wr,
               loss
        FROM w{j}),
    z{k} AS (SELECT list_sum(array_agg(wr ORDER BY lang)) AS z FROM u{k}),
    w{k} AS (SELECT lang, round(wr / (SELECT z FROM z{k}), 6) AS w, loss
             FROM u{k})
"""

_N123_ORACLE = (
    f"""
    WITH tok AS (
        SELECT lang,
               unnest(string_split(
                   lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' '))
               AS t
        FROM documents),
    tok2 AS (SELECT lang, t FROM tok WHERE t <> ''),
    vocab AS (
        SELECT t FROM (
            SELECT t, row_number() OVER (
                ORDER BY count(*) DESC, t) AS r
            FROM tok2 GROUP BY t)
        WHERE r <= {_DM_VOCAB}),
    dom AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (
                   WHERE t IN (SELECT t FROM vocab)) AS BIGINT)
                   AS in_vocab
        FROM tok2 GROUP BY lang),
    w0 AS (
        SELECT lang, 1.0 / (SELECT count(*) FROM dom) AS w,
               1.0 - in_vocab / CAST(n_tokens AS DOUBLE) AS loss
        FROM dom),
"""
    + ",".join(
        _DM_STEP.format(k=k, j=k - 1, eta=_DM_ETA)
        for k in range(1, _DM_ITERS + 1)
    )
    + f"""
    SELECT d.lang, d.n_tokens, round(w.loss, 6) AS oov_loss,
           w.w AS mixture_weight
    FROM dom d JOIN w{_DM_ITERS} w ON w.lang = d.lang
    ORDER BY d.lang
"""
)


@declare(
    "n123_doremi_mixture",
    oracle=_N123_ORACLE,
    tags=("ext", "text", "mixture", "curation"),
)
def n123_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture reweighting (lite): each language
    domain gets an excess-loss proxy — its out-of-vocabulary rate
    against the corpus top-1000 vocabulary — and three multiplicative-
    weights updates w_i ← w_i·exp(η·loss_i) (η=0.5, renormalized each
    step) shift the sampling mixture toward the domains the reference
    model covers worst, exactly the DoReMi update rule with a fixed
    proxy loss instead of a retrained one. The n15/n94 mixture
    SAMPLERS consume weights like these; this operator PRODUCES them.

    Scale split: the corpus-sized work is one tokenize pass + one
    vocabulary top-k + one per-domain coverage aggregate (all keyed
    shuffles); the iteration runs on the #domains-sized frame
    driver-side with the same ordered folds and 6dp-rounded exp()
    steps as the oracle's unrolled CTEs (libm bit-parity across
    engines is not assumed — every exp() is rounded before use).
    """
    import math as _math

    from iceberg_v2_to_v3_upgrade_spark.operators.pipeline3 import (
        _letters_only,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = scope.persist(
        docs.select(
            "lang",
            F.explode(F.split(_letters_only(F.col("text")), " ")).alias("t"),
        ).filter(F.col("t") != "")
    )
    # orderBy+limit compiles to a distributed TakeOrdered — a
    # partitionless window row_number would sort ALL distinct
    # tokens in one task (review finding); same (count desc, t)
    # total order, same rows
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.col("t"))
        .limit(_DM_VOCAB)
        .select("t")
    )
    dom = (
        tok.join(
            F.broadcast(vocab.withColumn("iv", F.lit(1))), "t", "left"
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce("iv", F.lit(0)))
            .cast("bigint")
            .alias("in_vocab"),
        )
    )
    rows = dom.collect()  # #domains rows — bounded, not data-sized
    langs = sorted(r["lang"] for r in rows)
    by = {r["lang"]: r for r in rows}
    loss = {
        lang: 1.0 - by[lang]["in_vocab"] / float(by[lang]["n_tokens"])
        for lang in langs
    }
    w = {lang: 1.0 / len(langs) for lang in langs}
    for _ in range(_DM_ITERS):
        wr = {
            lang: _round6(
                w[lang] * _round6(_math.exp(_DM_ETA * loss[lang]))
            )
            for lang in langs
        }
        z = _ordered_sum([wr[lang] for lang in langs])
        w = {lang: _round6(wr[lang] / z) for lang in langs}
    out = [
        (
            lang,
            by[lang]["n_tokens"],
            _round6(loss[lang]),
            w[lang],
        )
        for lang in langs
    ]
    return spark.createDataFrame(
        out,
        "lang string, n_tokens bigint, oov_loss double, "
        "mixture_weight double",
    )
