"""[EXT] Training-data pipeline operators, batch 3 (SURVEY.md §2.N).

Tokenizer-induction statistics (BPE merge candidates, trigram LM),
classifier-based quality scoring (hashed-feature linear model), substring
decontamination, deterministic per-group sampling, and Matryoshka
embedding-truncation diagnostics. All engine-portable (md5-derived hashes,
double-precision array math) so every query is hash-checked against DuckDB.

Scale posture: everything is explode -> hash-aggregate or broadcast-join
shaped; per-doc state is bounded by document length, group keys are
bounded vocabularies (char pairs, hash buckets, widths). No collects, no
cartesian joins (the one crossJoin broadcasts a 3-row probe frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.functions.arrays import as_double_array
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

#: lowercase-letters-and-spaces normalization shared by the tokenizer ops;
#: matches the oracle's regexp_replace(text, '[^a-z ]', '', 'g').
def _letters_only(col):
    return F.lower(F.regexp_replace(col, "[^a-z ]", ""))


@declare(
    "n57_group_reservoir_sample",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY md5(doc_id::VARCHAR)) AS rk
            FROM documents)
        SELECT source, doc_id, rk FROM ranked WHERE rk <= 5
        ORDER BY source, rk
    """,
    tags=("ext", "sampling"),
)
def n57_group_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (reservoir-sampling semantics,
    reproducible): rank rows inside each source by md5(doc_id) and keep the
    first k. Unlike rand()-based sampling the selection is identical across
    engines, retries, and cluster sizes — the property a training-data
    pipeline needs for auditable subsets.

    Scale: one shuffle keyed by source; the per-group sort is on a
    uniformly distributed hash. For k << group size a two-pass hash-
    threshold prefilter can cut the sort input ~(k/|group|)x; at the
    fixture's group sizes the single window is the faster plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


@declare(
    "n58_bpe_merge_candidates",
    oracle="""
        WITH toks AS (
            SELECT unnest(string_split(
                       lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' '))
                   AS tok
            FROM documents),
        t2 AS (SELECT tok FROM toks WHERE length(tok) >= 2),
        idx AS (SELECT tok, unnest(range(1, length(tok))) AS i FROM t2)
        SELECT substr(tok, i::INT, 2) AS pair, count(*) AS freq
        FROM idx GROUP BY pair
        ORDER BY freq DESC, pair LIMIT 20
    """,
    tags=("ext", "text", "tokenizer"),
)
def n58_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary-induction scan: count every adjacent character pair
    across the corpus and rank merge candidates — the inner statistic of a
    BPE trainer's merge step (Sennrich et al. 2016).

    explode(sequence) keeps the pair enumeration inside codegen (no UDF);
    the grouped count is map-side partial on a key space bounded by the
    alphabet squared, so the shuffle is tiny no matter the corpus size;
    top-k is TakeOrdered, never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(_letters_only(F.col("text")), " ")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i"), "tok"
    ).select(F.expr("substr(tok, i, 2)").alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(20)
    )


@declare(
    "n59_trigram_lm",
    oracle="""
        WITH toks AS (
            SELECT string_split(
                       lower(regexp_replace(text, '[^a-z ]', '', 'g')), ' ')
                   AS ts
            FROM documents),
        tri AS (
            SELECT ts[i::INT] AS w1, ts[(i+1)::INT] AS w2, ts[(i+2)::INT] AS w3
            FROM (SELECT ts, unnest(range(1, len(ts)-1)) AS i
                  FROM toks WHERE len(ts) >= 3)),
        cnt AS (SELECT w1, w2, w3, count(*) AS freq FROM tri GROUP BY 1,2,3),
        ctx AS (SELECT w1, w2, w3, freq,
                       sum(freq) OVER (PARTITION BY w1, w2) AS ctx_freq
                FROM cnt)
        SELECT w1, w2, w3, freq, round(freq / ctx_freq, 6) AS prob
        FROM ctx ORDER BY freq DESC, w1, w2, w3 LIMIT 25
    """,
    tags=("ext", "text", "tokenizer"),
)
def n59_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model estimation: corpus trigram counts with the
    conditional next-token probability P(w3 | w1 w2) — the count table an
    n-gram LM (or contamination detector) is built from.

    Token arrays stay un-exploded until the sequence index explode (one
    row per trigram, linear in corpus size); trigram counts shuffle once on
    (w1,w2,w3); the context total reuses a window over the counted (much
    smaller) frame partitioned by (w1,w2) — no second pass over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(_letters_only(F.col("text")), " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    tri = toks.select(
        F.explode(F.sequence(F.lit(1), F.size("ts") - 2)).alias("i"), "ts"
    ).select(
        F.element_at("ts", F.col("i")).alias("w1"),
        F.element_at("ts", F.col("i") + 1).alias("w2"),
        F.element_at("ts", F.col("i") + 2).alias("w3"),
    )
    cnt = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("freq"))
    ctx = cnt.withColumn(
        "ctx_freq", F.sum("freq").over(Window.partitionBy("w1", "w2"))
    )
    return (
        ctx.select(
            "w1",
            "w2",
            "w3",
            "freq",
            F.round(F.col("freq") / F.col("ctx_freq"), 6).alias("prob"),
        )
        .orderBy(F.desc("freq"), "w1", "w2", "w3")
        .limit(25)
    )


@declare(
    "n60_substring_decontamination",
    oracle="""
        WITH probes AS (
            SELECT doc_id AS eval_id, substr(text, 20, 40) AS probe
            FROM documents WHERE doc_id IN (3, 7, 11))
        SELECT p.eval_id,
               count(*) FILTER (WHERE position(p.probe IN d.text) > 0)
                   AS n_contaminated
        FROM probes p CROSS JOIN documents d
        GROUP BY p.eval_id ORDER BY p.eval_id
    """,
    tags=("ext", "curation", "decontamination"),
)
def n60_substring_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (the strict complement of n16's
    n-gram overlap): count training documents that contain an eval probe
    string verbatim. Probes here are 40-char excerpts of three fixture
    docs, so each is guaranteed >= 1 hit (its own source).

    The probe frame is tiny and BROADCAST; the corpus side streams through
    an instr() filter per probe — a map-only pass over the fact table, no
    shuffle of the corpus, which is the only shape that survives when the
    corpus is 100 TB and the eval suite is a few thousand strings.
    """
    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id").isin(3, 7, 11)).select(
        F.col("doc_id").alias("eval_id"),
        F.substring("text", 20, 40).alias("probe"),
    )
    return (
        docs.select("text")
        .crossJoin(F.broadcast(probes))
        .groupBy("eval_id")
        .agg(
            F.count(F.when(F.instr("text", F.col("probe")) > 0, 1)).alias(
                "n_contaminated"
            )
        )
        .orderBy("eval_id")
    )


@declare(
    "n64_matryoshka_truncation",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        w AS (SELECT unnest([8, 16, 32, 64]) AS width),
        m AS (
            SELECT width,
                   sqrt(list_sum(list_transform(v[1:width], x -> x*x))
                        / list_sum(list_transform(v, x -> x*x))) AS efrac
            FROM e, w)
        SELECT width, round(avg(efrac), 4) AS avg_energy_frac,
               round(min(efrac), 4) AS min_energy_frac
        FROM m GROUP BY width ORDER BY width
    """,
    tags=("ext", "embeddings"),
)
def n64_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation diagnostic (Kusupati et al. 2022): for
    each prefix width, the fraction of each vector's L2 energy the prefix
    retains (== cosine between the full vector and its zero-padded prefix).
    Tells an index builder how small the stored dimension can go.

    Pure higher-order array math in one codegen stage; the explode is x4
    (widths), the aggregate keys on 4 widths — shuffle carries 4 rows per
    task at any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        as_double_array("embedding").alias("v")
    )
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda acc, x: acc + x * x
    )
    per = emb.select(
        F.explode(F.array(*[F.lit(w) for w in (8, 16, 32, 64)])).alias("width"),
        "v",
    ).select(
        "width",
        F.sqrt(
            sq_sum(F.slice("v", F.lit(1), F.col("width"))) / sq_sum(F.col("v"))
        ).alias("efrac"),
    )
    return (
        per.groupBy("width")
        .agg(
            F.round(F.avg("efrac"), 4).alias("avg_energy_frac"),
            F.round(F.min("efrac"), 4).alias("min_energy_frac"),
        )
        .orderBy("width")
    )


@declare(
    "n67_pca_power_iteration",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        dims AS (SELECT unnest(range(1, 65)) AS dim),
        d1 AS (SELECT vec_id, v,
                      list_sum(list_transform(v, x -> x * 0.125)) AS d FROM e),
        s1 AS (SELECT dim, sum(v[dim::INT] * d) AS s FROM d1, dims GROUP BY dim),
        l1 AS (SELECT sqrt(sum(s * s)) AS lam FROM s1),
        v1 AS (SELECT dim, s / lam AS w FROM s1, l1),
        d2 AS (SELECT e.vec_id, e.v, sum(e.v[v1.dim::INT] * v1.w) AS d
               FROM e, v1 GROUP BY e.vec_id, e.v),
        s2 AS (SELECT dim, sum(v[dim::INT] * d) AS s FROM d2, dims GROUP BY dim),
        l2 AS (SELECT sqrt(sum(s * s)) AS lam FROM s2),
        v2 AS (SELECT dim, s / lam AS w FROM s2, l2),
        d3 AS (SELECT e.vec_id, e.v, sum(e.v[v2.dim::INT] * v2.w) AS d
               FROM e, v2 GROUP BY e.vec_id, e.v),
        s3 AS (SELECT dim, sum(v[dim::INT] * d) AS s FROM d3, dims GROUP BY dim),
        l3 AS (SELECT sqrt(sum(s * s)) AS lam FROM s3)
        SELECT dim, round(s / lam, 6) AS component, round(lam, 4) AS lambda_est
        FROM s3, l3 ORDER BY dim
    """,
    tags=("ext", "embeddings", "iterative"),
)
def n67_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA power iteration: three unrolled iterations of
    v <- normalize((X^T X) v) over the (uncentered) embedding Gramian —
    the top principal direction an embedding-whitening / index-rotation
    step needs. Starts from the deterministic uniform unit vector so both
    engines walk the identical trajectory (sign included).

    Fully distributed — the 64-dim iterate stays a DataFrame end to end
    (no vector ever collects to the driver): per iteration, projections
    d = X v via a broadcast join on dim + vec-keyed sum, then the
    back-projection X^T d via a dim-keyed sum. Each iterate (64 rows) is
    persisted and materialized to cut the lineage, exactly like the
    label-propagation loop in n2f — at 100 TB each iteration is two
    linear passes and the state is 64 rows. The oracle unrolls the same
    three iterations as CTEs.
    """
    from pyspark import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    flat = scope.persist(
        emb.select("vec_id", F.posexplode("v").alias("pos", "x"))
        .select("vec_id", (F.col("pos") + 1).alias("dim"), "x"),
        StorageLevel.MEMORY_AND_DISK,
    )
    w_all = Window.partitionBy(F.lit(1))
    v_t: DataFrame | None = None  # None == uniform 1/8 start vector
    s = lam = None
    for _ in range(3):
        if v_t is None:
            d = flat.groupBy("vec_id").agg((F.sum("x") * 0.125).alias("d"))
        else:
            d = (
                flat.join(F.broadcast(v_t), "dim")
                .groupBy("vec_id")
                .agg(F.sum(F.col("x") * F.col("w")).alias("d"))
            )
        s = (
            flat.join(d, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("x") * F.col("d")).alias("s"))
        )
        lam = F.sqrt(F.sum(F.col("s") * F.col("s")).over(w_all))
        v_t = scope.persist(
            s.select("dim", (F.col("s") / lam).alias("w"), lam.alias("lam")),
            StorageLevel.MEMORY_AND_DISK,
        )
        v_t.count()  # materialize: the next iteration must not replay this one
    return v_t.select(
        "dim",
        F.round("w", 6).alias("component"),
        F.round("lam", 4).alias("lambda_est"),
    ).orderBy("dim")


@declare(
    "n66_hashed_linear_classifier",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
                   AS tok
            FROM documents),
        b AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::INT % 64 AS bucket
              FROM toks),
        feat AS (SELECT doc_id, bucket, count(*) AS c FROM b GROUP BY 1, 2),
        tot AS (SELECT doc_id, sum(c) AS n FROM feat GROUP BY 1),
        scored AS (
            SELECT f.doc_id,
                   sum((f.c / t.n)
                       * ((('0x' || substr(md5('w' || f.bucket::VARCHAR), 1, 4))::INT
                           % 2001 - 1000) / 1000.0)) AS z
            FROM feat f JOIN tot t USING (doc_id) GROUP BY f.doc_id)
        SELECT CAST(floor((1.0 / (1.0 + exp(-10 * z))) * 10) AS INT) AS band,
               count(*) AS n_docs, round(avg(z), 6) AS avg_z
        FROM scored GROUP BY band ORDER BY band
    """,
    tags=("ext", "text", "quality"),
)
def n66_hashed_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier: tokens hash into 64
    feature buckets (md5-derived — engine-portable), per-doc normalized
    bucket frequencies dot a fixed md5-derived weight vector, and the
    logistic score is binned into 10 quality bands. This is the scoring
    shape of classifier-based corpus filters (e.g. quality/ads/toxicity
    models) with the learned weights replaced by a deterministic stand-in.

    Plan: explode -> (doc,bucket) count (one shuffle, partial-agg) ->
    per-doc totals via window-free second rollup on the same key prefix ->
    per-doc weighted sum. The weight "vector" is an expression of the
    bucket id, so there is no weights table to join at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    toks = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("tok")
    )
    bucket = (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % 64)
    feat = (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weight = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), F.col("bucket").cast("string"))), 1, 4),
            16,
            10,
        ).cast("int")
        % 2001
        - 1000
    ) / 1000.0
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    scored = (
        feat.withColumn("n", n)
        .groupBy("doc_id")
        .agg(F.sum((F.col("c") / F.col("n")) * weight).alias("z"))
    )
    band = F.floor((1.0 / (1.0 + F.exp(-10 * F.col("z")))) * 10).cast("int")
    return (
        scored.select(band.alias("band"), "z")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("z"), 6).alias("avg_z"),
        )
        .orderBy("band")
    )


@declare(
    "n68_embedding_standardization",
    oracle="""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        f AS (SELECT vec_id, i, v[i::INT] AS x
              FROM e, unnest(range(1, 65)) AS t(i)),
        st AS (SELECT i AS dim, avg(x) AS mu, stddev_pop(x) AS sigma
               FROM f GROUP BY i),
        z AS (SELECT f.i AS dim, (f.x - st.mu) / st.sigma AS zx
              FROM f JOIN st ON st.dim = f.i)
        -- '+ 0.0' normalizes IEEE negative zero: DuckDB round(-1e-9, 4)
        -- returns -0.0 while Spark returns 0.0 (found by the sf0.1 strict
        -- sweep); the two hash differently
        SELECT z.dim, round(st.mu, 4) + 0.0 AS mu,
               round(st.sigma, 4) + 0.0 AS sigma,
               round(min(zx), 4) + 0.0 AS z_min,
               round(max(zx), 4) + 0.0 AS z_max
        FROM z JOIN st ON st.dim = z.dim
        GROUP BY z.dim, st.mu, st.sigma ORDER BY z.dim
    """,
    tags=("ext", "embeddings"),
)
def n68_embedding_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization (z-score), the index/model
    preprocessing twin of n5's per-vector stats: one posexplode pass
    computes per-dim mean and population stddev (64-key aggregate —
    map-side partial, shuffle carries 64 rows), the stats broadcast back
    onto the exploded frame, and the standardized extrema per dim verify
    the transform. The exploded frame is persisted — it feeds both the
    stats pass and the normalize pass, and Spark shares no subplans
    across branches (SCALING.md pitfall #3).
    """
    from pyspark import StorageLevel

    emb = load_table(spark, sf_dir, "embeddings").select(
        as_double_array("embedding").alias("v")
    )
    flat = scope.persist(
        emb.select(F.posexplode("v").alias("pos", "x"))
        .select((F.col("pos") + 1).alias("dim"), "x"),
        StorageLevel.MEMORY_AND_DISK,
    )
    stats = flat.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sigma")
    )
    z = flat.join(F.broadcast(stats), "dim").select(
        "dim", "mu", "sigma", ((F.col("x") - F.col("mu")) / F.col("sigma")).alias("zx")
    )
    return (
        z.groupBy("dim", "mu", "sigma")
        .agg(F.min("zx").alias("z_min"), F.max("zx").alias("z_max"))
        .select(
            "dim",
            (F.round("mu", 4) + 0.0).alias("mu"),
            (F.round("sigma", 4) + 0.0).alias("sigma"),
            (F.round("z_min", 4) + 0.0).alias("z_min"),
            (F.round("z_max", 4) + 0.0).alias("z_max"),
        )
        .orderBy("dim")
    )


@declare(
    "n69_hard_negative_mining",
    oracle="""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
              FROM e WHERE vec_id < 5),
        sims AS (
            SELECT q.query_id, e.vec_id AS negative_id, e.label AS neg_label,
                   list_dot_product(q.qv, e.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.v, e.v))) AS sim
            FROM q CROSS JOIN e
            WHERE e.label <> q.q_label),
        ranked AS (
            SELECT query_id, negative_id, neg_label, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, negative_id) AS rank
            FROM sims)
        SELECT query_id, negative_id, neg_label, rank, round(sim, 4) AS sim
        FROM ranked WHERE rank <= 3
        ORDER BY query_id, rank
    """,
    tags=("ext", "embeddings", "training-data"),
)
def n69_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the highest-cosine corpus vectors with a DIFFERENT label —
    the near-miss negatives that make embedding models learn boundaries
    (vs easy random negatives). Same broadcast-queries x streamed-corpus
    shape as n3_topk_cosine with a label-inequality predicate; at 100 TB
    the candidate set would be pre-pruned by the ANN index (n3b/n3c)
    before the exact rerank here."""
    from iceberg_v2_to_v3_upgrade_spark.functions.arrays import (
        cosine_similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    sims = emb.join(
        F.broadcast(queries), F.col("label") != F.col("q_label")
    ).select(
        "query_id",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        cosine_similarity(F.col("qv"), F.col("v")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("negative_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "negative_id",
            "neg_label",
            "rank",
            F.round("sim", 4).alias("sim"),
        )
        .orderBy("query_id", "rank")
    )


@declare(
    "n70_epoch_shuffle",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, e.epoch,
                   ('0x' || substr(md5(e.epoch::VARCHAR || ':'
                                       || doc_id::VARCHAR), 1, 2))::INT % 8
                       AS shard,
                   md5(e.epoch::VARCHAR || ':' || doc_id::VARCHAR) AS ord
            FROM documents, unnest([0, 1]) AS e(epoch)),
        ranked AS (
            SELECT epoch, shard, doc_id,
                   row_number() OVER (PARTITION BY epoch, shard
                                      ORDER BY ord) AS pos
            FROM keyed)
        SELECT epoch, shard, doc_id, pos FROM ranked
        WHERE pos <= 5 ORDER BY epoch, shard, pos
    """,
    tags=("ext", "sampling", "training-data"),
)
def n70_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch data shuffling, the distributed way: each
    epoch assigns every doc an md5(epoch:doc_id) order key, docs hash into
    shards, and position is ranked WITHIN the shard — shard-then-local-
    order is how epoch shuffles actually run at scale (a global
    row_number would be a single-task sort; per-shard windows are
    embarrassingly parallel). Different epochs produce provably different
    but exactly reproducible orders — the audit trail for "which sample
    did the model see at step N"."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    ).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        ).alias("ord"),
    ).select(
        "epoch",
        "doc_id",
        "ord",
        (F.conv(F.substring("ord", 1, 2), 16, 10).cast("int") % 8).alias(
            "shard"
        ),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("ord")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 5)
        .select("epoch", "shard", "doc_id", "pos")
        .orderBy("epoch", "shard", "pos")
    )


@declare(
    "n72_ngram_novelty_rate",
    oracle="""
        WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
                   FROM documents),
        g AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(list_slice(w, i + 1, i + 3), ' ') AS gram
            FROM d, unnest(range(greatest(len(w) - 2, 0))) AS t(i)),
        first AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
        per_doc AS (
            SELECT g.doc_id, g.source,
                   count(*) AS n_grams,
                   sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM g JOIN first f ON f.gram = g.gram
            GROUP BY g.doc_id, g.source)
        SELECT source, count(*) AS n_docs,
               round(avg(n_novel / n_grams), 6) AS avg_novelty,
               round(min(n_novel / n_grams), 6) AS min_novelty
        FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("ext", "dedup", "diagnostics"),
)
def n72_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each document (in doc_id = crawl order),
    the fraction of its distinct 3-gram shingles never seen in any earlier
    document — the marginal-information metric that tells a data pipeline
    when additional crawl of a source stops adding content (novelty → 0
    means the source is mined out; min_novelty == 0 flags pure rehashes).

    Shape: one shingle explode (linear), a gram-keyed min to find first
    occurrences (map-side partial on a high-entropy key), one gram-keyed
    join back, and a doc-then-source rollup — no pair joins anywhere, so
    unlike the near-dup ops this redundancy diagnostic costs O(corpus)
    even when the corpus is pure duplicates."""
    from iceberg_v2_to_v3_upgrade_spark.functions.hashing import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    # round-10: (a) repartition before the explode (single-file scan =
    # single-core shingling) and persist it — g previously re-ran the
    # explode for each of its two consumers; (b) the novelty join moves
    # from GRAM level (corpus-sized) to DOC level: a gram's min-doc
    # row contributes exactly one novel gram to that doc, so
    # count-by-first_doc == the old per-doc sum of first_doc==doc_id —
    # identical counts, and the join now touches |docs| rows, not
    # |grams|.
    par = spark.sparkContext.defaultParallelism
    g = scope.persist(docs.repartition(par).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("text"), 3)).alias("gram"),
    ))
    novel = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    sizes = g.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    per_doc = sizes.join(novel, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
    )
    novelty = F.col("n_novel") / F.col("n_grams")
    out = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(novelty), 6).alias("avg_novelty"),
            F.round(F.min(novelty), 6).alias("min_novelty"),
        )
        .orderBy("source")
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@declare(
    "n73_weighted_sample",
    oracle="""
        WITH keyed AS (
            SELECT source, doc_id, n_chars,
                   -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                        + 1) / 4294967297.0) / n_chars AS k
            FROM documents WHERE n_chars > 0),
        r AS (SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source ORDER BY k) AS rk
              FROM keyed)
        SELECT source, doc_id, n_chars, rk FROM r WHERE rk <= 3
        ORDER BY source, rk
    """,
    tags=("ext", "sampling", "training-data"),
)
def n73_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, one pass, no global state:
    the Efraimidis-Spirakis exponential-key trick — each doc draws
    u ~ U(0,1) (here md5-derived, so the draw is reproducible across
    engines and cluster sizes) and the k smallest -ln(u)/weight keys per
    group are exactly a weight-proportional sample. This is how a
    training-data pipeline samples documents proportional to length (or
    quality score) at 100 TB: a pure projection plus a top-k per group,
    no rejection loops, no prefix sums, no second pass.

    Key collisions are measure-zero; the only cross-engine hazard is a
    final-ulp ln() difference flipping two nearly-equal keys, which the
    continuous key distribution makes negligible."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1
    ) / 4294967297.0
    key = -F.log(u) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(key.asc())
    return (
        docs.select(
            "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 3)
        .orderBy("source", "rk")
    )
