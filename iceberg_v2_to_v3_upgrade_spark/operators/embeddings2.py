"""[EXT] Embedding analytics over ``embeddings``, part 2: per-label
centroid cohesion and leave-one-out kNN label prediction.

Same contract as operators/embeddings.py / similarity.py: array math via
built-in higher-order functions cast to double (bit-compatible with the
DuckDB oracle's DOUBLE[] fold), broadcasts for the small side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.functions.arrays import (
    as_double_array,
)
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare

_CENTROID_ORACLE = """
    WITH e AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding::DOUBLE[]) AS val
        FROM embeddings),
    c AS (SELECT label, pos, avg(val) AS cval FROM e GROUP BY label, pos),
    d AS (
        SELECT e.vec_id, e.label,
               sum(e.val * c.cval) AS dot,
               sqrt(sum(e.val * e.val)) AS vnorm
        FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
        GROUP BY e.vec_id, e.label),
    cn AS (SELECT label, sqrt(sum(cval * cval)) AS cnorm FROM c GROUP BY label)
    SELECT d.label, count(*) AS n_vecs,
           round(avg(dot / (vnorm * cnorm)), 6) AS avg_cos
    FROM d JOIN cn ON d.label = cn.label
    GROUP BY d.label ORDER BY d.label
"""


@declare(
    "n44_label_centroid_cohesion",
    oracle=_CENTROID_ORACLE,
    tags=("ext", "embeddings", "clustering"),
)
def n44_label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster cohesion per label: mean cosine similarity of each vector
    to its label's centroid — the quality probe run after any clustering
    or labeling pass.

    Shape: posexplode to (label, pos) cells, grouped mean -> centroids
    (|labels| x dim rows, broadcast back), then a per-vector dot/norm
    rollup keyed on vec_id. Both aggregations get map-side combine; the
    dim-fold per vector happens inside one exchange, so total cost is two
    linear passes regardless of corpus size.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(as_double_array("embedding")).alias("pos", "val")
    )
    c = e.groupBy("label", "pos").agg(F.avg("val").alias("cval"))
    d = (
        e.join(F.broadcast(c), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("val") * F.col("cval")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vnorm"),
        )
    )
    cn = c.groupBy("label").agg(
        F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm")
    )
    return (
        d.join(F.broadcast(cn), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.avg(F.col("dot") / (F.col("vnorm") * F.col("cnorm"))), 6
            ).alias("avg_cos"),
        )
        .orderBy("label")
    )


_KNN_K = 5
_QUERY_MOD = 25  # vec_id % 25 == 0 -> leave-one-out query sample

_KNN_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv
          FROM e WHERE vec_id % {_QUERY_MOD} = 0),
    sims AS (
        SELECT q.q_id, q.true_label, e.label,
               list_dot_product(q.qv, e.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.v, e.v))) AS sim,
               e.vec_id
        FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id),
    top AS (
        SELECT q_id, true_label, label
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                           ORDER BY sim DESC, vec_id) AS r
              FROM sims)
        WHERE r <= {_KNN_K}),
    votes AS (
        SELECT q_id, true_label, label AS pred_label, count(*) AS n_votes
        FROM top GROUP BY q_id, true_label, label),
    best AS (
        SELECT q_id, true_label, pred_label, n_votes
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                           ORDER BY n_votes DESC, pred_label) AS r
              FROM votes)
        WHERE r = 1)
    SELECT q_id, true_label, pred_label, n_votes,
           CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct
    FROM best ORDER BY q_id
"""


@declare(
    "n45_knn_label_accuracy",
    oracle=_KNN_ORACLE,
    tags=("ext", "embeddings", "similarity"),
)
def n45_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label prediction on a deterministic query sample
    (vec_id % {mod} == 0): majority label of the top-{k} cosine neighbors,
    with tie-breaks on (votes desc, label) — the standard embedding-space
    sanity check (do neighbors share labels?).

    Queries are broadcast and the corpus streams past them once, exactly
    the n3_topk_cosine scan shape; the vote rollup is bounded by
    |queries| x k rows. Cosine reuses the sequential-fold helpers so the
    sim values (and therefore the neighbor ranking) match the oracle's
    DOUBLE[] math bit for bit.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double_array("embedding").alias("v")
    )
    # Query sample x streamed corpus via broadcast-GEMM (n2e's
    # machinery; round-10 optimization — the broadcast-join form paid
    # three interpreted HOF folds per PAIR). Dots and norms accumulate
    # PER DIMENSION, the exact IEEE op sequence of the sequential fold,
    # so every sim (and therefore the neighbor ranking) is bit-identical
    # to the oracle's DOUBLE[] math. The collect is the 1-in-25 query
    # SAMPLE — k-bounded, not corpus-shaped.
    q_rows = e.filter(F.col("vec_id") % _QUERY_MOD == 0).collect()
    if not q_rows:
        sims = spark.createDataFrame(
            [],
            "q_id long, true_label int, label int, vec_id long, sim double",
        )
    else:
        import numpy as np

        q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
        q_lab = np.array([r["label"] for r in q_rows], dtype=np.int64)
        q_mat = np.array([r["v"] for r in q_rows], dtype=np.float64)

        def _fold_norms(mat: "np.ndarray") -> "np.ndarray":
            acc = np.zeros(mat.shape[0], dtype=np.float64)
            for i in range(mat.shape[1]):
                acc = acc + mat[:, i] * mat[:, i]
            return np.sqrt(acc)

        q_nrm = _fold_norms(q_mat)
        bc = scope.broadcast(spark, (q_ids, q_lab, q_mat, q_nrm))

        def sim_blocks(batches):
            import pandas as pd

            ids_q, lab_q, mat_q, nrm_q = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                c_lab = pdf["label"].to_numpy(dtype=np.int64)
                c_mat = np.array(list(pdf["v"]), dtype=np.float64)
                c_nrm = _fold_norms(c_mat)
                nq = len(ids_q)
                acc = np.zeros((nq, len(c_ids)), dtype=np.float64)
                for i in range(mat_q.shape[1]):
                    acc = acc + mat_q[:, i, None] * c_mat[None, :, i]
                # cosine_similarity(qv, v) = dot / (l2(qv) * l2(v));
                # IEEE multiply is commutative, so the product order
                # below is bit-identical to the column form
                sim = acc / (nrm_q[:, None] * c_nrm[None, :])
                qi, cj = np.nonzero(c_ids[None, :] != ids_q[:, None])
                yield pd.DataFrame(
                    {
                        "q_id": ids_q[qi],
                        "true_label": lab_q[qi],
                        "label": c_lab[cj],
                        "vec_id": c_ids[cj],
                        "sim": sim[qi, cj],
                    }
                )

        par = spark.sparkContext.defaultParallelism
        sims = e.repartition(par).mapInPandas(
            sim_blocks,
            "q_id long, true_label int, label int, vec_id long, sim double",
        )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    top = (
        sims.withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= _KNN_K)
        .select("q_id", "true_label", F.col("label").alias("pred_label"))
    )
    votes = top.groupBy("q_id", "true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("pred_label")
    )
    return (
        votes.withColumn("r", F.row_number().over(w_vote))
        .filter(F.col("r") == 1)
        .select(
            "q_id",
            "true_label",
            "pred_label",
            "n_votes",
            F.when(F.col("pred_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("correct"),
        )
        .orderBy("q_id")
    )
