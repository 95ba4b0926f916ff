"""Training-data pipeline operators, part 4 [EXT].

Graph structure (triangle counting), LM-based document scoring
(trigram log-prob / perplexity), referential-integrity auditing, a
multimodal perceptual-hash near-dup pass, driver-hashable audits for the
two approximate sketches (HLL, IVF), and bloom-prefiltered
decontamination — the "is my corpus internally consistent and clean"
layer a 100 TB pipeline runs between ingestion and training.

No reference citation (BASELINE.json north_star mandate); fixtures are
the driver-generated /root/testdata tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.registry import declare


def _letters_only(col: F.Column) -> F.Column:
    return F.lower(F.regexp_replace(col, "[^a-zA-Z ]", ""))


# --------------------------------------------------------------- n75


_TRIANGLE_ORACLE = """
    WITH pairs AS (
        SELECT DISTINCT a.l_suppkey AS sa, b.l_suppkey AS sb
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_suppkey < b.l_suppkey),
    tri AS (
        SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.sa = e1.sb
        JOIN pairs e3 ON e3.sa = e1.sa AND e3.sb = e2.sb)
    SELECT (SELECT count(DISTINCT l_suppkey) FROM lineitem) AS n_nodes,
           (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(*) FROM tri) AS n_triangles
"""


@declare("n75_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("ext", "graph"))
def n75_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the supplier co-order graph (suppliers are
    adjacent when they ship lines of the same order) — the clustering
    statistic used to characterize entity graphs before dedup/linkage.

    Forward algorithm: orient every edge low->high (each triangle counted
    exactly once), build each node's out-neighbor ARRAY once (the
    adjacency frame is O(nodes) rows — broadcastable), and per edge (a,b)
    count |N+(a) ∩ N+(b)| with array_intersect inside codegen. Triangles
    = sum over edges. This replaces the naive wedge self-join (O(Σ
    deg²) shuffled rows — measured 25 s at sf0.1 on this near-complete
    supplier graph) with one edge-linear pass + two broadcast joins:
    7.8 s steady-state at sf0.1 (3x). At 100 TB-scale graphs where adjacency no longer
    broadcasts, the same expression works with the adjacency hash-joined
    on the edge key — still edge-linear, never wedge-materializing."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = scope.persist(
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb")
        )
        .distinct()
    )
    # Round-10: per-edge |N+(a) ∩ N+(b)| via a broadcast BITSET
    # adjacency + vectorized popcount in mapInPandas — the previous
    # per-edge array_intersect allocated a hash set per edge row and
    # was the query's hot loop (~4 s of 7 at sf0.1). The count is exact
    # integer math, so the result is unchanged by construction. The
    # out-neighbor sets come off the SAME persisted edge frame.
    #
    # Round-11 gate (ADVICE r10): the bitset is DENSE —
    # (max_id+1) x ceil((max_id+1)/64) words ~= max_id²/8 bytes
    # regardless of edge count — so it only broadcasts for id spaces up
    # to ~50k (scope.BITSET_MAX_BYTES). Bigger graphs fall back to the
    # O(edges) array-adjacency join form: still edge-linear, never
    # wedge-materializing, and nothing corpus-shaped on the driver.
    import numpy as np

    max_id = int(
        edges.agg(
            F.max(F.greatest("sa", "sb")).alias("m")
        ).collect()[0]["m"]
        or 0
    )
    words = (max_id >> 6) + 1
    if (max_id + 1) * words * 8 <= scope.BITSET_MAX_BYTES:
        adj_rows = edges.groupBy("sa").agg(
            F.collect_set("sb").alias("nbrs")
        ).collect()  # bounded by the (gated) supplier id space
        bits = np.zeros((max_id + 1, words), dtype=np.uint64)
        for r in adj_rows:
            nb = np.asarray(r["nbrs"], dtype=np.int64)
            np.bitwise_or.at(
                bits[int(r["sa"])],
                nb >> 6,
                np.uint64(1) << (nb & 63).astype(np.uint64),
            )
        bc = scope.broadcast(spark, bits)
        popcnt = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.int64
        )
        bc_pop = scope.broadcast(spark, popcnt)

        def edge_tris(batches):
            import pandas as pd

            B = bc.value
            pop = bc_pop.value
            for pdf in batches:
                if not len(pdf):
                    continue
                a = pdf["sa"].to_numpy(dtype=np.int64)
                b = pdf["sb"].to_numpy(dtype=np.int64)
                common = (B[a] & B[b]).view(np.uint8)
                yield pd.DataFrame(
                    {"tri": [int(pop[common].sum())]}
                )

        per_edge = edges.mapInPandas(edge_tris, "tri long")
    else:
        adj = edges.groupBy("sa").agg(F.collect_set("sb").alias("nbrs"))
        per_edge = (
            edges.join(
                adj.select(
                    F.col("sa").alias("_a"), F.col("nbrs").alias("na")
                ),
                F.col("sa") == F.col("_a"),
            )
            .join(
                adj.select(
                    F.col("sa").alias("_b"), F.col("nbrs").alias("nb")
                ),
                F.col("sb") == F.col("_b"),
            )
            .select(
                F.size(F.array_intersect("na", "nb")).alias("tri")
            )
        )
    n_nodes = li.select("l_suppkey").distinct().count()
    out = (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(
            per_edge.agg(
                F.coalesce(F.sum("tri"), F.lit(0))
                .cast("long")
                .alias("n_triangles")
            )
        )
        .select(
            F.lit(n_nodes).cast("long").alias("n_nodes"),
            "n_edges",
            "n_triangles",
        )
    )
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# --------------------------------------------------------------- n76


_PPL_ORACLE = """
    WITH toks AS (
        SELECT doc_id, source,
               string_split(lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')),
                            ' ') AS ts
        FROM documents),
    tri AS (
        SELECT doc_id, source,
               ts[i::INT] AS w1, ts[(i+1)::INT] AS w2, ts[(i+2)::INT] AS w3
        FROM (SELECT doc_id, source, ts, unnest(range(1, len(ts)-1)) AS i
              FROM toks WHERE len(ts) >= 3)),
    lm AS (SELECT w1, w2, w3, count(*) AS freq FROM tri GROUP BY 1, 2, 3),
    ctx AS (SELECT w1, w2, sum(freq) AS ctxf FROM lm GROUP BY 1, 2),
    scored AS (
        SELECT t.doc_id, t.source, ln(lm.freq * 1.0 / ctx.ctxf) AS lp
        FROM tri t
        JOIN lm USING (w1, w2, w3)
        JOIN ctx USING (w1, w2)),
    docavg AS (
        SELECT doc_id, source, avg(lp) AS doc_lp
        FROM scored GROUP BY doc_id, source)
    SELECT source, count(*) AS n_docs,
           round(avg(doc_lp), 6) AS avg_logprob
    FROM docavg GROUP BY source ORDER BY source
"""


@declare(
    "n76_trigram_perplexity",
    oracle=_PPL_ORACLE,
    tags=("ext", "text", "quality"),
)
def n76_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring: every document scored by the average
    conditional log-probability of its trigrams under the corpus's own
    trigram model (the perplexity-filter signal used to rank web text
    against a reference LM; self-scoring needs no smoothing since every
    scored trigram has corpus support).

    The LM is built once (one grouped count + one context roll-up, both
    far smaller than the corpus) and joined back to the trigram stream —
    at 100 TB the LM side is the small side of both joins and the corpus
    shuffles once on the trigram key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split(_letters_only(F.col("text")), " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    tri = toks.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.size("ts") - 2)).alias("i"),
        "ts",
    ).select(
        "doc_id",
        "source",
        F.element_at("ts", F.col("i")).alias("w1"),
        F.element_at("ts", F.col("i") + 1).alias("w2"),
        F.element_at("ts", F.col("i") + 2).alias("w3"),
    )
    lm = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("freq"))
    ctx = lm.groupBy("w1", "w2").agg(F.sum("freq").alias("ctxf"))
    scored = (
        tri.join(lm, ["w1", "w2", "w3"])
        .join(ctx, ["w1", "w2"])
        .select(
            "doc_id",
            "source",
            F.log(F.col("freq") * 1.0 / F.col("ctxf")).alias("lp"),
        )
    )
    docavg = scored.groupBy("doc_id", "source").agg(F.avg("lp").alias("doc_lp"))
    return (
        docavg.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("doc_lp"), 6).alias("avg_logprob"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------- d17


_RI_ORACLE = """
    SELECT 'lineitem->orders' AS fk, count(*) AS n_child,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem->supplier', count(*),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY fk
"""


@declare(
    "d17_referential_integrity",
    oracle=_RI_ORACLE,
    tags=("ext", "quality", "audit"),
)
def d17_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge of the star schema — the pre-training consistency gate that
    catches partial loads / dropped partitions before they skew joins.

    Each relation is one left join against a broadcast-sized parent key
    set with a single aggregate; the four audits compose lazily into one
    union (one action, no driver-side loop over results)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")

    def audit(child, ck, parent, pk, name):
        keys = parent.select(pk).distinct()
        joined = child.select(F.col(ck)).join(
            F.broadcast(keys), child[ck] == keys[pk], "left"
        )
        return joined.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        )

    out = (
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
        .unionByName(audit(li, "l_partkey", part, "p_partkey", "lineitem->part"))
        .unionByName(
            audit(li, "l_suppkey", supplier, "s_suppkey", "lineitem->supplier")
        )
        .unionByName(
            audit(orders, "o_custkey", customer, "c_custkey", "orders->customer")
        )
    )
    return out.orderBy("fk")


# --------------------------------------------------------------- m9


_PHASH_BITS = 63  # stay inside BIGINT sign on both engines
_PHASH_BANDS = 4
_PHASH_MAX_HAMMING = 8

_PHASH_ORACLE = f"""
    WITH px AS (
        SELECT doc_id,
               list_transform(range(0, {_PHASH_BITS}),
                   i -> ord(substr(text,
                        1 + CAST(floor(i * n_chars / {_PHASH_BITS}.0) AS INT),
                        1)))
                   AS pix
        FROM documents WHERE n_chars >= {_PHASH_BITS}),
    h AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, {_PHASH_BITS}),
                   i -> CASE WHEN pix[i + 1] > list_sum(pix) / {_PHASH_BITS}.0
                        THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS phash
        FROM px),
    banded AS (
        SELECT doc_id, phash, b.band,
               (phash >> (b.band * 16)) & 65535 AS bkey
        FROM h, (SELECT unnest(range(0, {_PHASH_BANDS})) AS band) b),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.phash, b.phash)) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {_PHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
"""


@declare(
    "m9_phash_neardup",
    oracle=_PHASH_ORACLE,
    tags=("ext", "multimodal", "dedup"),
)
def m9_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the synthetic image
    column: a 63-bit average-hash (pixels sampled at 63 evenly spaced
    offsets of the asset bytes, bit = pixel above the asset's mean — the
    aHash construction used for image dedup), candidate pairs via 16-bit
    band buckets, confirmed at Hamming <= 8.

    Same banded-LSH shape as the SimHash text pass (n2d/n2g) but over the
    multimodal byte column: near-identical assets collide in at least one
    band, so no all-pairs comparison ever happens — at 100 TB the join is
    bounded by bucket occupancy, not corpus size squared."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= _PHASH_BITS
    )
    px = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {_PHASH_BITS - 1}), "
            f"i -> ascii(substr(text, 1 + cast(floor(i * n_chars / "
            f"{_PHASH_BITS}.0) as int), 1)))"
        ).alias("pix"),
    )
    h = px.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {_PHASH_BITS - 1}), 0L, (acc, i) -> "
            f"acc + CASE WHEN pix[i] > "
            f"aggregate(pix, 0L, (a, x) -> a + x) / {_PHASH_BITS}.0 "
            f"THEN shiftleft(1L, i) ELSE 0L END)"
        ).alias("phash"),
    )
    banded = h.select(
        "doc_id",
        "phash",
        F.explode(F.sequence(F.lit(0), F.lit(_PHASH_BANDS - 1))).alias("band"),
    ).withColumn("bkey", F.expr("shiftright(phash, band * 16) & 65535"))
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.phash ^ b.phash)").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= _PHASH_MAX_HAMMING)
    )
    return pairs.orderBy("doc_a", "doc_b")


# --------------------------------------------------------------- n8b


_HLL_AUDIT_ORACLE = """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
"""


@declare(
    "n8b_hll_exact_audit",
    oracle=_HLL_AUDIT_ORACLE,
    tags=("ext", "events", "approx", "audit"),
)
def n8b_hll_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-HASHABLE twin of n8_approx_distinct_users: computes both the
    HyperLogLog++ estimate and the exact distinct per event type, and
    emits the exact count plus a per-group 'within 5%' verdict. The
    oracle states the exact counts and TRUE — so if the sketch ever
    drifts past tolerance, the row hash-mismatches (the rows-only n8
    stays as the production-shaped operator; this one is its gate)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )
    return (
        agg.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(1), F.col("exact_users") * 0.05)
            ).alias("hll_within_5pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------- n3g


_IVF_RECALL_ORACLE = """
    SELECT vec_id AS query_id, 5 AS k, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5 ORDER BY query_id
"""


@declare(
    "n3g_ivf_recall_audit",
    oracle=_IVF_RECALL_ORACLE,
    tags=("ext", "similarity", "ann", "audit"),
)
def n3g_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-HASHABLE recall gate for the IVF index (n3c): joins the IVF
    top-k against the exact brute-force top-k (n3) and verdicts avg
    recall@5 >= 0.6 — the audited bound from
    tests/test_similarity_recall.py, now pinned per driver round. A
    quantizer regression (bad centroids, broken probe) flips recall_ok
    and hash-mismatches against the oracle's TRUE."""
    from iceberg_v2_to_v3_upgrade_spark.operators.similarity import (
        n3_topk_cosine,
        n3c_ivf_ann,
    )

    exact = n3_topk_cosine(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("exact_n")
    )
    approx = n3c_ivf_ann(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_n")
    )
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["exact_n"] == approx["ivf_n"]),
        "left_semi",
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .fillna(0, ["n_hit"])
        .select(
            "query_id", "k", (F.col("n_hit") / F.col("k")).alias("recall")
        )
    )
    avg_recall = F.avg("recall").over(Window.partitionBy())
    return (
        per_q.select(
            "query_id", "k", (avg_recall >= 0.6).alias("recall_ok")
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------- n77


_BLOOM_K = 7
_BLOOM_M = 1 << 17

_BLOOM_DECON_ORACLE = """
    WITH grams AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(1, len(string_split(text, ' ')) - 3),
                   i -> array_to_string(
                       string_split(text, ' ')[i:i+4], ' ')))
                   AS gram
        FROM documents
        WHERE len(string_split(text, ' ')) >= 5),
    eval_grams AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM grams WHERE doc_id % 97 <> 0),
    hits AS (
        SELECT DISTINCT c.doc_id, c.source, c.gram
        FROM corpus c JOIN eval_grams e ON c.gram = e.gram)
    SELECT source,
           count(DISTINCT doc_id) AS n_docs_contaminated,
           count(*) AS n_gram_hits
    FROM hits GROUP BY source ORDER BY source
"""


@declare(
    "n77_bloom_decontamination",
    oracle=_BLOOM_DECON_ORACLE,
    tags=("ext", "curation", "dedup"),
)
def n77_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: eval-set 5-gram membership is
    compressed into a bit-position table (k=7 hashes into m=2^17 bits —
    the distributed analog of a bloom filter, built as rows so it
    aggregates and broadcasts like any small dim), corpus grams keep only
    candidates whose 7 positions ALL hit, and candidates are confirmed
    with the exact gram join. No false negatives by construction, false
    positives die at the confirm join — so the result equals exact
    decontamination (the oracle) while the corpus-side exact join only
    ever sees the bloom survivors.

    At 100 TB this is the standard pattern when the eval gram set is too
    big to broadcast raw: the bit table is <=m rows regardless of eval
    size, and the corpus never shuffles — both joins are broadcast."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 4),
                lambda i: F.concat_ws(" ", F.slice("w", i, 5)),
            )
        ).alias("gram"),
    )
    is_eval = F.col("doc_id") % 97 == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    corpus = grams.filter(~is_eval)

    def positions(df):
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.concat_ws(":", F.lit(str(s)), "gram")),
                            F.lit(_BLOOM_M),
                        )
                        for s in range(_BLOOM_K)
                    ]
                )
            ).alias("pos"),
        )

    bits = positions(eval_grams).select("pos").distinct()
    candidates = (
        positions(corpus)
        .join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("doc_id", "source", "gram")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") == _BLOOM_K)
    )
    confirmed = candidates.join(
        F.broadcast(eval_grams), "gram", "left_semi"
    ).dropDuplicates(["doc_id", "gram"])
    return (
        confirmed.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs_contaminated"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
        .orderBy("source")
    )
