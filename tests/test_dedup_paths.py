"""The two exact physical strategies behind n2e_embedding_cosine_neardup
must produce identical pairs — the oracle covers whichever path the
size-guard picks, so path equivalence is the invariant that keeps the
guard safe (VERDICT.md round-1 item 5: no unconditional full-corpus
collect on any data path).
"""

from __future__ import annotations

from iceberg_v2_to_v3_upgrade_spark import scope
from iceberg_v2_to_v3_upgrade_spark.io import load_table
from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
    _cosine_neardup_block_grid,
    _cosine_neardup_broadcast_gemm,
)

from tests.conftest import SF_SMALL


def _pairs(df):
    return sorted((r.vec_a, r.vec_b, r.cos_sim) for r in df.collect())


def test_block_grid_matches_broadcast_gemm(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    exact = _pairs(_cosine_neardup_broadcast_gemm(spark, emb, emb.collect()))
    assert exact, "fixture should contain near-dup pairs"
    # small block count so every grid-cell shape (diagonal, off-diagonal,
    # smaller-id-in-higher-block) occurs on the tiny fixture
    grid = _pairs(_cosine_neardup_block_grid(spark, emb, n_blocks=4))
    assert grid == exact


def test_block_grid_single_block_degenerate(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    exact = _pairs(_cosine_neardup_broadcast_gemm(spark, emb, emb.collect()))
    assert _pairs(_cosine_neardup_block_grid(spark, emb, n_blocks=1)) == exact


def test_broadcast_guard_threshold_is_bounded():
    # the guard must stay a real bound (not float("inf") snuck in later):
    # 500k rows x 64 dims x 8 bytes = 256 MB broadcast, the documented cap
    assert scope.DRIVER_MAX_ROWS <= 1_000_000


def test_per_row_minhash_sig_matches_grouped_formulation(spark):
    """The stateless per-row HOF signature (streaming ingest path, l9) and
    the explode->grouped-min signature (batch corpus path, n2h) must
    produce bit-identical signatures — one hash definition, two physical
    strategies."""
    from pyspark.sql import functions as F

    from iceberg_v2_to_v3_upgrade_spark.functions.hashing import word_shingles
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _MH_SEEDS,
        md5_minhash_sig,
    )

    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    per_row = docs.select(
        "doc_id", md5_minhash_sig(word_shingles(F.col("text"), 3)).alias("sig")
    )
    exploded = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("sh")
    )
    grouped = exploded.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(str(s)), F.col("sh"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
            ).alias(f"_h{s}")
            for s in range(_MH_SEEDS)
        ]
    )
    grouped_sig = grouped.select(
        "doc_id",
        F.array(*[F.col(f"_h{s}") for s in range(_MH_SEEDS)]).alias("sig"),
    )
    a = {r.doc_id: list(r.sig) for r in per_row.collect()}
    b = {r.doc_id: list(r.sig) for r in grouped_sig.collect()}
    assert a == b


def test_positional_filter_never_drops_true_pairs(spark):
    """Round-9: the PPJoin positional filter added to
    _exact_jaccard_pairs must be a pure candidate PRUNE — verified
    pairs identical to the brute-force all-pairs Jaccard at several
    taus over corpora engineered with high-overlap, partial-overlap,
    disjoint, and clone documents."""
    import itertools

    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _exact_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        base,
        base + " tail one",
        base + " tail two extra",
        "the quick brown fox jumps over the lazy dog",
        "completely different words in this entirely unrelated doc here",
        "completely different words in this entirely unrelated doc there",
        "short text only",
        base.replace("quick", "slow"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    )

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 0))}

    for tau in (0.5, 0.7, 0.8):
        want = set()
        for a, b in itertools.combinations(range(len(texts)), 2):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= tau:
                want.add((a, b))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in _exact_jaccard_pairs(docs, tau=tau).collect()
        }
        assert got == want, (tau, got ^ want)


def test_star_components_match_union_find_on_random_graphs(spark):
    """_star_components (round-10 large-star/small-star) must agree with
    an exact driver-side union-find on arbitrary graphs. (The old
    min-label propagation is NOT usable as the oracle here: on
    diameter-10+ random graphs its per-round plan doubling blows the
    analyzer heap — the exact weakness star contraction removes.)"""
    import random

    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _star_components,
    )

    def union_find(pairs):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(101)
    for trial in range(4):
        n = rng.choice([12, 40, 80])
        m = rng.randint(n // 2, 2 * n)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        df = spark.createDataFrame(pairs, "a BIGINT, b BIGINT")
        # no stats -> size-gated DRIVER union-find path (round-10)
        fast = {
            (r["id"], r["label"]) for r in _star_components(df).collect()
        }
        # stats forces the DISTRIBUTED contraction path
        star = {
            (r["id"], r["label"])
            for r in _star_components(df, stats={}).collect()
        }
        want = set(union_find(pairs).items())
        assert fast == want, (trial, fast ^ want)
        assert star == want, (trial, star ^ want)


def test_star_components_round_bound_on_chain(spark):
    """The iteration pin (round-10 verdict item 6): a 256-link chain has
    diameter 256 — min-label propagation needs ~256 rounds; star
    contraction must converge in O(log² n), pinned here at <= 12
    alternations, labeling every node with the chain min."""
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _star_components,
    )

    n = 257  # nodes 0..256 in one chain
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a BIGINT, b BIGINT"
    )
    stats: dict = {}
    out = _star_components(df, stats=stats).collect()
    assert {(r["id"], r["label"]) for r in out} == {
        (i, 0) for i in range(n)
    }
    assert 0 < stats["rounds"] <= 12, stats


def test_star_components_singleton_and_empty(spark):
    from iceberg_v2_to_v3_upgrade_spark.operators.dedup import (
        _star_components,
    )

    empty = spark.createDataFrame([], "a BIGINT, b BIGINT")
    assert _star_components(empty).collect() == []
    loops = spark.createDataFrame([(7, 7), (7, 9)], "a BIGINT, b BIGINT")
    got = {
        (r["id"], r["label"]) for r in _star_components(loops).collect()
    }
    assert got == {(7, 7), (9, 7)}
