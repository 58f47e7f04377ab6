"""SemDeDup — semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540).

Where MinHash/SimHash find near-identical TEXT, SemDeDup finds
semantically redundant documents whose embeddings nearly coincide —
the standard web-scale companion pass. The structure:

1. **Normalize** embeddings to the unit sphere (the paper's setup).
   After normalization, L2 k-means is cosine clustering, and a scaled
   copy of a vector becomes bitwise the same direction — so duplicate
   detection is invariant to embedding magnitude.
2. **Cluster** with the one deterministic k-means
   (:mod:`exosql_spark.operators.clustering`): numpy Lloyd with
   farthest-first seeding on a bounded hash-ordered sample, then one
   assignment map fused into the scan — literal centroids, or the
   Arrow-batched argmin at large k.
3. **Pair search within clusters only**: a self equi-join on the
   cluster id. This is the whole point at scale — candidate work is
   Σ_c |c|² instead of n²; with k sized so clusters hold ~n/k ≈ 10⁴
   vectors, a 10⁹-vector corpus does 10⁹·10⁴ comparisons spread over
   the cluster key space instead of 10¹⁸. ``max_cluster`` caps
   degenerate clusters the same way dedup's LSH bucket cap does
   (quadratic-bucket guard); raise k instead when the cap trips often.
4. **Exact cosine verify** inside the pairs (JVM zip_with/aggregate),
   keep pairs ≥ threshold, drop all but the lowest id per duplicate
   group (the anti-join convention the curation pipeline uses).

Beyond-reference extension (serverboards/exosql has no vector
surface); complements dedup.py (text near-dup) and similarity.py
(ANN search) — same bucketed-not-all-pairs discipline.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exosql_spark.cache import managed_persist

from exosql_spark.operators.similarity import _cosine_sql, _norm, cosine  # noqa: F401 — cosine kept for API parity

# Measured k ∝ n rule (round-8 100× experiment; SCALE.md "SemDeDup at
# 100×"): clusters of ~125 vectors keep candidate work Σ|c|² ≈ 125·n/2
# — linear in n. On the 200 000-vector derived corpus, k = n/125 = 1600
# ran end-to-end in 42 s (linear), while k held at 16 produced
# 1.25 × 10⁹ candidate pairs from 12 500-vector clusters and OOM-killed
# the Python workers. SemDeDup's own scaling rule (Abbas et al. 2023)
# is k ∝ n for exactly this reason.
_AUTO_K_VECTORS_PER_CLUSTER = 125
_AUTO_K_FLOOR = 16


def derive_k(n_vectors: int) -> int:
    """The scale-safe default cluster count for an ``n_vectors`` corpus:
    ``max(16, n // 125)`` per the measured k ∝ n rule above. Exposed so
    callers (and tests) can see the knob the default path uses."""
    return max(_AUTO_K_FLOOR, int(n_vectors) // _AUTO_K_VECTORS_PER_CLUSTER)


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Scale each vector to unit L2 norm (as double); zero/empty
    vectors pass through unscaled rather than dividing by zero.

    SQL-text form (r18 — block comment at similarity._cosine_sql):
    same tree as the Column build (the norm subtree inlines at each
    reference in both forms), one py4j round trip."""
    c = "`" + vec_col.replace("`", "``") + "`"
    v = f"transform({c}, x -> cast(x as double))"
    n = (
        f"sqrt(aggregate(transform({v}, x -> x * x), 0.0D,"
        " (acc, v) -> acc + v))"
    )
    return df.withColumn(
        vec_col,
        F.expr(
            f"CASE WHEN {n} > 0 THEN transform({v}, x -> x / {n})"
            f" ELSE {v} END"
        ),
    )


def _cosine_pandas_udf():
    """Arrow-batched pairwise cosine (unrounded double): one numpy
    einsum over the whole batch instead of an interpreted per-element
    HOF fold. Same *measured-exception* rationale as
    dedup.minhash_signature — Spark's higher-order array functions
    never enter whole-stage codegen, so at ~10⁵+ candidate pairs the
    vectorized path wins by an order of magnitude (see SCALE.md)."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        # NULL on either side → NULL cosine (matches the expression
        # path); non-null vectors must be fixed-length. The all-valid
        # batch (the hot path) skips the nullable-dtype machinery.
        def cos(A, B):
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                return np.where(den > 0, num / den, 0.0)

        mask = (a.notna() & b.notna()).to_numpy()
        if mask.all() and len(a):
            return pd.Series(
                cos(
                    np.stack(a.to_numpy()).astype(np.float64),
                    np.stack(b.to_numpy()).astype(np.float64),
                )
            )
        out = pd.Series([None] * len(a), dtype="Float64")
        if mask.any():
            vals = cos(
                np.stack(a[mask].to_numpy()).astype(np.float64),
                np.stack(b[mask].to_numpy()).astype(np.float64),
            )
            out.iloc[np.flatnonzero(mask)] = vals
        return out

    return _cos


def semantic_dedup_pairs(
    df: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    max_cluster: int | None = None,
    normalize: bool = True,
    scorer: str = "hof",
    assigner: str | None = None,
) -> DataFrame:
    """Semantic near-duplicate pairs (id_a < id_b, cosine_sim ≥
    threshold, both in the same k-means cluster).

    ``k``: cluster count. **Default (None) derives k from the corpus
    size** — ``max(16, n // 125)`` per the measured k ∝ n rule (see
    :func:`derive_k`): candidate work is Σ|c|², so a FIXED small k
    turns quadratic as the corpus grows (k=16 at 200 k vectors →
    1.25 × 10⁹ pairs → worker OOM, measured round 8), while k ∝ n
    stays linear. Every path without ``centroids`` trains the same
    way: the one k-means core (``clustering.train_kmeans_sample``,
    driver-side numpy Lloyd) on the bounded hash-ordered
    ``clustering.training_sample`` of max(10·k, 500) vectors.
    **Execution contract**: training runs one bounded sample
    ``collect()`` at plan-composition time, and deriving k one
    ``count()`` job before it (the rest stays lazy); pass
    ``centroids`` to compose fully lazily.
    ``centroids``: pass pre-trained centroids (e.g. from a bounded
    sample — the production shape: train once, assign everywhere) to
    skip training; assignment is identical either way.
    ``scorer``: 'hof' (default) keeps pair scoring in pure Column
    expressions (no Python workers); 'pandas' scores candidate pairs
    with the Arrow-batched numpy cosine — the measured scale path
    (sum order differs, so values may move in the last ulp; with any
    sane threshold margin the pair SET is identical — tested).
    ``assigner``: 'hof' builds the literal-centroid expression tree,
    'pandas' the Arrow-batched argmin (clustering.
    assign_clusters_pandas) — mandatory at large k, where the literal
    tree's Catalyst analysis cost explodes. ``None`` (default) resolves to 'pandas' on the auto-k path and
    'hof' otherwise; an explicit value is always honored.
    Columns: id_a, id_b, cluster, cosine_sim."""
    from exosql_spark.operators.clustering import (
        assign_clusters,
        assign_clusters_pandas,
        train_kmeans_sample,
        training_sample,
    )
    from exosql_spark.operators.dedup import _cap_buckets, _parallelize

    df = _parallelize(df.select(F.col(id_col), F.col(vec_col)))
    if normalize:
        df = normalize_embeddings(df, vec_col)
    if assigner is None:
        # the auto-k path may derive a large k, where only the Arrow
        # argmin is feasible; an EXPLICIT assigner is always honored —
        # the caller owns the analysis-cost trade documented above
        assigner = "pandas" if k is None and centroids is None else "hof"
    if centroids is None:
        if k is None:
            k = derive_k(df.count())
        centroids = train_kmeans_sample(
            training_sample(df, k, id_col), k, iters, vec_col, id_col
        )
    assign = assign_clusters_pandas if assigner == "pandas" else assign_clusters
    assigned = assign(df, centroids, vec_col)
    sides = assigned.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"), "cluster"
    )
    # persist: both self-join sides consume this frame — without the
    # barrier the k-distance assignment math runs twice per row
    sides = _cap_buckets(sides, ["cluster"], max_cluster).transform(managed_persist)
    a, b = sides.alias("a"), sides.alias("b")
    # SQL-text join condition + hof score (r18 — block comment at
    # similarity._cosine_sql); the pandas scorer keeps the Column
    # select (a UDF column can't ride selectExpr).
    joined = a.join(b, F.expr("a.cluster = b.cluster AND a._id < b._id"))
    if scorer == "pandas":
        sim = _cosine_pandas_udf()(F.col("a._vec"), F.col("b._vec"))
        scored = joined.select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            F.round(sim, 4).alias("cosine_sim"),
        )
    else:
        scored = joined.selectExpr(
            "a._id AS id_a",
            "b._id AS id_b",
            "a.cluster AS cluster",
            f"round({_cosine_sql('a._vec', 'b._vec')}, 4) AS cosine_sim",
        )
    return scored.where(f"cosine_sim >= {float(threshold)!r}D")


def semantic_dedup(
    df: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    max_cluster: int | None = None,
    normalize: bool = True,
    scorer: str = "hof",
    assigner: str | None = None,
) -> DataFrame:
    """Drop semantic near-duplicates, keeping the lowest id of each
    duplicate group (every id that appears as id_b of some ≥-threshold
    pair is removed — the same min-representative convention as the
    curation pipeline's near-dup stage). ``k=None`` (default) derives
    k ∝ n — see :func:`semantic_dedup_pairs` for the rule and the
    composition-time execution contract."""
    pairs = semantic_dedup_pairs(
        df, k, iters, threshold, vec_col, id_col, centroids, max_cluster,
        normalize, scorer, assigner,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
