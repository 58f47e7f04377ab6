"""Persist hygiene (exosql_spark.cache) + NULL handling in the
Arrow-batched twins.

The cache contract: every operator-internal persist registers with the
session-keyed registry, and release_caches() at a query boundary
leaves the session's DataFrame cache empty — storage memory stays
flat across a long sweep (bench.py calls it per query).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exosql_spark import cache
from exosql_spark.io import load_table


def _cache_mgr_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


class TestCacheHygiene:
    def test_operator_barriers_release(self, spark, sf_dir):
        """A sweep over the cache-heaviest operators (curation pipeline,
        SemDeDup, jaccard, LM score, line dedup) registers its barriers
        and release_caches() empties the DataFrame cache afterwards."""
        # reset: drop leftovers from earlier tests in this shared session
        cache.release_caches(spark)
        spark.catalog.clearCache()
        assert _cache_mgr_empty(spark)

        from exosql_spark.operators import semdedup, text
        from exosql_spark.operators.dedup import minhash_dedup_pairs
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = load_table(spark, sf_dir, "documents").limit(300)
        emb = load_table(spark, sf_dir, "embeddings").limit(300).select(
            "vec_id", "embedding"
        )
        curate_corpus(docs, config=CurateConfig(min_tokens=5)).count()
        semdedup.semantic_dedup_pairs(emb, k=4, iters=1, threshold=0.5).count()
        minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).count()
        text.lm_score(docs, "text", "doc_id").count()
        text.line_dedup(docs, "text", "doc_id").count()

        n_live = cache.live_count(spark)
        assert n_live > 0
        assert not _cache_mgr_empty(spark)
        assert cache.release_caches(spark) == n_live
        assert cache.live_count(spark) == 0
        assert _cache_mgr_empty(spark)

    def test_loop_operators_release(self, spark):
        """Every driver loop (pagerank, trustrank, hits, kcore, both
        connected-components functions, learn_bpe) leaves the DataFrame
        cache empty once the host calls release_caches: loop_scope
        releases the loops' own edge frames (re-laid-out copies too, at
        a ceiling of 16), and learn_bpe's returned generation is
        registered."""
        from exosql_spark.operators import bpe, components, graph

        cache.release_caches(spark)
        spark.catalog.clearCache()
        assert _cache_mgr_empty(spark)

        g = spark.createDataFrame(
            [(i, (i + 1) % 6) for i in range(6)] + [(2, 6)],
            "src long, dst long",
        )
        seeds = spark.createDataFrame([(0,)], "id long")
        words = spark.createDataFrame(
            [(list("banana"), 3), (list("bandana"), 2)],
            "tokens array<string>, freq long",
        )
        default = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for ceiling in (default, "16"):
                spark.conf.set("spark.sql.shuffle.partitions", ceiling)
                graph.pagerank(g, n_iter=2).collect()
                graph.trustrank(g, seeds, n_iter=2).collect()
                graph.hits(g, n_iter=2).collect()
                graph.kcore(g).collect()
                components.connected_components(g, "src", "dst").collect()
                components.connected_components_star(g, "src", "dst").collect()
                bpe.learn_bpe(words, n_merges=2)[1].collect()
                cache.release_caches(spark)
                assert cache.live_count(spark) == 0
                assert _cache_mgr_empty(spark), ceiling
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", default)

    def test_triangle_stats_drain_mode_scoped_release(self, spark):
        """triangle_stats(drain=True) — the long-lived-service mode —
        localCheckpoints its 1-row summary and releases exactly the
        barriers it registered (ADVICE r15), never touching frames an
        enclosing pipeline registered earlier; the DEFAULT keeps the
        boundary-drain convention bench's steady-state timing relies
        on (persists alive until release_caches)."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.graph import triangle_stats

        cache.release_caches(spark)
        outer = cache.managed_persist(spark.range(10))
        mark = cache.registry_mark(spark)
        edges = spark.range(4).select(
            F.col("id").alias("src"), ((F.col("id") + 1) % 4).alias("dst")
        )
        out = triangle_stats(edges, drain=True)
        # registry back at the mark; the outer frame untouched
        assert cache.registry_mark(spark) == mark
        assert out.collect()[0].n_triangles == 0  # C4 has no triangles
        assert outer.is_cached
        # default mode leaves its barriers for the boundary drain
        out2 = triangle_stats(edges)
        assert cache.registry_mark(spark) > mark
        assert out2.collect()[0].n_triangles == 0
        cache.release_caches(spark)

    def test_release_is_safe_before_materialization(self, spark, sf_dir):
        """Unpersisting a barrier a live plan still references only
        costs recompute — results are identical."""
        from exosql_spark.operators.dedup import minhash_dedup_pairs

        docs = load_table(spark, sf_dir, "documents").limit(200)
        pairs = minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5)
        expected = pairs.count()
        cache.release_caches(spark)  # released BEFORE this next action
        assert pairs.count() == expected


class TestArrowNullHandling:
    """The Arrow-batched twins must propagate NULL vectors as NULL
    outputs (like the expression paths) instead of raising in
    np.stack."""

    @pytest.fixture()
    def mixed(self, spark):
        return spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [4.0, 3.0, 2.0, 1.0])],
            "vec_id long, embedding array<float>",
        )

    CENTS = [[1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]]

    def test_assign_clusters_pandas_nulls_and_sq_dist(self, spark, mixed):
        from exosql_spark.operators.clustering import (
            assign_clusters,
            assign_clusters_pandas,
        )

        got = {
            r.vec_id: (r.cluster, r.sq_dist)
            for r in assign_clusters_pandas(mixed, self.CENTS).collect()
        }
        assert got[2] == (None, None)
        expr = {
            r.vec_id: (r.cluster, r.sq_dist)
            for r in assign_clusters(
                mixed.filter("embedding is not null"), self.CENTS
            ).collect()
        }
        # non-null rows: cluster AND sq_dist match the expression path
        assert {k: v for k, v in got.items() if k != 2} == expr

    def test_bucket_cell_probe_code_cosine_nulls(self, spark, mixed):
        from exosql_spark.operators.pq import pq_encode
        from exosql_spark.operators.semdedup import _cosine_pandas_udf
        from exosql_spark.operators.similarity import (
            _bucket_ids_pandas_udf,
            _cell_ids_pandas_udf,
        )

        tables = [[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]]
        row = {
            r.vec_id: (r.b, r.c, r.p)
            for r in mixed.select(
                "vec_id",
                _bucket_ids_pandas_udf(tables)(F.col("embedding")).alias("b"),
                _cell_ids_pandas_udf(self.CENTS)(F.col("embedding")).alias("c"),
                _cell_ids_pandas_udf(self.CENTS, 2)(F.col("embedding")).alias("p"),
            ).collect()
        }
        assert row[2] == (None, None, None)
        assert None not in row[1] and None not in row[3]

        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
        codes = {
            r.vec_id: r.pq_code
            for r in pq_encode(mixed, books, encoder="pandas").collect()
        }
        assert codes[2] is None and codes[1] is not None

        pairs = spark.createDataFrame(
            [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], None), (None, None)],
            "a array<float>, b array<float>",
        )
        vals = [
            r.c
            for r in pairs.select(
                _cosine_pandas_udf()(F.col("a"), F.col("b")).alias("c")
            ).collect()
        ]
        assert vals[0] == pytest.approx(1.0) and vals[1] is None and vals[2] is None

    def test_expression_paths_null_parity(self, spark, mixed):
        """The EXPRESSION paths must emit NULL for NULL vectors too —
        before round 7's review fix they silently hashed NULLs to
        bucket 0 / cluster 0 / codeword 0 (every NULL row colliding
        into one LSH bucket is a quadratic-bucket hazard at scale),
        diverging from the Arrow twins."""
        from exosql_spark.operators.clustering import assign_clusters
        from exosql_spark.operators.pq import pq_encode
        from exosql_spark.operators.similarity import (
            ivf_encode,
            probe_buckets_expr,
            signature_bits,
        )

        planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
        row = {
            r.vec_id: (r.b, r.p, r.cl, r.sq)
            for r in assign_clusters(mixed, self.CENTS)
            .select(
                "vec_id",
                signature_bits(F.col("embedding"), planes).alias("b"),
                probe_buckets_expr(F.col("embedding"), planes, 1).alias("p"),
                F.col("cluster").alias("cl"),
                F.col("sq_dist").alias("sq"),
            )
            .collect()
        }
        assert row[2] == (None, None, None, None)
        assert None not in row[1] and None not in row[3]

        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
        codes = {
            r.vec_id: r.pq_code
            for r in pq_encode(mixed, books, encoder="expr").collect()
        }
        assert codes[2] is None and codes[1] is not None

        cells = {r.vec_id: r.cell for r in ivf_encode(mixed, self.CENTS).collect()}
        assert cells[2] is None and cells[1] is not None

    def test_ivf_encoded_roundtrip_nondefault_id_col(self, spark, mixed):
        """ivf_encode always emits 'vec_id'; ivf_topk(encoded=...) must
        accept the stored frame even when the original id_col differed
        (round-7 review regression)."""
        from exosql_spark.operators.similarity import ivf_encode, ivf_topk

        renamed = mixed.filter("embedding is not null").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        enc = ivf_encode(renamed, self.CENTS, id_col="doc_id")
        queries = renamed.limit(1).select(
            F.col("doc_id").alias("query_id"), "embedding"
        )
        got = ivf_topk(
            renamed, queries, k=2, id_col="doc_id",
            centroids=self.CENTS, encoded=enc,
        ).collect()
        assert got and got[0].vec_id is not None
