"""Physical-plan assertions — the scale story, checked mechanically:
filters and projections reach the parquet scan, dimension joins
broadcast, orderBy+limit compiles to top-k, aggregates do partial
(map-side) combine. These are the properties that survive a 100×
scale-up; failing them means a plan regression even if results match."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exosql_spark.io import Tables


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


class TestPushdown:
    def test_filter_pushed_to_parquet(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.lineitem.filter(F.col("l_quantity") >= 45).select("l_orderkey")
        s = formatted(df)
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]" in s

    def test_column_pruning(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.lineitem.select("l_orderkey", "l_quantity")
        s = formatted(df)
        # ReadSchema must not include unprojected columns
        assert "l_extendedprice" not in s.split("ReadSchema:")[1].splitlines()[0]

    def test_timestamp_filter_pushed(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.lineitem.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
        ).select("l_orderkey")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate," in formatted(df)


class TestJoinStrategy:
    def test_dim_join_broadcasts(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.orders.join(
            F.broadcast(t.customer),
            t.orders.o_custkey == t.customer.c_custkey,
        )
        assert "BroadcastHashJoin" in plan(df)

    def test_semi_join_type(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        keys = t.orders.select("o_custkey")
        df = t.customer.join(
            keys, t.customer.c_custkey == keys.o_custkey, "left_semi"
        )
        assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()


class TestAggAndSort:
    def test_partial_agg_before_exchange(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity"))
        p = plan(df)
        # two HashAggregates (partial + final) with the exchange between:
        # final appears first (top of plan text), partial after Exchange
        assert p.count("HashAggregate") >= 2
        assert p.find("HashAggregate", p.find("Exchange")) != -1

    def test_orderby_limit_is_topk(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.orders.orderBy(F.col("o_totalprice").desc()).limit(5)
        assert "TakeOrderedAndProject" in plan(df)

    def test_whole_stage_codegen_active(self, spark, sf_dir):
        t = Tables(spark, sf_dir)
        df = t.lineitem.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
        df.collect()  # AQE: codegen markers appear in the final plan
        assert "*(1)" in plan(df)


class TestNoDriverLoops:
    def test_queries_return_lazy_dataframes(self, spark, sf_dir):
        """Every catalog entry must return an unevaluated DataFrame (no
        collect-then-recreate antipattern)."""
        from pyspark.sql import DataFrame

        from exosql_spark.catalog import all_queries

        for name, q in all_queries().items():
            df = q.fn(spark, sf_dir)
            assert isinstance(df, DataFrame), name


class TestNoAccidentalCartesian:
    """Guard: no catalog entry may compile to a cartesian product or
    broadcast nested-loop join unless it is an intentional cross/theta
    join — at 100 TB an accidental BNLJ is a query that never ends."""

    ALLOWED = {
        "join_cross",           # intentional cartesian
        "similarity_topk_cosine",  # intentional broadcast×scan (query set)
        "similarity_topk_lsh",
        "similarity_topk_ivf",
        "events_sliding_window",
        "tpch_q22_dormant_rich_customers",  # 1-row global-avg broadcast scalar
        "tpch_q11_important_stock",  # 1-row global-total broadcast scalar
        "text_tfidf_topk",  # 1-row corpus-size broadcast scalar
        "text_bm25_topk",  # 1-row corpus-stats broadcast scalar
        "search_hybrid_rrf",  # composes the bm25 scalar + cosine query broadcasts
        "search_hybrid_rrf_rerank_ce",  # same arms + k-bounded candidate broadcast
        # composes the bm25 scalar broadcast + the PQ ADC literal-table
        # broadcast (both 1-row/k-bounded sides, same as its arms)
        "search_hybrid_rrf_ann_planted",
        "text_lm_score",  # 1-row vocab-size broadcast scalar
        # 1-row percentile broadcast scalar (global variant; the
        # by_lang variant's keyed broadcast join is not a BNLJ)
        "filter_quality_percentile_suite",
        "corpus_quality_winsorize",  # 1-row p1/p99 bounds broadcast
        "text_keywords_per_doc",  # 1-row corpus-size broadcast scalar
        "corpus_length_survival",  # 1-row total-mass broadcast scalar
        "stats_join_size_cms",  # 1-row exact × 1-row estimate attachment
        "streaming_sketch_ingest_parity",  # same 1-row attachment shape
        # pinned-snapshot introspection tables: 2-row × 1-row × 1-row
        # local relations — intentional cross join by construction
        # (node variant of the r15-consolidated sys-source suite)
        "source_sys_pinned_suite",
        # per-iteration 1-row dangling-mass broadcast attachment
        "graph_pagerank_star_planted",
        "stats_quantile_bottomk",  # 1-row sample-size broadcast attachment
        # round-14 additions — all 1-row scalar or k-bounded broadcast
        # attachments, audited:
        "graph_triangle_stats",  # 1-row wedge/per-vertex totals attach
        "graph_hits_star_planted",  # per-half-step 1-row L1-norm attach
        "streaming_pagerank_parity",  # same dangling attach via stream store
        "corpus_dsir_importance",  # 1-row corpus-totals broadcast scalar
        "corpus_domain_kl",  # 1-row corpus-total broadcast scalar
        "text_collocation_pmi",  # two 1-row unigram/bigram totals
        "eval_quality_calibration_ece",  # 1-row ECE scalar re-attach
        # intentional broadcast(anchors)×corpus scan, the
        # similarity_topk_cosine shape with a label predicate
        "contrastive_hard_negatives",
        # r15: 1-row delta-sum × 1-row batch stats × 1-row edge count
        # broadcast attachments, the triangle_stats shape
        "streaming_triangles_parity",
    }

    def test_no_unexpected_cartesian(self, spark, sf_dir):
        from exosql_spark.catalog import all_queries

        bad = []
        for name, q in all_queries().items():
            if name in self.ALLOWED:
                continue
            try:
                df = q.fn(spark, sf_dir)
                p = df._jdf.queryExecution().executedPlan().toString()
            except Exception:
                continue  # streaming/stateful entries can't explain here
            if "CartesianProduct" in p:
                bad.append((name, "CartesianProduct"))
            if "BroadcastNestedLoopJoin" in p and "similarity" not in name:
                bad.append((name, "BroadcastNestedLoopJoin"))
        assert not bad, bad


class TestRound2Plans:
    def test_pack_sequences_single_shuffle(self, spark, sf_dir):
        """Packing shuffles once (on the shard key) and moves only
        (doc_id, shard, n_tokens) — never the text column."""
        from exosql_spark.operators import packing

        df = packing.pack_sequences(Tables(spark, sf_dir).documents)
        s = plan(df)
        assert s.count("Exchange") == 1
        assert "FlatMapGroupsInPandas" in s  # per-shard greedy scan
        # the shuffle keys on the shard id and its input is the narrow
        # 3-column projection (text is read at the scan for the token
        # count, then dropped before the exchange)
        assert "hashpartitioning(shard" in s

    def test_jaccard_index_pairs_no_cartesian(self, spark, sf_dir):
        from exosql_spark.operators import dedup

        df = dedup.jaccard_index_pairs(Tables(spark, sf_dir).documents)
        s = plan(df)
        assert "CartesianProduct" not in s
        assert "SortMergeJoin" in s or "ShuffledHashJoin" in s or "BroadcastHashJoin" in s
        # partial aggregation before the exchange on the pair counts
        assert "partial_count" in s or "partial" in s.lower()

    def test_federation_join_broadcasts_nation(self, spark, sf_dir):
        from exosql_spark.catalog import all_queries

        df = all_queries()["federation_cross_source_join"].fn(spark, sf_dir)
        s = plan(df)
        assert "BroadcastHashJoin" in s

    def test_cosine_topk_window_input_bounded(self, spark, sf_dir):
        """The global rank window must NOT see corpus-sized partitions:
        a partition-local top-k (ObjectHashAggregate keyed on
        (_pid, query_id), sliced to k, re-exploded) sits between the
        scored cross join and the query_id exchange, and Spark's
        WindowGroupLimit caps rows per query at k on both sides of the
        final exchange."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["similarity_topk_cosine"].fn(spark, sf_dir)
        s = plan(df)
        # partial top-k aggregate keyed on the partition id
        assert "ObjectHashAggregate" in s and "_pid" in s
        # slice(...k) applied to the sorted partial list (expression
        # detail only shows in formatted mode)
        assert "slice(array_sort(" in formatted(df)
        # the partition-local top-k (Generate = re-explode) happens
        # BEFORE the query_id window exchange
        gen = s.find("Generate")
        win_ex = s.find("hashpartitioning(query_id")
        assert gen != -1 and win_ex != -1 and gen > win_ex  # plan text is top-down: later ops print first
        # Spark's own k-limit on the window input (partial + final)
        assert s.count("WindowGroupLimit") >= 2

    def test_kmeans_assignment_no_shuffle(self, spark, sf_dir):
        """Cluster assignment fuses into the scan: literal centroids,
        zero exchanges before the (optional) aggregation."""
        from exosql_spark.operators import clustering

        emb = Tables(spark, sf_dir).embeddings
        first = [list(r[0]) for r in
                 emb.orderBy("vec_id").limit(3)
                 .select(F.col("embedding").cast("array<double>")).collect()]
        assigned = clustering.assign_clusters(emb, first)
        assert "Exchange" not in plan(assigned)


class TestRound5Plans:
    """Plan shapes of the round-5 operators, asserted mechanically."""

    def test_pq_encode_is_pure_map(self, spark, sf_dir):
        """PQ encoding must fuse into the scan: no exchange of any
        kind — the compressed table is producible by a map-only job."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import pq

        emb = load_table(spark, sf_dir, "embeddings")
        books = pq.train_codebooks(
            emb.filter(F.col("vec_id") < 100), m=4, k=8, iters=1, dim=64
        )
        p = plan(pq.pq_encode(emb, books))
        assert "Exchange" not in p, p

    def test_bloom_decontaminate_single_shuffle(self, spark, sf_dir):
        """The join-free path: exactly one hash exchange (the per-doc
        hit count) — no join operator anywhere in the plan."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import decontam

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") <= 20)
        p = plan(decontam.decontaminate_hits_bloom(docs, bench, n=4))
        assert p.count("Exchange hashpartitioning") == 1, p
        assert "Join" not in p, p

    def test_span_dedup_documents_never_shuffle(self, spark, sf_dir):
        """span_dedup's exchanges carry gram hashes and positions only
        — the text column must not appear in any exchange's schema
        (it rides the persisted base frame, partition-local)."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import text as t_ops

        docs = load_table(spark, sf_dir, "documents")
        p = formatted(t_ops.span_dedup(docs))
        exchange_blocks = [
            b
            for b in p.split("\n\n")
            if b.strip() and "Exchange" in b.splitlines()[0]
        ]
        assert exchange_blocks, "no exchanges found — formatted() changed shape?"
        for block in exchange_blocks:
            assert "_toks" not in block and "text#" not in block, block

    def test_incremental_dedup_no_cartesian(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.incremental import incremental_dedup

        ref = load_table(spark, sf_dir, "documents")
        batch = ref.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
        p = plan(incremental_dedup(batch, ref))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_lm_score_counts_broadcast(self, spark, sf_dir):
        """The Zipf-concentrated count tables join back via broadcast
        (AQE-sized) — the doc-bigram stream must not sort-merge against
        them at this scale."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import text as t_ops

        docs = load_table(spark, sf_dir, "documents")
        p = plan(t_ops.lm_score(docs))
        assert "BroadcastHashJoin" in p


class TestExplainCollapseDetector:
    """tools/gen_explain.py's AQE empty-relation collapse detector:
    must fire on a genuinely pruned join, must NOT fire on ordinary
    exchange reuse (tpch_q11's twice-consumed aggregate was a false
    positive on the object-identity basis — round-8 fix)."""

    def _note(self, df):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "gen_explain",
            os.path.join(
                os.path.dirname(os.path.dirname(__file__)), "tools", "gen_explain.py"
            ),
        )
        ge = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(ge)
        qe = df._jdf.queryExecution()
        pre = qe.sparkPlan()
        df.collect()
        return ge.collapse_note(pre, qe.executedPlan())

    def test_fires_on_empty_relation_pruned_join(self, spark):
        big = spark.range(10000).withColumnRenamed("id", "k")
        empty = spark.range(100).filter(F.col("id") < -1).withColumnRenamed("id", "k")
        # inner join against a runtime-empty side: AQE rewrites the
        # join (and the big scan feeding it) to an empty relation
        note = self._note(big.join(empty, "k"))
        assert "plan collapsed" in note and "joins" in note, note

    def test_silent_on_exchange_reuse(self, spark, sf_dir):
        from exosql_spark.catalog import all_queries

        q = all_queries()["tpch_q11_important_stock"]
        note = self._note(q.fn(spark, sf_dir))
        assert note == "none", note


class TestDynamicPartitionPruning:
    def test_dpp_on_partitioned_fact_join(self, spark, sf_dir, tmp_path):
        """The cluster-scale star-join pattern: a fact table stored
        partitioned on the join/filter key is pruned at runtime by the
        dimension side's filter (DPP inserts a dynamicpruning
        predicate into the scan's PartitionFilters) — files for
        non-qualifying partitions are never opened. This is the
        read-path complement of the static pruning tests in
        test_sinks.py: static pruning needs the literal in the query;
        DPP prunes when the filter arrives only through a join."""
        from exosql_spark import sinks
        from exosql_spark.io import load_table

        fact = str(tmp_path / "orders_by_status")
        sinks.write_table(
            load_table(spark, sf_dir, "orders"), fact,
            partition_by=["o_orderstatus"],
        )
        stored = spark.read.parquet(fact)
        dim = spark.createDataFrame(
            [("F", "finished"), ("O", "open"), ("P", "pending")],
            "status string, label string",
        ).filter(F.col("label") == "open")
        joined = stored.join(
            F.broadcast(dim), stored.o_orderstatus == dim.status
        ).groupBy("label").count()
        s = formatted(joined).lower()
        assert "dynamicpruningexpression" in s, s[:2000]
        rows = joined.collect()
        assert len(rows) == 1 and rows[0]["label"] == "open"


class TestRuntimeBloomFilter:
    def test_bloom_filter_injected_on_selective_shuffle_join(self, spark, sf_dir):
        """Runtime row-level Bloom pruning — the shuffle-join
        complement of DPP: when a shuffle join's build side is
        selective, the optimizer injects a BloomFilter aggregate on it
        and a might_contain post-scan filter on the probe side, so
        probe rows that cannot match die before the exchange. At the
        default thresholds this engages only for 10 GB+ probe scans
        (exactly the 100 TB case); the test lowers the thresholds to
        prove the mechanism fires on our plans, and restores session
        confs either way (shared fixture)."""
        t = Tables(spark, sf_dir)
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        }
        saved = {}
        for k, v in confs.items():
            try:
                saved[k] = spark.conf.get(k)
            except Exception:
                saved[k] = None
            spark.conf.set(k, v)
        try:
            sel = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
                "o_orderkey"
            )
            joined = t.lineitem.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            s = formatted(joined).lower()
            assert "might_contain" in s or "bloomfilter" in s, s[:3000]
            assert joined.count() > 0
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRound9Plans:
    def test_exact_rerank_corpus_never_shuffles(self, spark, sf_dir):
        """The refine stage's contract: shortlist + query vectors
        broadcast; the corpus resolves candidates inside its scan via
        broadcast hash joins — no SortMergeJoin, no corpus-side
        Exchange below the joins, and the rank window input is the
        k-bounded candidate set."""
        from exosql_spark.io import Tables
        from exosql_spark.operators import similarity

        t = Tables(spark, sf_dir)
        queries = t.embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        shortlist = queries.select("query_id").crossJoin(
            t.embeddings.select("vec_id").limit(20)
        )
        df = similarity.exact_rerank(shortlist, t.embeddings, queries, k=5)
        s = plan(df)
        assert "SortMergeJoin" not in s
        assert s.count("BroadcastHashJoin") >= 2
        # the only exchange feeds the final rank window (query_id), and
        # it sits ABOVE both broadcast joins (plan text is top-down)
        win_ex = s.find("hashpartitioning(query_id")
        first_join = s.find("BroadcastHashJoin")
        assert win_ex != -1 and first_join != -1 and win_ex < first_join

    def test_take_while_budget_window_is_partitioned(self, spark, sf_dir):
        """The budget select's cumulative window must be keyed on the
        range-partition id — NEVER a single-partition global window —
        and the offset prune must sit below the window exchange."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["corpus_select_token_budget"].fn(spark, sf_dir)
        s = plan(df)
        assert "hashpartitioning(_pid" in s
        assert "SinglePartition" not in s
        assert "rangepartitioning" in s
        # window sort is (pid, selection order), not a global sort
        assert "Sort [_pid" in s

    def test_global_rank_window_is_partitioned(self, spark, sf_dir):
        """corpus_quality_deciles' exact global rank must come from the
        distributed prefix-sum — never the oracle's single-task global
        row_number.  r18 optimization: the per-range position is read
        off monotonically_increasing_id over the range-partitioned,
        partition-sorted frame, so the OLD second exchange
        (hashpartitioning(_pid) feeding a row_number window) must be
        GONE — the rank costs one range exchange + one in-partition
        sort total (guide §2.4: same-keyed operations share one
        exchange)."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["corpus_quality_deciles"].fn(spark, sf_dir)
        s = plan(df)
        assert "hashpartitioning(_pid" not in s  # the removed exchange
        assert "SinglePartition" not in s
        assert "rangepartitioning" in s
        assert "monotonically_increasing_id" in s
        # the in-partition sort on the selection order survives (it is
        # what makes the position deterministic)
        assert "Sort [quality" in s

    def test_capped_per_key_pretrim_before_window(self, spark, sf_dir):
        """Two-level cap: the partition-local slice (ObjectHashAggregate
        on (_pid, key) + re-explode) must run before the per-key rank
        window's exchange, so the window input is n·P-bounded per key."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["corpus_domain_cap"].fn(spark, sf_dir)
        s = plan(df)
        assert "ObjectHashAggregate" in s and "_pid" in s
        assert "slice(array_sort(" in formatted(df)
        gen = s.find("Generate")
        win_ex = s.find("hashpartitioning(_row.source" if "hashpartitioning(_row.source" in s else "hashpartitioning")
        assert gen != -1 and win_ex != -1 and gen > win_ex

    def test_split_assign_is_pure_projection(self, spark, sf_dir):
        """The leakage-free split is a projection over the scan — zero
        Exchanges, zero Sorts: at 100 TB it costs exactly one pass."""
        from exosql_spark.operators import ordering, text

        t = Tables(spark, sf_dir)
        df = ordering.split_assign(
            t.documents.select("doc_id", "text"),
            text.normalize_text("text"),
            seed=7,
        )
        s = plan(df)
        assert "Exchange" not in s and "Sort" not in s, s

    def test_epoch_shuffle_never_global_sorts(self, spark, sf_dir):
        """The epoch order must come from per-shard windows after ONE
        hash shuffle — never a global sort / single-task window (the
        whole-corpus row_number scale-killer)."""
        from exosql_spark.operators import ordering

        t = Tables(spark, sf_dir)
        df = ordering.epoch_shuffle(
            t.documents.select("doc_id"), "doc_id", seed=42, n_shards=8
        )
        s = plan(df)
        assert s.count("Exchange") == 1
        assert "hashpartitioning(shard" in s
        assert "SinglePartition" not in s and "rangepartitioning" not in s

    def test_merge_upsert_partial_aggregates(self, spark, sf_dir):
        """merge_keep_latest's max_by agg must do a map-side partial
        before its single key shuffle — merging a small delta into a
        huge base then moves ~|keys| candidate rows, not |base|."""
        from exosql_spark.operators import ordering

        t = Tables(spark, sf_dir)
        docs = t.documents.select("doc_id", "text")
        base = docs.select(
            "doc_id", F.lit(1).alias("version"), "text", F.lit(0).alias("src")
        )
        delta = docs.limit(10).select(
            "doc_id", F.lit(2).alias("version"), "text", F.lit(1).alias("src")
        )
        df = ordering.merge_keep_latest([base, delta], ["doc_id"], ["version", "src"])
        s = plan(df)
        assert "partial_max_by" in s
        assert s.count("Exchange hashpartitioning(doc_id") == 1
        # partial agg sits BELOW the exchange (plan text is top-down)
        assert s.find("partial_max_by") > s.find("Exchange hashpartitioning(doc_id")


class TestRound11Plans:
    """Plan-shape pins for the round-11 operators' scale claims."""

    def test_int8_quantize_is_pure_projection(self, spark, sf_dir):
        """Quantization must fuse into the scan — zero Exchanges, zero
        Sorts: at 100 TB its cost is the read."""
        from exosql_spark.io import Tables
        from exosql_spark.operators.quantize import int8_quantize

        df = int8_quantize(Tables(spark, sf_dir).embeddings).select(
            "vec_id", "scale", "q", "max_err"
        )
        s = plan(df)
        assert "Exchange" not in s and "Sort" not in s, s

    def test_int8_topk_one_shuffle_broadcast_queries(self, spark, sf_dir):
        """The quantized scan shape: queries broadcast (never shuffle
        the corpus toward them), ONE hash exchange for the per-query
        top-k window."""
        from exosql_spark.io import Tables
        from exosql_spark.operators.quantize import int8_topk

        emb = Tables(spark, sf_dir).embeddings
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        s = plan(int8_topk(emb, queries, k=10))
        assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
        assert s.count("Exchange hashpartitioning") == 1, s

    def test_oov_vocab_is_takeordered_and_broadcast(self, spark, sf_dir):
        """The vocabulary must be a top-k (per-partition heaps), never
        a global sort of the token-count table, and membership must be
        a broadcast join."""
        from exosql_spark.io import Tables
        from exosql_spark.operators import text as tx

        df = tx.oov_rate(Tables(spark, sf_dir).documents)
        s = plan(df)
        assert "TakeOrderedAndProject" in s, s
        assert "BroadcastHashJoin" in s, s
        assert "SortMergeJoin" not in s, s

    def test_winsorize_bounds_broadcast_no_extra_shuffle(self, spark, sf_dir):
        """The p1/p99 bounds are one single-row aggregate broadcast
        back — the feature scan itself never hash-shuffles."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["corpus_quality_winsorize"].fn(spark, sf_dir)
        s = plan(df)
        assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s, s
        assert "Exchange hashpartitioning" not in s, s


class TestRound12Plans:
    """Plan-shape pins for the round-12 operators' scale claims."""

    def test_jpeg_sof_walk_is_one_projection_no_python(self, spark, sf_dir):
        """The variable-offset marker walk must stay a JVM-side
        projection (an aggregate higher-order fold, not a Python/Arrow
        stage, not a join): at 100 TB header triage is bounded by the
        scan, and the only exchange is the final width-bucket rollup."""
        from exosql_spark.catalog import all_queries

        from exosql_spark.queries.llm_q import _mm_jpeg_probe

        df = _mm_jpeg_probe(spark, sf_dir)
        s = plan(df)
        assert "EvalPython" not in s, s  # no BatchEvalPython/ArrowEvalPython
        assert "Join" not in s, s
        assert s.count("Exchange hashpartitioning") == 1, s

    def test_wav_chunk_walk_is_one_projection_no_python(self, spark, sf_dir):
        """Same contract as the JPEG walk: JVM-side aggregate fold,
        no Python stage, no join, one exchange for the rollup."""
        from exosql_spark.catalog import all_queries

        from exosql_spark.queries.llm_q import _mm_wav_probe

        df = _mm_wav_probe(spark, sf_dir)
        s = plan(df)
        assert "EvalPython" not in s, s
        assert "Join" not in s, s
        assert s.count("Exchange hashpartitioning") == 1, s

    def test_pca_projection_stays_jvm_side(self, spark, sf_dir):
        """After the driver-side eig, the projection over the corpus
        must be pure column arithmetic: no Python/Arrow stage, no
        shuffle before the final bucket rollup."""
        import numpy as np

        from exosql_spark.io import Tables
        from exosql_spark.operators import linalg

        t = Tables(spark, sf_dir)
        data = t.documents.select(
            "doc_id",
            F.array(*[(F.col("doc_id") % (i + 3)).cast("double") for i in range(4)]).alias("x"),
        )
        comps = np.eye(4)[:2]
        df = linalg.project(data, "x", comps, np.zeros(4))
        s = plan(df)
        assert "EvalPython" not in s, s
        assert "Exchange" not in s, s

    def test_entropy_and_triage_are_single_rollup_no_python(self, spark, sf_dir):
        """The quality/triage scans must stay one JVM projection + one
        bounded-key rollup: no Python stage, no join, one exchange."""
        from exosql_spark.catalog import all_queries

        for name in ("text_char_entropy_by_lang", "multimodal_triage_mixed"):
            df = all_queries()[name].fn(spark, sf_dir)
            s = plan(df)
            assert "EvalPython" not in s, (name, s)
            assert "Join" not in s, (name, s)
            assert s.count("Exchange hashpartitioning") == 1, (name, s)


class TestRound14Plans:
    def test_window_suite_shares_one_exchange(self, spark, sf_dir):
        """The consolidated window_analytic_suite (three window specs,
        one o_custkey partition key) must compile to ONE hash exchange
        — the consolidation's plan claim: Catalyst merges the specs'
        partitioning, the differing sort orders add Sorts, not
        shuffles."""
        from exosql_spark.catalog import all_queries

        df = all_queries()["window_analytic_suite"].fn(spark, sf_dir)
        s = plan(df)
        assert s.count("Exchange hashpartitioning") == 1, s
        assert "EvalPython" not in s, s

    def test_triangles_no_broadcast_needed_and_no_python(self, spark):
        """triangles() on a generic edge table: key-partitioned joins
        only — no Python stage and no cartesian; the orientation must
        not smuggle in a nested-loop join."""
        from exosql_spark.operators.graph import triangles

        edges = spark.range(0, 2000).selectExpr(
            "id AS src", "(id * 7) % 997 AS dst"
        )
        s = plan(triangles(edges))
        assert "EvalPython" not in s, s
        assert "CartesianProduct" not in s, s
        assert "BroadcastNestedLoopJoin" not in s, s

    def test_dsir_scoring_join_is_broadcast(self, spark, sf_dir):
        """dsir_importance's per-token scoring join against the
        <=n_buckets log-ratio table must be a broadcast hash join —
        the 100 TB contract is that only the bucket table ships."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.selection import dsir_importance
        from exosql_spark.io import Tables

        t = Tables(spark, sf_dir)
        df = dsir_importance(t.documents, F.col("lang") == "en")
        s = plan(df)
        assert "BroadcastHashJoin" in s, s
        assert "EvalPython" not in s, s


class TestRound15Plans:
    @staticmethod
    def _load_tool(name, relpath):
        import importlib.util
        import os

        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), relpath)
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_bench_shuffle_counter_identity_not_string(self, spark):
        """bench._count_shuffles must count each ShuffleExchangeExec
        ONCE by JVM object identity and agree with the
        tools/gen_explain.py walk that EXPLAIN.md is generated from
        (r14 verdict Missing #2: the old regex over the plan STRING
        counted every re-print of a persisted subtree — 2037 recorded
        vs the true 8 for graph_triangle_stats).  The probe plan below
        reproduces the inflation class: a 4-branch union over a
        persisted aggregate re-prints the cached relation's single
        hash exchange once per branch in toString() (measured: string
        count 8), while the true distinct-operator count is 1."""
        import pyspark.sql.functions as F

        bench = self._load_tool("bench_for_counter_test", "bench.py")
        ge = self._load_tool("gen_explain_for_counter_test", "tools/gen_explain.py")
        base = (
            spark.range(4000)
            .selectExpr("id % 13 AS k", "id AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
            .persist()
        )
        try:
            base.count()
            df = base.union(base).union(base).union(base)
            df.count()
            n = bench._count_shuffles(df)
            string_n = len(
                bench._SHUFFLE_EXCHANGE_RE.findall(
                    df._jdf.queryExecution().executedPlan().toString()
                )
            )
            nodes = ge.executed_nodes(
                df._jdf.queryExecution().executedPlan(), spark._jvm
            )
            ge_n = sum(1 for name, _ in nodes if name == "ShuffleExchangeExec")
            assert n == 1 == ge_n, (n, ge_n)
            assert string_n > n, (
                "probe plan no longer reproduces the string-count "
                "inflation this test exists to pin against",
                string_n,
            )
            # a second shape with a join: counter and EXPLAIN walk agree
            df2 = (
                base.join(base.selectExpr("k", "s AS s2"), "k")
                .groupBy()
                .agg(F.sum("s").alias("t"))
            )
            df2.count()
            nodes2 = ge.executed_nodes(
                df2._jdf.queryExecution().executedPlan(), spark._jvm
            )
            ge_n2 = sum(1 for name, _ in nodes2 if name == "ShuffleExchangeExec")
            assert bench._count_shuffles(df2) == ge_n2
        finally:
            base.unpersist()

    def test_compare_bench_flags_require_both_probes(self, capsys):
        """The comparator must not flag a query that only ONE probe
        normalization puts over the bar (r14: a 2.24x-vs-1.44x probe
        divergence manufactured 12 flags on untouched code).  Synthetic
        artifacts: probes diverge 2x vs 1x; query 'a' slowed 1.5x raw
        (over the bar only under the unity probe), query 'b' slowed 3x
        raw (over under both), query 'c' is a wash."""
        import json
        import sys

        cb = self._load_tool("compare_bench_for_flag_test", "tools/compare_bench.py")
        old = {
            "value": 3.0,
            "queries": {"a": 1.0, "b": 1.0, "c": 1.0},
            "calibration_sec": 1.0,
            "calibration_shuffle_sec": 1.0,
            "query_set_sha1": "x",
        }
        new = {
            "value": 5.5,
            "queries": {"a": 1.5, "b": 3.0, "c": 1.0},
            "calibration_sec": 2.0,
            "calibration_shuffle_sec": 1.0,
            "query_set_sha1": "x",
        }
        import tempfile, os

        with tempfile.TemporaryDirectory() as d:
            po, pn = os.path.join(d, "BENCH_rold.json"), os.path.join(d, "BENCH_rnew.json")
            with open(po, "w") as f:
                json.dump(old, f)
            with open(pn, "w") as f:
                json.dump(new, f)
            argv = sys.argv
            sys.argv = ["compare_bench.py", po, pn]
            try:
                cb.main()
            finally:
                sys.argv = argv
        out = capsys.readouterr().out
        assert "1 slower >1.25x under BOTH normalizations" in out, out
        assert "flags: b (" in out, out
        assert "a (" not in out.split("flags:")[-1], out

    def test_mp4_probe_payload_stays_a_named_projection(self, spark, sf_dir):
        """The mp4 probe's synthetic payload must reach the parser as
        a NAMED projection, not a raw expression: Catalyst keeps a
        multi-referenced non-cheap projection separate (3 payload
        materializations in the plan), while the raw-expression shape
        inlines the whole ~40-node construction into every interpreted
        F.aggregate fold reference (measured: 68 occurrences and
        7.7 s vs 2.2 s at sf0.1 — SCALE.md round-15).  The bound is
        deliberately loose (< 10): it distinguishes the two shapes,
        not the exact optimizer output."""
        from exosql_spark.queries.llm_q import _mm_mp4_probe

        s = plan(_mm_mp4_probe(spark, sf_dir))
        assert s.count("unhex") < 10, s.count("unhex")


class TestRound16Plans:
    def test_triangle_ingest_batch_no_store_wide_exchange(self, spark, tmp_path):
        """The per-batch triangle delta must never shuffle the edge
        store (r15 verdict What's-wrong #2: the old
        `prior.unionByName(b).distinct()` re-shuffled the ENTIRE store
        every micro-batch — at a 100 TB edge store that is a
        per-trigger store-wide exchange that planted-scale parity
        hides completely).  The contract after the fix: the half-landed
        -replay dedup is a `batch != batch_id` FILTER (exact, because
        append_batch_keyed's purge-then-move means this batch's own
        rows are the only possible duplicates), and both triangle
        joins keep the store adjacency on the STREAM side of a
        broadcast hash join.  Every exchange in the executed plan must
        be BATCH-derived: the single-partition gather of the final
        count's partial aggregates (exactly one), and copies of the
        batch canonicalization's own |Δ|-sized .distinct() — the r17
        hub-skew guard persists the wedge intermediate, and the cache
        boundary stops Spark's exchange-reuse from unifying the
        distinct across the cached and uncached sides, so its COUNT is
        an implementation detail while 'no parquet scan beneath any
        exchange' is the contract.  Zero SortMergeJoins, broadcast
        closing join."""
        import importlib.util
        import os

        from exosql_spark.streaming import graph_ingest as gi

        estore = str(tmp_path / "edges")
        dstore = str(tmp_path / "deltas")
        edges0 = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
        )
        gi.triangle_ingest_batch(edges0, 0, estore, dstore)

        # Rebuild batch 1's delta plan exactly as triangle_ingest_batch
        # does (canonical batch + batch-filtered prior), then pin it.
        b = (
            spark.createDataFrame([(3, 0), (3, 1)], "src long, dst long")
            .where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
            .withColumn("batch", F.lit(1).cast("long"))
        )
        prior = (
            spark.read.parquet(estore)
            .select("a", "b", "batch")
            .where(F.col("batch") != F.lit(1).cast("long"))
        )
        delta = gi.batch_triangle_delta(b, prior)
        rows = delta.collect()
        # Union is K4 (4 triangles); batch 0 alone closes only
        # (0,1,2), so batch 1's maximal-edge delta is the other 3:
        # (0,1,3) and (1,2,3) via edge 13, (0,2,3) via edge 03.
        assert rows[0].n_new_triangles == 3, rows

        # Every exchange by JVM identity is batch-derived: exactly ONE
        # single-partition gather (partial counts), and the rest are
        # copies of the |Δ|-sized batch .distinct() (HashAggregate on
        # the canonical (a, b) keys).  The store may only ever appear
        # on the STREAM side of a broadcast join — no parquet scan
        # beneath any exchange.
        ge_path = os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "tools", "gen_explain.py"
        )
        spec2 = importlib.util.spec_from_file_location("ge_for_tri_plan", ge_path)
        ge = importlib.util.module_from_spec(spec2)
        spec2.loader.exec_module(ge)
        nodes = ge.executed_nodes(
            delta._jdf.queryExecution().executedPlan(), spark._jvm
        )
        n_gather = 0
        for name, node in nodes:
            if name == "ShuffleExchangeExec":
                if "SinglePartition" in node.outputPartitioning().toString():
                    # the final gather moves one partial-count row per
                    # task, whatever sits beneath it
                    assert "partial_count" in node.child().toString().splitlines()[0]
                    n_gather += 1
                    continue
                sub = node.toString()
                assert "FileScan" not in sub and "parquet" not in sub, (
                    "store scan shuffled:\n" + sub
                )
                # the only non-gather shuffle shape allowed is the
                # batch canonicalization's distinct
                assert "HashAggregate" in node.child().toString().splitlines()[0]
        assert n_gather == 1
        s = plan(delta)
        assert "SortMergeJoin" not in s, s
        assert "BroadcastHashJoin" in s, s
        # hub-skew guard: the wedge intermediate is persisted (the
        # count that sizes the broadcast reuses it, keeping the batch
        # at two store scans)
        assert "InMemoryTableScan" in s, s

    def test_link_quality_prior_join_broadcasts(self, spark, sf_dir):
        """selection.link_quality_select joins the |V|-sized per-site
        prior table onto the corpus — per its scale contract that must
        be ONE broadcast equi-join of the priors (the corpus side
        never shuffles for the join)."""
        from exosql_spark.queries.llm_q import corpus_select_link_quality

        s = plan(corpus_select_link_quality(spark, sf_dir))
        assert "BroadcastHashJoin" in s, s
        # the corpus scan (documents parquet) must not sit beneath a
        # hash-partitioning exchange keyed on the join site
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(site", s):
            raise AssertionError("corpus shuffled on the prior join key:\n" + s)

    def test_compare_bench_warns_on_intra_sweep_calibration_drift(self, capsys):
        """r16: bench records a start AND end calibration pair; the
        comparator must warn when they diverge >25% within one sweep
        (the r16 storm had 53/69 entries ~1.4x slower while the single
        start-of-sweep calibration read FASTER — one scalar cannot
        normalize a sweep the box moved under), and stay silent when
        the pair agrees or the end value is absent (pre-r16 records)."""
        import json
        import os
        import sys
        import tempfile

        cb = TestRound15Plans._load_tool(
            "compare_bench_for_drift_test", "tools/compare_bench.py"
        )
        old = {
            "value": 1.0,
            "queries": {"a": 1.0},
            "calibration_sec": 1.0,
            "calibration_shuffle_sec": 1.0,
            "query_set_sha1": "x",
        }
        new = {
            "value": 1.0,
            "queries": {"a": 1.0},
            "calibration_sec": 1.0,
            "calibration_sec_end": 1.6,  # moved during the sweep
            "calibration_shuffle_sec": 1.0,
            "calibration_shuffle_sec_end": 1.05,  # fine
            "query_set_sha1": "x",
        }
        with tempfile.TemporaryDirectory() as d:
            po, pn = os.path.join(d, "BENCH_ro.json"), os.path.join(d, "BENCH_rn.json")
            with open(po, "w") as f:
                json.dump(old, f)
            with open(pn, "w") as f:
                json.dump(new, f)
            argv = sys.argv
            sys.argv = ["compare_bench.py", po, pn]
            try:
                cb.main()
            finally:
                sys.argv = argv
        out = capsys.readouterr().out
        assert "intra-sweep steal storm" in out, out
        assert out.count("WARNING") == 1, out  # shuffle pair + old side silent


# -- bench timing runs the full result plan ----------------------------


def _plan_classes(spark, since: int) -> list[set[str]]:
    """Operator names of each SQL execution with id >= ``since``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.length()):
        eid = execs.apply(i).executionId()
        if eid < since:
            continue
        nodes = store.planGraph(eid).allNodes()
        out.append((eid, {_norm_node(nodes.apply(j).name()) for j in range(nodes.length())}))
    return [names for _, names in sorted(out)]


def _norm_node(name: str) -> str:
    import re

    name = re.sub(r" \(\d+\)$", "", name)  # codegen stage ids differ per execution
    return "Limit" if name.endswith("Limit") else name


#: The no-op sink's own write node; everything under it is the result plan.
_NOOP_WRITE = {"OverwriteByExpression"}

#: AQE's EmptyRelation keeps the logical subtree it replaced; whether its
#: leaf renders as LogicalRelation differs between executions.
_RENDERING_ONLY = {"LogicalRelation"}


def _next_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def _bench_names() -> list[str]:
    from exosql_spark.catalog import all_queries

    return sorted(n for n, q in all_queries().items() if q.bench)


class TestBenchTimesFullPlan:
    """bench.time_run must execute the operator classes that collecting
    the entry's result does — a ``count()`` lets Catalyst prune windows,
    sorts, joins and Python stages, so the bench would time a smaller
    plan than the one EXPLAIN.md documents."""

    @pytest.mark.parametrize("name", _bench_names())
    def test_timed_plan_is_the_collected_plan(self, spark, sf_dir, name):
        from exosql_spark.catalog import all_queries
        from exosql_spark.cache import release_caches

        bench = TestRound15Plans._load_tool("bench_for_full_plan_test", "bench.py")
        fn = all_queries()[name].fn
        # both sides build from released caches: a collect over the
        # timed run's persists would let AQE re-plan joins from the
        # materialized cache's size
        release_caches(spark)
        mark = _next_execution_id(spark)
        bench.time_run(spark, fn, sf_dir)
        timed = _plan_classes(spark, mark)[-1]
        release_caches(spark)
        mark = _next_execution_id(spark)
        fn(spark, sf_dir).collect()
        collected = _plan_classes(spark, mark)[-1]
        release_caches(spark)
        timed = timed - _NOOP_WRITE - _RENDERING_ONLY
        collected = collected - _RENDERING_ONLY
        assert timed == collected, timed ^ collected


# -- no per-element recomputation inside higher-order lambdas ----------


def _lambda_body_classes(df) -> set[str]:
    """Expression class names inside any ``LambdaFunction`` of ``df``'s
    optimized plan, cached subplans included (an ``InMemoryRelation``
    hides its plan from ``children``). Catalyst does not share a
    subexpression across lambda invocations, so work found here runs
    once per array element."""
    found: set[str] = set()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk_expr(e, inside: bool) -> None:
        name = e.getClass().getSimpleName()
        if inside:
            found.add(name)
        for c in seq(e.children()):
            walk_expr(c, inside or name == "LambdaFunction")

    def walk_plan(p) -> None:
        for e in seq(p.expressions()):
            walk_expr(e, False)
        if p.getClass().getSimpleName() == "InMemoryRelation":
            walk_plan(p.cachedPlan())
        for c in seq(p.children()):
            walk_plan(c)

    walk_plan(df._jdf.queryExecution().optimizedPlan())
    return found


class TestLambdaInvariantWork:
    def test_lm_score_tokenizes_outside_the_bigram_lambda(self, spark, sf_dir):
        """text_lm_score tokenizes each document once into a column; the
        regex normalize + split must not sit in a lambda body, where it
        would re-run for every bigram."""
        from exosql_spark.cache import release_caches
        from exosql_spark.catalog import all_queries

        try:
            inside = _lambda_body_classes(
                all_queries()["text_lm_score"].fn(spark, sf_dir)
            )
        finally:
            release_caches(spark)
        assert not inside & {"StringSplit", "RegExpReplace"}, inside
