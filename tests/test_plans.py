"""Physical-plan assertions: the scale properties the queries claim
(pushdown, broadcast, top-k short-circuit, codegen) must be visible in
the actual plan, not just intended. These tests pin them so a future
refactor that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

from gov_data_pipeline_spark.queries.relational import (
    q01_pricing_summary,
    q02_revenue_by_nation,
    q14_topk_orders,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestScanPushdown:
    def test_q01_filter_and_projection_reach_parquet(self, spark, sf_dir):
        plan = _formatted(q01_pricing_summary(spark, sf_dir))
        # shipdate predicate pushed into the parquet scan
        assert "PushedFilters" in plan
        assert "LessThanOrEqual(l_shipdate" in plan
        # column pruning: unused wide columns never read
        assert "l_comment" not in plan  # not in fixture anyway, sanity
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "l_orderkey" not in read_schema  # pruned: not needed by Q1
        assert "l_quantity" in read_schema

    def test_q01_whole_stage_codegen(self, spark, sf_dir):
        df = q01_pricing_summary(spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = _plan(df)
        # '*(n)' prefixes mark whole-stage-codegen'd operators
        assert "*(1)" in plan and "HashAggregate" in plan
        # map-side partial aggregation before the shuffle
        assert "partial_sum" in plan


class TestJoinStrategies:
    def test_q02_dims_broadcast_facts_shuffle(self, spark, sf_dir):
        plan = _plan(q02_revenue_by_nation(spark, sf_dir))
        assert "BroadcastHashJoin" in plan  # nation/region side
        # fact-fact joins shuffle (sort-merge or shuffled-hash, either is
        # a key-shuffle plan; AQE may later demote to broadcast at tiny SF)
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            plan.count("BroadcastHashJoin") >= 3
        )


class TestTopK:
    def test_q14_take_ordered_not_global_sort(self, spark, sf_dir):
        plan = _plan(q14_topk_orders(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan


class TestNewOperatorPlans:
    def test_q57_winnowing_stays_jvm_side(self, spark, sf_dir):
        """The winnowing pipeline must never enter a Python worker:
        gram hashing and the sliding min are codegen'd / JVM-side."""
        from gov_data_pipeline_spark.queries.dedup_sim import q57_winnowing

        df = q57_winnowing(spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = _plan(df)
        assert "EvalPython" not in plan  # no BatchEvalPython/ArrowEvalPython
        assert "*(1)" in plan  # whole-stage-codegen'd spans present

    def test_q66_batch_alerts_single_shuffle(self, spark, sf_dir):
        """The batch twin of the stateful alert op needs exactly one
        exchange: the window partitioning on user_id (plus the final
        orderBy's range exchange); the filter must not add more."""
        from gov_data_pipeline_spark.queries.stream_queries import (
            q66_cumulative_alerts,
        )

        plan = _plan(q66_cumulative_alerts(spark, sf_dir))
        assert "EvalPython" not in plan
        # hashpartitioning on user_id for the window; rangepartitioning
        # for the deterministic output order; nothing else.
        import re

        exchanges = re.findall(r"Exchange (\w+)", plan)
        assert len(exchanges) <= 2, exchanges


class TestRound2OperatorPlans:
    def test_q68_bm25_broadcasts_stats(self, spark, sf_dir):
        """df/corpus-stats sides of the BM25 scoring join are broadcast;
        the token stream never shuffles for them."""
        from gov_data_pipeline_spark.queries.dedup_sim import q68_bm25

        plan = _plan(q68_bm25(spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_q73_salted_join_key_includes_salt(self, spark, sf_dir):
        """The equi-join key must be (custkey, salt) so hot keys scatter
        across reducers."""
        from gov_data_pipeline_spark.queries.relational import q73_salted_join

        plan = _plan(q73_salted_join(spark, sf_dir))
        assert "__salt" in plan

    def test_q71_range_window_single_window_exchange(self, spark, sf_dir):
        """One window operator, partitioned by user_id — no extra
        exchanges beyond the window's own hash partitioning and the
        final order."""
        from gov_data_pipeline_spark.queries.relational import q71_range_window

        plan = _plan(q71_range_window(spark, sf_dir))
        assert plan.count("Window") >= 1
        # the window's shuffle + the output sort: no other exchanges
        assert plan.count("Exchange hashpartitioning") <= 1

    def test_q80_lsh_pairs_no_cartesian(self, spark, sf_dir):
        """q80 exists to kill q74's crossJoin pair stage: the candidate
        generator must be a bucket equi-join — no CartesianProduct, no
        BroadcastNestedLoopJoin anywhere in the pair pipeline."""
        from gov_data_pipeline_spark.operators.similarity import lsh_cosine_pairs
        from gov_data_pipeline_spark.queries.dedup_sim import (
            _mutant_embeddings,
            q80_semantic_clusters_lsh,
        )
        from gov_data_pipeline_spark.catalog import read_table

        emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        pairs = lsh_cosine_pairs(
            _mutant_embeddings(emb), emb, "vec_id", "vec_id",
            "embedding", "embedding", threshold=0.99,
            bits=6, tables=6, hash_family="md5",
        )
        plan = _plan(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the final query (pairs -> connected components) stays clean too
        df = q80_semantic_clusters_lsh(spark, sf_dir)
        df.collect()
        final = _plan(df)
        assert "CartesianProduct" not in final
        assert "BroadcastNestedLoopJoin" not in final

    def test_q83_row_index_no_global_window(self, spark, sf_dir):
        """The ingest indexer must not contain a global row_number
        window (the q18 funnel it replaces): no Window over an
        empty partitionBy — zipWithIndex does the offsetting."""
        from gov_data_pipeline_spark.queries.ingest import q83_row_index_ingest

        plan = _plan(q83_row_index_ingest(spark, sf_dir))
        assert "row_number" not in plan
        assert "SinglePartition" not in plan

    def test_q87_decontaminate_broadcasts_benchmark(self, spark, sf_dir):
        """The benchmark side must broadcast and corpus-sized data must
        cross no exchange: the only hash shuffles allowed are the two
        small-side distincts (benchmark grams, contaminated ids)."""
        from gov_data_pipeline_spark.queries.dedup_sim import q87_decontaminate

        df = q87_decontaminate(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        # AQE's toString prints Final and Initial sections; count Final only
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") <= 2

    def test_q154_bloom_probes_broadcast_corpus_never_shuffles(
        self, spark, sf_dir
    ):
        """q154: the Bloom bitset probes must be BROADCAST hash joins
        on the word index, and corpus-sized data must cross no
        exchange — the only hash shuffles are over small relations
        (benchmark-gram distinct, the 128 KiB bitset's bit_or
        aggregate, the per-doc hit counts — since r13's multiplicity-
        carrying gram rows, the hit count is a count_distinct, whose
        (doc_id, s) dedup exchange carries only bench-matched survivor
        rows, bounded by contamination volume)."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q154_decontaminate_bloom,
        )

        df = q154_decontaminate_bloom(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("BroadcastHashJoin") >= 2  # the k bloom probes
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert final.count("Exchange hashpartitioning") <= 5

    def test_q155_sparse_cosine_equi_joins_only(self, spark, sf_dir):
        """q155: candidates must come from the posting-list EQUI-join
        on term (plus key joins for norms) — never a cartesian or
        nested-loop pair enumeration. This is the whole point of the
        inverted-index similarity join."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q155_sparse_cosine_topk,
        )

        df = q155_sparse_cosine_topk(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        # the only nested loops allowed are the condition-free 1-row
        # n_docs total broadcasts onto the vocabulary (the house
        # cross-join pattern; one per postings consumer) — never a
        # pair-enumeration stage, which would carry a join condition
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 4, final
        assert n_bnlj == final.count("BroadcastNestedLoopJoin BuildRight, Cross")
        # the pair stage is an equi-join on term
        assert "SortMergeJoin [term" in plan or "ShuffledHashJoin [term" in plan or (
            "BroadcastHashJoin [term" in plan
        )

    def test_q156_interval_join_is_binned_equi_join(self, spark, sf_dir):
        """q156: the overlap join must be an EQUI-join on
        (l_suppkey, __bin) — binning is what removes the per-key
        quadratic term, so a plan showing a nested-loop or cartesian
        pair stage means the operator regressed to the naive form."""
        from gov_data_pipeline_spark.queries.relational import (
            q156_interval_overlap,
        )

        df = q156_interval_overlap(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the candidate join keys include the bin column
        assert "__bin" in plan

    def test_q163_containment_dedup_no_pair_enumeration(self, spark, sf_dir):
        """q163: candidates ride q158's shingle-hash EQUI-join; the
        keep-decision and component stages add only key joins over the
        (tiny) pair set — no cartesian or nested-loop anywhere."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q163_containment_dedup,
        )

        df = q163_containment_dedup(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q164_linear_scorer_broadcasts_model(self, spark, sf_dir):
        """q164: the weights table is the model — it must reach the
        feature rows as a broadcast (a shuffled model join would move
        corpus-sized feature rows), and nothing may pair-enumerate."""
        from gov_data_pipeline_spark.queries.quality import q164_quality_linear

        df = q164_quality_linear(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q168_trained_scorer_no_pair_enumeration(self, spark, sf_dir):
        """q168: trainer + scorer end-to-end — the model must reach the
        feature rows as a broadcast in the scoring stage, and no stage
        anywhere (training included — its per-iteration frames are
        localCheckpointed, so the final plan shows the scoring stage)
        may pair-enumerate."""
        from gov_data_pipeline_spark.queries.quality import q168_quality_trained

        df = q168_quality_trained(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the doc_id-keyed joins ride the pinned feature/label layout:
        # one hash exchange is left in the final plan
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1, final

    def test_q171_bigram_lm_joins_on_ngram_key(self, spark, sf_dir):
        """q171: the model join must be an equi-join on the ngram key
        (the shape that survives a model past broadcast range) and
        nothing may pair-enumerate; the only nested loop allowed is the
        house 1-row V broadcast (condition-free cross)."""
        from gov_data_pipeline_spark.queries.corpus_ops import q171_bigram_logprob

        df = q171_bigram_logprob(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 1, final
        assert n_bnlj == final.count("BroadcastNestedLoopJoin BuildRight, Cross")
        assert (
            "SortMergeJoin [bg" in plan
            or "ShuffledHashJoin [bg" in plan
            or "BroadcastHashJoin [bg" in plan
        ), final

    def test_q172_top_ngram_no_join_no_window(self, spark, sf_dir):
        """q172 is count-aggregate + max(struct) top-1 aggregate over
        one scan: no join of any kind may appear (a join would mean the
        per-doc char length stopped riding the aggregate key), and no
        Window operator either — the r11 reshape replaced the
        row_number top-1 window (which shuffled AND sorted every
        gram-count row) with a partial-aggregating max(struct(cnt, g)),
        so the second exchange carries one candidate per (doc, n) per
        map partition."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q172_top_ngram_fraction,
        )

        plan = _plan(q172_top_ngram_fraction(spark, sf_dir))
        assert "Join" not in plan
        assert "Window" not in plan
        # partial aggregation must be present for the top-1 aggregate
        assert "partial_max" in plan or "HashAggregate" in plan

    def test_q173_capstone_broadcasts_model_no_pairs(self, spark, sf_dir):
        """q173: the composed pipeline must keep q167's plan promises —
        model reaches features as a broadcast, nothing
        pair-enumerates."""
        from gov_data_pipeline_spark.queries.quality import (
            q173_multilingual_curation,
        )

        df = q173_multilingual_curation(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q177_dsir_models_join_on_bucket_key(self, spark, sf_dir):
        """q177: both LM bucket-count relations join the feature rows
        on the bucket key (equi — broadcast or shuffled, never a pair
        enumeration); the only nested loop allowed is the 1-row totals
        broadcast; selection must be TakeOrderedAndProject (the q14
        top-k shape), never a global Sort + Limit pair."""
        from gov_data_pipeline_spark.queries.quality import q177_dsir_select

        df = q177_dsir_select(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 1, final
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        )
        assert "TakeOrderedAndProject" in final, final

    def test_q178_boilerplate_no_pairs_one_doc_shuffle(self, spark, sf_dir):
        """q178: the df verdict reaches the line rows through an
        equi-join on (source, line) — no pair enumeration anywhere —
        and reassembly is hash aggregation on doc_id (an
        ObjectHashAggregate for collect_list), never a corpus-wide
        window."""
        from gov_data_pipeline_spark.queries.quality import (
            q178_boilerplate_lines,
        )

        df = q178_boilerplate_lines(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" not in plan
        assert "ObjectHashAggregate" in plan or "SortAggregate" in plan

    def test_q179_window_rides_band_histogram(self, spark, sf_dir):
        """q179: the cumulative window's input must be the band
        HISTOGRAM (an aggregate sits between the corpus and the
        Window), never per-document rows; scoring keeps q164's no-pair
        promise; the only nested loop is the 1-row totals cross."""
        from gov_data_pipeline_spark.queries.quality import q179_pr_curve

        df = q179_pr_curve(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 1, final
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        )
        # the Window section must consume the band aggregate: the text
        # between the last HashAggregate above the Window and the
        # Window itself contains no Exchange of document-sized rows —
        # cheap proxy: the plan has a Window AND at least one
        # HashAggregate keyed on the band column below it.
        assert "Window" in final
        assert "hashpartitioning(band" in final, final

    def test_q180_lm_buckets_cutoffs_broadcast(self, spark, sf_dir):
        """q180: per-lang tercile cutoffs are a tiny aggregate that
        must come back as a BROADCAST join (5 rows onto the scored
        frame) — no corpus-sized window, no pair enumeration; the only
        nested loop is q94's 1-row vocab-total cross."""
        from gov_data_pipeline_spark.queries.quality import q180_lm_buckets

        df = q180_lm_buckets(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "Window" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 2, final
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        )
        assert "BroadcastHashJoin" in final, final

    def test_q181_semdedup_no_corpus_product(self, spark, sf_dir):
        """q181: the only enumeration of pairs happens INSIDE the
        per-cell GEMM kernel (FlatMapGroupsInPandas) — the plan may
        never contain a corpus x corpus product; the k-row seed
        broadcast is the one condition-free cross allowed."""
        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.similarity import (
            cell_cosine_pairs_gemm,
        )
        from gov_data_pipeline_spark.queries.dedup_sim import q181_semdedup

        df = q181_semdedup(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        )
        # the pair stage itself sits behind the cells localCheckpoint
        # (lineage cut), so pin its shape directly: grouped Arrow
        # kernel, no join of any kind
        import pyspark.sql.functions as F

        cells = (
            read_table(spark, sf_dir, "embeddings")
            .select(
                "vec_id",
                (F.col("vec_id") % 4).alias("cell"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
        )
        pair_plan = _plan(
            cell_cosine_pairs_gemm(cells, "vec_id", "cell", "embedding", 0.99)
        )
        assert "FlatMapGroupsInPandas" in pair_plan
        assert "Join" not in pair_plan

    def test_q182_contamination_gram_equi_join(self, spark, sf_dir):
        """q182: the benchmark shingle set reaches the probe through a
        gram-keyed equi-join (broadcast or shuffled) — no pair
        enumeration, no window."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q182_contamination_fraction,
        )

        df = q182_contamination_fraction(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" not in plan

    def test_q183_dup_lines_no_join_two_aggregates(self, spark, sf_dir):
        """q183: line identity never leaves its document — the whole
        query is two doc_id-keyed aggregates over one scan; no join of
        any kind may appear."""
        from gov_data_pipeline_spark.queries.dedup_sim import q183_dup_lines

        plan = _plan(q183_dup_lines(spark, sf_dir))
        assert "Join" not in plan
        assert "Window" not in plan

    def test_q184_quota_broadcast_one_rank_window(self, spark, sf_dir):
        """q184: the quota table reaches the ranked corpus as a
        BROADCAST hash join; exactly one Window may touch
        document-sized rows (the per-source rank); no pair
        enumeration. (q174's quota arithmetic contributes its own
        source-sized windows — identify the document-rank one by its
        partition key.)"""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q184_mixture_materialize,
        )

        df = q184_mixture_materialize(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        )

    def test_q185_encode_is_projection_after_model(self, spark, sf_dir):
        """q185: with the two merge rules collected (model state) and
        the frames checkpointed, the final plan is a doc_id equi-join
        of two projections — no Python, no window, no pair
        enumeration."""
        from gov_data_pipeline_spark.queries.corpus_ops import q185_bpe_encode

        df = q185_bpe_encode(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan
        assert "Window" not in plan

    def test_sketch_reports_and_mining_product_free(self, spark, sf_dir):
        """q186/q187/q188/q189: the exact arms run through the GEMM /
        profile machinery (Arrow kernels, bucket joins) — none of the
        four reports may contain a CartesianProduct, and any
        BroadcastNestedLoopJoin must be a condition-free cross build
        (the house 1-row/tiny-dim broadcasts)."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q186_ann_recall,
            q187_minhash_calibration,
            q188_ivf_recall,
            q189_margin_mining,
        )

        for fn in (
            q186_ann_recall,
            q187_minhash_calibration,
            q188_ivf_recall,
            q189_margin_mining,
        ):
            df = fn(spark, sf_dir)
            df.collect()
            plan = _plan(df)
            assert "CartesianProduct" not in plan, fn.__name__
            final = plan.split("== Initial Plan ==")[0]
            n_bnlj = final.count("BroadcastNestedLoopJoin")
            assert n_bnlj == final.count(
                "BroadcastNestedLoopJoin BuildRight, Cross"
            ) + final.count(
                "BroadcastNestedLoopJoin BuildLeft, Cross"
            ), fn.__name__

    def test_q190_multiprobe_bucket_join_vectors_off_dedup(
        self, spark, sf_dir
    ):
        """q190: candidates must come from the (t, b) bucket equi-join
        (query-side probe fan-out only — no pair enumeration), the
        candidate dedup aggregate must NOT carry vectors (ids + the
        plain flag only — the r11 'vectors never ride the dedup
        shuffle' promise), and the exact arm stays in the q186
        broadcast regime."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q190_ann_multiprobe_recall,
        )

        df = q190_ann_multiprobe_recall(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        final = plan.split("== Initial Plan ==")[0]
        n_bnlj = final.count("BroadcastNestedLoopJoin")
        assert n_bnlj == final.count(
            "BroadcastNestedLoopJoin BuildRight, Cross"
        ) + final.count("BroadcastNestedLoopJoin BuildLeft, Cross")
        # the candidate-dedup aggregate groups ids + __plain only:
        # no HashAggregate key list may contain a vector column
        import re as _re

        for m in _re.finditer(r"HashAggregate\(keys=\[([^\]]*)\]", final):
            assert "__qv" not in m.group(1) and "__cv" not in m.group(1), (
                m.group(1)
            )
        # scored_all and pairs are both pinned hash(__qid): the score
        # join, the ranking window and the counts plan exchange-free
        assert "Exchange hashpartitioning" not in final, final

    def test_q88_repetition_single_map_stage(self, spark, sf_dir):
        """Per-doc repetition ratio is one projection over the scan: no
        joins, no aggregate exchange — only the output sort shuffles."""
        from gov_data_pipeline_spark.queries.dedup_sim import q88_repetition_filter

        plan = _plan(q88_repetition_filter(spark, sf_dir))
        assert "Join" not in plan
        assert "Exchange hashpartitioning" not in plan

    def test_connected_components_no_array_aggregation(self, spark):
        """CC rounds must stay in the edge domain: no collect_set/
        collect_list in the plan (a giant component would OOM a task)."""
        from gov_data_pipeline_spark.operators.graph import _star_round

        edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
        plan = _plan(_star_round(edges, large=True))
        assert "collect_set" not in plan and "collect_list" not in plan

    def test_small_connected_components_is_a_broadcast_local_relation(self, spark):
        """Below the size gate the labels come back as one local
        relation in one partition: no exchange, and the corpus join in
        ``dedup_clusters`` broadcasts it."""
        from gov_data_pipeline_spark.operators.graph import (
            connected_components,
            dedup_clusters,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a_id long, b_id long"
        )
        cc = connected_components(pairs)
        plan = _plan(cc)
        assert "LocalTableScan" in plan and "Exchange" not in plan, plan
        assert cc.rdd.getNumPartitions() == 1

        corpus = spark.range(100).withColumnRenamed("id", "doc_id")
        plan = _plan(dedup_clusters(pairs, corpus, "doc_id"))
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan

    def test_q92_bucketed_join_no_exchange_before_join(self, spark, sf_dir):
        """Both join sides are bucketed on the join key, so the
        sort-merge join must consume the bucketed scans directly:
        zero Exchanges in the join subtree (the only shuffle in the
        full query belongs to the 5-row aggregate after it), and the
        scans must advertise their buckets."""
        import os
        import tempfile

        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.layout import write_bucketed

        root = tempfile.mkdtemp(prefix="bucketed_plan_")
        orders = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        write_bucketed(
            orders, "t_plan_o", ["o_orderkey"], 8,
            path=os.path.join(root, "o"), mode="overwrite",
        )
        write_bucketed(
            li, "t_plan_l", ["l_orderkey"], 8,
            path=os.path.join(root, "l"), mode="overwrite",
        )
        j = (
            spark.table("t_plan_l")
            .hint("merge")
            .join(
                spark.table("t_plan_o").hint("merge"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        j.collect()
        plan = _plan(j)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final
        assert "Exchange" not in final
        assert "Bucketed: true" in final
        assert "SelectedBucketsCount: 8 out of 8" in final


class TestRound6Plans:
    def test_q96_bounds_broadcast_back(self, spark, sf_dir):
        """The winsorize clamp stage must consume the 3-row bounds via
        a broadcast join — re-shuffling the fact table to meet its own
        percentiles would double the scan's cost at scale."""
        from gov_data_pipeline_spark.queries.corpus_ops import q96_winsorize

        df = q96_winsorize(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_q97_rollup_single_scan(self, spark, sf_dir):
        """Hour/day/total come from ONE pass: a single events scan
        feeding an Expand — not one scan per granularity."""
        from gov_data_pipeline_spark.queries.corpus_ops import q97_time_rollup

        df = q97_time_rollup(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "Expand" in plan
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("FileScan") == 1

    def test_q98_pit_join_is_asof_not_interval(self, spark, sf_dir):
        """The point-in-time join must run as the union-tag as-of plan
        (key-shuffle + window), never as a range join — no
        CartesianProduct / BroadcastNestedLoopJoin anywhere."""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q98_point_in_time_join,
        )

        df = q98_point_in_time_join(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan  # the as-of carry-forward

    def test_q94_q95_stay_jvm_side(self, spark, sf_dir):
        """Corpus statistics are explode + hash-aggregate shapes; no
        Python worker may appear in either plan."""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q94_unigram_logprob,
            q95_inverted_index,
        )

        for q in (q94_unigram_logprob, q95_inverted_index):
            plan = _plan(q(spark, sf_dir))
            assert "EvalPython" not in plan
            assert "CartesianProduct" not in plan


class TestCodegenBudget:
    def test_similarity_pair_stages_compile(self, spark, sf_dir):
        """Regression pin for the 64 KB Janino limit: with codegen
        fallback disabled, the LSH pair pipeline must compile — the
        unrolled cosine inside the join stage once pushed the generated
        method past the JVM limit and silently went interpreted."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q80_semantic_clusters_lsh,
        )

        old = spark.conf.get("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            q80_semantic_clusters_lsh(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.codegen.fallback", old)

    def test_brute_force_baselines_compile(self, spark, sf_dir):
        """Same 64 KB pin for the all-pairs recall baselines: q46/q74
        used the fully unrolled per-pair cosine and were the last two
        queries still tripping the Janino fallback (found round 5 by
        sweeping the registry with fallback disabled)."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q46_cosine_neardup,
            q74_semantic_clusters,
        )

        old = spark.conf.get("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            q46_cosine_neardup(spark, sf_dir).collect()
            q74_semantic_clusters(spark, sf_dir).collect()
        finally:
            spark.conf.set("spark.sql.codegen.fallback", old)

    def test_repeated_curation_pass_reuses_generated_classes(self, spark, sf_dir):
        """A second pass of the curation queries compiles (almost) no
        new classes: the session's codegen cache holds a pass's ~165
        generated classes. With Spark's default of 100 entries the LRU
        evicts each class before its next use and the second pass
        recompiled ~160 of them."""
        from gov_data_pipeline_spark.queries import all_queries

        qs = all_queries()
        names = ("q75_corpus_pipeline", "q154_decontaminate_bloom",
                 "q155_sparse_cosine_topk", "q196_shuffled_export")
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        for name in names:
            qs[name](spark, sf_dir).collect()
        before = compiles.getCount()
        for name in names:
            qs[name](spark, sf_dir).collect()
        assert compiles.getCount() - before <= 16


class TestEventAnalyticsPlans:
    def test_q102_funnel_no_log_self_join(self, spark, sf_dir):
        """The funnel must never join the raw event log to itself: the
        join inputs are per-user aggregates (broadcast at small SF, key
        shuffle at scale) — and the only nested-loop join allowed is
        the 3-row steps x 1-row base cross."""
        from gov_data_pipeline_spark.queries.events_analytics import q102_funnel

        df = q102_funnel(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final
        # every aggregate is partial before its exchange (map-side min)
        assert "partial_min" in final

    def test_q103_retention_no_distinct_aggregate(self, spark, sf_dir):
        """Rows entering the rollup are provably unique per group, so
        the plan must carry a plain count, not a two-phase distinct
        aggregate."""
        from gov_data_pipeline_spark.queries.events_analytics import (
            q103_retention,
        )

        plan = _plan(q103_retention(spark, sf_dir))
        assert "count(distinct" not in plan.lower()


class TestStatsMLPlans:
    def test_q111_single_aggregate_no_join(self, spark, sf_dir):
        """All five percentile points must come out of ONE grouped
        aggregate over one scan — no per-percentile re-aggregation,
        no join, no window."""
        from gov_data_pipeline_spark.queries.stats_ml import (
            q111_grouped_percentiles,
        )

        plan = _plan(q111_grouped_percentiles(spark, sf_dir))
        assert "Join" not in plan and "Window" not in plan
        assert plan.count("Scan parquet") == 1

    def test_q112_partial_comoments_before_shuffle(self, spark, sf_dir):
        """Correlation sketches merge associatively: the plan must show
        map-side partial aggregation (the co-moment combine) before the
        group exchange."""
        from gov_data_pipeline_spark.queries.stats_ml import q112_correlation

        df = q112_correlation(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        # the specific co-moment partial, not just any partial aggregate
        assert "partial_corr" in plan
        assert "Join" not in plan

    def test_q113_assignment_is_projection(self, spark, sf_dir):
        """The k-means hot path: nearest-centroid assignment must be a
        pure projection (model enters as literals), never a join of the
        data against a centroid relation."""
        from gov_data_pipeline_spark.queries.stats_ml import (
            _km_assign,
            _km_feats,
        )

        feats = _km_feats(spark, sf_dir)
        assigned = _km_assign(
            feats, [(0, 1.0, 2.0), (1, 3.0, 4.0), (2, 5.0, 6.0), (3, 7.0, 8.0)]
        )
        plan = _plan(assigned)
        assert "Join" not in plan and "Exchange" not in plan
        assert "Project" in plan

    def test_q114_decile_model_broadcast(self, spark, sf_dir):
        """The per-type decile table is the model: it must broadcast
        back over the event scan (no key shuffle of the log against a
        types-sized relation), and no cartesian bigger than the tiny
        spine may appear."""
        from gov_data_pipeline_spark.queries.stats_ml import q114_psi_drift

        df = q114_psi_drift(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "CartesianProduct" not in final

    def test_q115_integer_filter_before_any_exchange(self, spark, sf_dir):
        """PPS sampling is a scan-side decision: the only plan nodes
        between the document scan and the keep-filter are the 1-row
        totals broadcast — the corpus itself must cross no exchange
        before it is filtered."""
        from gov_data_pipeline_spark.queries.stats_ml import (
            q115_weighted_sample,
        )

        df = q115_weighted_sample(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        # 1-row totals arrive via a broadcast nested-loop cross; the
        # corpus side of that join must sit directly on the file scan.
        assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
        # and nothing below the keep-filter may shuffle: the plan text
        # lists a node's subtree after it, so no hash/range exchange is
        # allowed after the first Filter (BroadcastExchange is the
        # totals build and is fine)
        below_filter = final.split("Filter", 1)[1]
        assert "Exchange hashpartitioning" not in below_filter
        assert "Exchange rangepartitioning" not in below_filter

    def test_q116_median_model_broadcast(self, spark, sf_dir):
        """Both median and MAD come back as broadcasts of a <=#types-row
        model; the event log itself is never key-shuffled for a join."""
        from gov_data_pipeline_spark.queries.stats_ml import q116_mad_outliers

        df = q116_mad_outliers(spark, sf_dir)
        df.collect()
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final
        assert "SortMergeJoin" not in final

    def test_q117_single_aggregate_no_window(self, spark, sf_dir):
        """OHLC bars must be ONE hash aggregate (min_by/max_by over the
        struct key) — the two-window textbook form the oracle runs is
        exactly what the plan must NOT contain."""
        from gov_data_pipeline_spark.queries.events_analytics import (
            q117_ohlc_bars,
        )

        plan = _plan(q117_ohlc_bars(spark, sf_dir))
        assert "Window" not in plan and "Join" not in plan
        assert plan.count("Scan parquet") == 1

    def test_q118_projection_until_label_rollup(self, spark, sf_dir):
        """Quantization + error audit stay elementwise: no join, no
        exchange before the per-label aggregate, no Python UDF."""
        from gov_data_pipeline_spark.queries.stats_ml import q118_embed_quantize

        plan = _plan(q118_embed_quantize(spark, sf_dir))
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert plan.count("Exchange") <= 2  # group hash + final sort

    def test_q119_ols_is_one_aggregate(self, spark, sf_dir):
        from gov_data_pipeline_spark.queries.events_analytics import (
            q119_trend_regression,
        )

        plan = _plan(q119_trend_regression(spark, sf_dir))
        assert "Window" not in plan and "Join" not in plan
        assert plan.count("Scan parquet") == 1

    def test_q128_row_checks_single_scan(self, spark, sf_dir):
        """The expectations row-check portion must be ONE scan + ONE
        aggregate: counters come out as an array<struct> from a single
        agg and reshape via explode. The union-of-selects form this
        replaced re-planned into N independent aggregates (q128 scanned
        lineitem 14 times — round-4 ADVICE)."""
        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.expect import (
            expectations_report,
        )
        from pyspark.sql import functions as F

        li = read_table(spark, sf_dir, "lineitem")
        rep = expectations_report(
            li,
            [
                ("price_positive", F.col("l_extendedprice") > 0),
                ("qty_in_range", F.col("l_quantity").between(1, 50)),
                ("flag_enum", F.col("l_returnflag").isin("A", "N", "R")),
            ],
        )
        plan = _plan(rep)
        assert plan.count("Scan parquet") == 1
        assert plan.count("Union") == 0
        # full q128 (row checks + FK anti-join + total) stays bounded too
        from gov_data_pipeline_spark.queries.quality import q128_expectations

        full = _plan(q128_expectations(spark, sf_dir))
        assert full.count("Scan parquet") <= 4

    def test_expectations_rejects_bad_names(self, spark, sf_dir):
        import pytest
        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.expect import (
            expectations_report,
        )
        from pyspark.sql import functions as F

        li = read_table(spark, sf_dir, "lineitem")
        ok = F.col("l_quantity") > 0
        with pytest.raises(ValueError, match="duplicate"):
            expectations_report(li, [("a", ok), ("a", ok)])
        with pytest.raises(ValueError, match="collides"):
            expectations_report(li, [("n_rows", ok)])
        with pytest.raises(ValueError, match="at least one"):
            expectations_report(li, [])


class TestCrawlSurfacePlans:
    """Plan pins for the round-5 crawl/media surface: all-JVM rule
    chains stay free of Python evaluators, probes that claim broadcast
    joins really broadcast, and the one deliberate Python crossing
    (the ISO-BMFF box walk) appears exactly once. Counts use <= where
    AQE's plan printing duplicates subtrees (Final + Initial Plan)."""

    def _plan(self, df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_web_rule_chains_stay_jvm_side(self, spark, sf_dir):
        from gov_data_pipeline_spark.queries.ingest import (
            q129_html_extract,
            q130_url_normalize,
            q132_sitemap_extract,
        )

        for q in (q129_html_extract, q130_url_normalize, q132_sitemap_extract):
            plan = self._plan(q(spark, sf_dir))
            assert "BatchEvalPython" not in plan
            assert "ArrowEval" not in plan
            assert "MapInPandas" not in plan
            assert "CartesianProduct" not in plan

    def test_robots_parse_is_broadcast_per_host(self, spark, sf_dir):
        """q133 parses robots on the distinct-source side and
        broadcast-joins the parsed rules — the corpus side must never
        shuffle for the join."""
        from gov_data_pipeline_spark.queries.ingest import q133_robots_gate

        plan = self._plan(q133_robots_gate(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan

    def test_media_probes_python_budget(self, spark, sf_dir):
        """q134 is all-JVM (binary-slice probe); q135's ONLY Python
        crossing is the box walker's MapInPandas."""
        from gov_data_pipeline_spark.queries.ingest import (
            q134_image_dims,
            q135_media_meta,
        )

        p134 = self._plan(q134_image_dims(spark, sf_dir))
        assert "MapInPandas" not in p134 and "ArrowEval" not in p134
        assert "BroadcastHashJoin" in p134
        p135 = self._plan(q135_media_meta(spark, sf_dir))
        # AQE printing shows the plan twice (Final + Initial)
        assert 1 <= p135.count("MapInPandas") <= 2
        assert "BatchEvalPython" not in p135

    def test_pagerank_no_cartesian_and_checkpointed(self, spark, sf_dir):
        """q131's iterations are equi-joins over checkpointed state —
        no cross joins, and the final plan reads checkpointed RDDs,
        not the parquet source (lineage cut per round)."""
        from gov_data_pipeline_spark.queries.ingest import q131_pagerank

        plan = self._plan(q131_pagerank(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Scan ExistingRDD" in plan or "Scan parquet" not in plan

    def test_pagerank_mass_plan_shape(self, spark, sf_dir):
        """q137 (conserve_mass=True) adds one 1-row dangling-sum
        broadcast per iteration — a BroadcastNestedLoopJoin over a
        single aggregate row is bounded and fine, but a data-sized
        CartesianProduct is not; corpus-sized relations must still
        move only through equi-joins, with lineage cut per round."""
        from gov_data_pipeline_spark.queries.ingest import q137_pagerank_mass

        plan = self._plan(q137_pagerank_mass(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "Scan ExistingRDD" in plan or "Scan parquet" not in plan

    def test_semantic_decontaminate_broadcasts_benchmark(self, spark, sf_dir):
        """q138: the eval set must meet the corpus as a BROADCAST
        nested-loop (eval sets are tiny; the corpus must not shuffle
        before the per-vector max), and the only exchange is the
        one-row-per-vector partial aggregate."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q138_semantic_decontaminate,
        )

        plan = self._plan(q138_semantic_decontaminate(spark, sf_dir))
        final = plan.split("Initial Plan")[0]  # AQE prints the plan twice
        assert "CartesianProduct" not in plan
        assert final.count("BroadcastNestedLoopJoin") == 1
        assert final.count("Exchange hashpartitioning") <= 1

    def test_semantic_decontaminate_lsh_no_nested_loop(self, spark, sf_dir):
        """q140 exists to kill q138's nested loop at large benchmark
        sizes: candidates must come from the (table, bucket) equi-join
        — no CartesianProduct, no BroadcastNestedLoopJoin anywhere."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q140_semantic_decontaminate_lsh,
        )

        plan = self._plan(q140_semantic_decontaminate_lsh(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_char_budget_mix_single_source_shuffle(self, spark, sf_dir):
        """q139: per-source totals broadcast (BroadcastHashJoin, never
        a shuffle join), ONE window shuffle by source whose
        partitioning the final per-source rollup REUSES — exactly two
        hash exchanges in the whole plan (window input + the tiny
        totals aggregate)."""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q139_char_budget_mix,
        )

        plan = self._plan(q139_char_budget_mix(spark, sf_dir))
        final = plan.split("Initial Plan")[0]  # AQE prints the plan twice
        assert "CartesianProduct" not in plan
        assert final.count("BroadcastHashJoin") == 1
        assert "SortMergeJoin" not in final
        assert final.count("Exchange hashpartitioning") <= 2

    def test_roundtrip_readback_prunes_partitions(self, spark, sf_dir):
        """q136's read-back scan must carry the l_returnflag partition
        filter — the point of writing partitioned."""
        from gov_data_pipeline_spark.queries.ingest import (
            q136_parquet_roundtrip,
        )

        df = q136_parquet_roundtrip(spark, sf_dir)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert part_lines and any("l_returnflag" in l for l in part_lines)


class TestCorpusRound6Plans:
    """Plan pins for the round-6 corpus-analysis additions: the scale
    claims in their docstrings must be visible in the executed plan."""

    def _plan(self, df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_distinctive_terms_tiny_relations_broadcast(self, spark, sf_dir):
        """q143: per-source totals and the 1-row vocab aggregate join
        as broadcasts (never a shuffle join of corpus-sized data), and
        the only nested-loop join is the 1-row global cross join."""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q143_distinctive_terms,
        )

        plan = self._plan(q143_distinctive_terms(spark, sf_dir))
        assert "CartesianProduct" not in plan
        final = plan.split("Initial Plan")[0]
        # ts broadcast + gl broadcast-nested-loop (1 row); the term
        # join may be SMJ/shuffled-hash (vocabulary x vocabulary)
        assert "BroadcastHashJoin" in final

    def test_duplicate_passages_all_codegen_no_python(self, spark, sf_dir):
        """q144: the gram stage must stay inside whole-stage codegen —
        no Python evaluators, no interpreted-HOF fallback marker, no
        CartesianProduct; only integer/window/aggregate work after."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q144_duplicate_passages,
        )

        plan = self._plan(q144_duplicate_passages(spark, sf_dir))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        # codegen spans print as "*(n)" in executedPlan().toString()
        assert "*(" in plan
        # the gram stage fused scan->split->explode->xxhash64 (no
        # separate interpreted-HOF projection): element_at assembly
        # visible
        assert "element_at" in plan

    def test_cluster_split_adds_no_shuffle_over_q67(self, spark, sf_dir):
        """q145 = q67's clustering + a hash projection: same exchange
        count as q67's cluster stage, no Python, no cartesian."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q145_cluster_split,
            q67_dedup_clusters,
        )

        p45 = self._plan(q145_cluster_split(spark, sf_dir))
        p67 = self._plan(q67_dedup_clusters(spark, sf_dir))
        assert "BatchEvalPython" not in p45
        assert "CartesianProduct" not in p45
        assert p45.count("Exchange hashpartitioning") <= p67.count(
            "Exchange hashpartitioning"
        )

    def test_source_overlap_reuses_shingle_exchange(self, spark, sf_dir):
        """q142: the distinct (source, shingle) relation has three
        consumers (sizes, intersection a/b) — the plan must REUSE its
        exchange rather than recompute the corpus-sized distinct, and
        the only cross join is the tiny sizes x sizes broadcast."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q142_source_overlap,
        )

        plan = self._plan(q142_source_overlap(spark, sf_dir))
        assert "ReusedExchange" in plan
        assert "CartesianProduct" not in plan
        final = plan.split("Initial Plan")[0]
        assert final.count("Exchange hashpartitioning") <= 7

    def test_epoch_mixture_zero_data_shuffles(self, spark, sf_dir):
        """q146: one scan, one Generate, zero hash exchanges (the
        ORDER BY's range exchange is presentation-only), no Python."""
        from gov_data_pipeline_spark.queries.corpus_ops import (
            q146_epoch_mixture,
        )

        plan = self._plan(q146_epoch_mixture(spark, sf_dir))
        final = plan.split("Initial Plan")[0]
        assert final.count("Exchange hashpartitioning") == 0
        assert final.count("FileScan parquet") == 1
        assert "Generate explode" in final
        assert "EvalPython" not in plan

    def test_data_card_single_scan(self, spark, sf_dir):
        """q147: the whole per-column profile is ONE scan of orders —
        the multi-count_distinct Expand rides the single aggregate; no
        per-column re-scan, no join, no Python."""
        from gov_data_pipeline_spark.queries.stats_ml import q147_data_card

        plan = self._plan(q147_data_card(spark, sf_dir))
        final = plan.split("Initial Plan")[0]
        assert final.count("FileScan parquet") == 1
        assert "Join" not in final
        assert "EvalPython" not in plan

    def test_doc_pack_prunes_text_before_python(self, spark, sf_dir):
        """q149: the packer's claim is that document TEXT never reaches
        the Python stage — the scan must read only (doc_id, n_chars),
        and the single Python crossing is the grouped-map pandas op."""
        from gov_data_pipeline_spark.queries.dedup_sim import q149_doc_pack_nfd

        df = q149_doc_pack_nfd(spark, sf_dir)
        df.collect()
        plan = _formatted(df)
        reads = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert reads and all("text" not in l for l in reads)
        assert "FlatMapGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan

    def test_token_pack_tokenizer_is_single_arrow_crossing(
        self, spark, sf_dir
    ):
        """q153: tokenizer-aware budgeting must add ZERO data movement
        over q149 — the mock-BPE count is one scan-side Arrow-batched
        crossing (ArrowEvalPython, never row-at-a-time BatchEvalPython)
        feeding the same grouped-map packer; the only hash exchange is
        the packer's shard partition. The scan may read only
        (doc_id, text)."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            q153_token_budget_pack,
        )

        df = q153_token_budget_pack(spark, sf_dir)
        df.collect()
        plan = self._plan(df)
        final = plan.split("Initial Plan")[0]
        assert final.count("ArrowEvalPython") == 1
        assert final.count("FlatMapGroupsInPandas") == 1
        assert "BatchEvalPython" not in plan
        reads = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert reads and all(
            "doc_id" in l and "n_chars" not in l for l in reads
        )
        assert final.count("Exchange hashpartitioning") == 1


class TestMulticlassRoutingPlan:
    @staticmethod
    def _plan(df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_score_multiclass_one_explode_broadcast_model(
        self, spark, sf_dir
    ):
        """score_multiclass_model (q198's engine): the corpus text is
        exploded ONCE regardless of class count, the (class, feature,
        weight) model joins by BROADCAST, and no per-class scan or
        nested loop appears — routing cost is independent of k except
        for the bounded classes-per-feature join fan-out."""
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.catalog import read_table
        from gov_data_pipeline_spark.operators.scoring import (
            class_count_model,
            score_multiclass_model,
        )

        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text", (F.col("doc_id") % 3).alias("label")
        )
        model = class_count_model(
            docs, "doc_id", F.col("text"), F.col("label"), n_features=1 << 10
        )
        routed = score_multiclass_model(
            docs, "doc_id", F.col("text"), model, n_features=1 << 10
        ).select("doc_id", "pred_class", "logit")
        plan = self._plan(routed)
        final = plan.split("Initial Plan")[0]
        # one Generate per hashed_token_features pass — model build +
        # scoring share an IDENTICAL feature subtree, so exchange reuse
        # may collapse them to one physical explode (observed); what
        # must never appear is a per-class multiplier (3 classes here)
        n_explodes = final.count("Generate explode")
        assert 1 <= n_explodes <= 2, n_explodes
        assert "BroadcastHashJoin" in final  # model-as-table join
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan  # all codegen, no Python


class TestPins:
    """``util.pin_partitioned`` builds its checkpoint in a clone of the
    caller's session (AQE off in the clone only) and hands back a
    relation whose ``LogicalRDD`` carries the hash partitioning."""

    @staticmethod
    def _pin(spark):
        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.util import pin_partitioned

        df = spark.range(2000).select(
            (F.col("id") % 37).alias("k"), F.col("id").alias("v")
        )
        return pin_partitioned(df, "k")

    def test_keyed_consumers_of_a_pin_plan_no_exchange(self, spark):
        from pyspark.sql import functions as F

        pin = self._pin(spark)
        agg = pin.groupBy("k").agg(F.sum("v").alias("s"))
        agg.collect()
        assert "Exchange hashpartitioning" not in _plan(agg), _plan(agg)

        a = pin.select("k", F.col("v").alias("va"))
        b = pin.select("k", F.col("v").alias("vb"))
        joined = a.join(b.hint("shuffle_hash"), "k")
        sizes = [len(range(k, 2000, 37)) for k in range(37)]
        assert joined.count() == sum(n * n for n in sizes)
        plan = _plan(joined)
        assert "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan

    def test_pin_width_follows_runtime_shuffle_partitions(self, spark):
        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        spark.conf.set(key, "3")
        try:
            pin = self._pin(spark)
            assert pin.rdd.getNumPartitions() == 3
            parts = (
                pin._jdf.queryExecution().analyzed().outputPartitioning()
            ).toString()
            assert parts.startswith("hashpartitioning(k#") and parts.endswith(
                ", 3)"
            ), parts
        finally:
            spark.conf.set(key, prev)

    def test_sibling_query_plans_under_aqe_while_a_pin_builds(self, spark):
        """A pin never switches the caller's AQE off: a sibling thread
        that reads the conf and plans a query while the pin's job runs
        sees ``true`` and gets an ``AdaptiveSparkPlan``. A sleeping UDF
        in the pin's input holds its job open for ~3 s."""
        import threading
        import time

        from pyspark.sql import functions as F

        from gov_data_pipeline_spark.util import pin_partitioned

        @F.udf("long")
        def slow(x):
            import time

            time.sleep(0.75)
            return x

        src = spark.range(0, 4, numPartitions=1).select(
            slow(F.col("id")).alias("k")
        )
        result = {}

        def build():
            sc.setJobGroup("pin-probe", "pin under a sibling probe")
            result["pin"] = pin_partitioned(src, "k")

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        builder = threading.Thread(target=build)
        builder.start()
        deadline = time.monotonic() + 120
        while not tracker.getJobIdsForGroup("pin-probe"):
            assert builder.is_alive() and time.monotonic() < deadline
            time.sleep(0.01)

        seen = set()
        sibling = spark.range(1000).groupBy((F.col("id") % 7).alias("m")).count()
        for _ in range(20):
            seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
        executed = sibling._jdf.queryExecution().executedPlan()
        for _ in range(20):
            seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
        assert builder.is_alive(), "the pin finished before the probe ran"
        builder.join()

        assert seen == {"true"}, seen
        assert executed.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        assert sorted(r.k for r in result["pin"].collect()) == [0, 1, 2, 3]
        assert "Exchange hashpartitioning" not in _plan(
            result["pin"].groupBy("k").count()
        )

    def test_q198_final_plan_keeps_one_hash_exchange(self, spark, sf_dir):
        from gov_data_pipeline_spark.queries.quality import q198_multiclass_route

        df = q198_multiclass_route(spark, sf_dir)
        df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1, final


class TestPlanBuildBudget:
    """Building a plan costs few Python->JVM (py4j) round trips: no
    per-call call-site capture, one SQL expression per generated
    expression family. Counts exclude py4j's ``m`` memory commands,
    which follow Python's GC, and other threads' commands."""

    @staticmethod
    def _round_trips(monkeypatch, build) -> int:
        import threading

        from py4j.clientserver import ClientServerConnection

        send = ClientServerConnection.send_command
        me = threading.get_ident()
        n = [0]

        def counting(self, command, *args, **kwargs):
            if threading.get_ident() == me and not command.startswith("m\n"):
                n[0] += 1
            return send(self, command, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counting)
            build()
        return n[0]

    def test_session_turns_call_site_capture_off(self, spark):
        assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    def test_q155_plan(self, spark, sf_dir, monkeypatch):
        from gov_data_pipeline_spark.queries.dedup_sim import q155_sparse_cosine_topk

        # ~540 round trips; 1,233 with call-site capture on.
        n = self._round_trips(monkeypatch, lambda: q155_sparse_cosine_topk(spark, sf_dir))
        assert n <= 700, n

    def test_minhash_profile_plan(self, spark, monkeypatch):
        from gov_data_pipeline_spark.operators.dedup import minhash_doc_profile

        ex = spark.createDataFrame([(1, "a b"), (2, "c d")], "doc_id long, s string")
        # ~90 round trips; 2,713 with one Column per min term.
        n = self._round_trips(
            monkeypatch,
            lambda: minhash_doc_profile(ex, "doc_id", 32, hash_family="md5"),
        )
        assert n <= 200, n


class TestSmallShuffles:
    """Small shuffles that feed CPU-heavy stages run on every core: AQE
    coalesces partitions only down to 64 KiB, Tungsten pages are small
    enough that the extra tasks do not grow the heap, and q155 scores
    each document pair once."""

    def test_session_sets_partition_floor_and_page_size(self, spark):
        from gov_data_pipeline_spark.session import page_size_bytes

        floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        assert spark.conf.get(floor) == "64k"
        conf = spark.sparkContext.getConf()
        page = page_size_bytes(conf.get("spark.driver.memory"))
        assert conf.get("spark.buffer.pageSize") == str(page)
        memory = spark._jsc.sc().env().memoryManager()
        assert memory.pageSizeBytes() == page
        # 16 bytes short of a power of two, for the long[] header.
        assert (page + 16) & (page + 15) == 0

    def test_pages_fill_whole_g1_regions(self, spark):
        """An on-heap page is a long[] with a 16-byte header. Under G1
        it must either fill whole regions or stay below half a region;
        a humongous object takes whole regions, so a page of 1 MiB plus
        its header would hold two 1 MiB regions, and a page of half a
        region would hold a whole one."""
        import pytest

        jvm = spark._jvm
        mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        if mx.getVMOption("UseG1GC").getValue() != "true":
            pytest.skip("the driver does not run G1")
        region = int(mx.getVMOption("G1HeapRegionSize").getValue())
        array = spark._jsc.sc().env().memoryManager().pageSizeBytes() + 16
        assert array % region == 0 or 2 * array < region, (array, region)

    def test_page_table_covers_the_execution_pool(self, spark):
        """A task holds at most TaskMemoryManager's PAGE_TABLE_SIZE
        pages and fails when it asks for one more, so the pages must
        cover all the execution memory one task may be granted."""
        tmm = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.memory.TaskMemoryManager"
        )
        field = tmm.getDeclaredField("PAGE_TABLE_SIZE")
        field.setAccessible(True)
        memory = spark._jsc.sc().env().memoryManager()
        assert field.getInt(None) * memory.pageSizeBytes() >= memory.maxHeapMemory()

    def test_q155_self_join_emits_each_pair_once(self, spark, sf_dir, duck):
        """The posting self-join keeps a < b: half the ordered partial
        products of the oracle's ``a.doc_id <> b.doc_id`` join, and the
        result stays hash-equal to the oracle."""
        from gov_data_pipeline_spark.queries.dedup_sim import (
            _Q155_SQL,
            q155_sparse_cosine_topk,
        )
        from tests.oracle import compare, run_oracle

        df = q155_sparse_cosine_topk(spark, sf_dir)
        assert compare(df.toPandas(), run_oracle(duck, _Q155_SQL))["hash_match"]

        def nodes(p):
            yield p
            name = p.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                kids = [p.executedPlan()]
            elif name.endswith("QueryStageExec"):
                kids = [p.plan()]
            else:
                ch = p.children()
                kids = [ch.apply(i) for i in range(ch.size())]
            for k in kids:
                yield from nodes(k)

        self_joins = [
            n.metrics().get("numOutputRows").get().value()
            for n in nodes(df._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName().endswith("JoinExec")
            and "__a" in n.simpleString(100)
            and "[term" in n.simpleString(100)
        ]
        # The oracle's CTEs up to the postings relation p.
        postings = _Q155_SQL[: _Q155_SQL.index("nrm AS")].rstrip().rstrip(",")
        (ordered,) = duck.execute(
            postings + "\nSELECT count(*) FROM p a JOIN p b"
            " ON a.term = b.term AND a.doc_id <> b.doc_id"
        ).fetchone()
        assert len(self_joins) == 1, self_joins
        assert 2 * self_joins[0] == ordered
