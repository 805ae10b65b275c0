"""Physical-plan quality gates for the 100 TB design point.

These assert the *plan shape*, not results: filters reach the parquet
scan, projection is pruned to the read schema, small dimensions
broadcast, top-k avoids a total sort. A correct-but-unscalable plan
fails here before it ever costs anything on a cluster."""

import pytest
from pyspark.sql import functions as F

from hadoop_distributed_dynamic_file_system_spark import queries as q
from hadoop_distributed_dynamic_file_system_spark import queries_llm  # noqa: F401
# ^ registration side effect: q.QUERIES only contains the LLM family
# after this import — without it the all-queries sweeps below silently
# iterate the core set only (and pass/fail depending on which module
# imported queries_llm first in the session)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class TestPlanQuality:
    def test_q1_filter_pushed_and_columns_pruned(self, spark, sf_dir):
        df = q.q1_pricing_summary(spark, sf_dir)
        plan = formatted(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
        # read schema must NOT include unused wide columns
        read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
        assert "l_comment" not in read_schema and "l_shipmode" not in read_schema
        assert "l_quantity" in read_schema

    def test_q1_partial_aggregation(self, spark, sf_dir):
        # combiner analog: partial (map-side) agg before the shuffle
        plan = plan_of(q.q1_pricing_summary(spark, sf_dir))
        assert plan.count("HashAggregate") >= 2  # partial + final

    def test_revenue_per_nation_broadcasts_dims(self, spark, sf_dir):
        plan = plan_of(q.revenue_per_nation(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 2  # customer, nation

    def test_top_k_no_total_sort(self, spark, sf_dir):
        plan = plan_of(q.top_k_q(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_wordcount_whole_stage_codegen(self, spark, sf_dir):
        df = q.wordcount(spark, sf_dir)
        df.collect()  # AQE: codegen spans only visible in the final plan
        plan = plan_of(df)
        # codegen stages render as `*(n)` in the executed-plan string
        assert "isFinalPlan=true" in plan and "*(1)" in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python

    def test_no_python_udf_in_relational_queries(self, spark, sf_dir):
        # every §2-parity operator must stay JVM-side; Python appears
        # ONLY at the declared Arrow/pipe boundaries — row-at-a-time
        # Python nowhere, and Arrow-batched stages only in the
        # multimodal/UDAF/pipe families
        arrow_ok = {
            "udaf_geomean",            # GROUPED_AGG pandas UDF
            "media_roundtrip",         # mapInPandas encode+real decode
            "wav_roundtrip",           # mapInPandas encode+RIFF parse
            "pipe_translate",          # rdd.pipe external process
            "crash_skip",              # mapInPandas quarantine of a
                                       # crashing user map function
            "image_ahash_roundtrip",   # mapInPandas encode + raster
                                       # decode + perceptual hash
            "audio_fingerprint_roundtrip",  # mapInPandas encode + RIFF
                                            # parse + energy fingerprint
            "video_metadata_roundtrip",     # mapInPandas ISO-BMFF box walk
            "warc_gzip_members",            # mapInPandas gzip-member
                                            # compress + inflate (codec
                                            # work — genuinely non-Catalyst)
            "normalized_corpus",            # pandas_udf NFC composition
                                            # (Unicode tables — non-Catalyst)
            "normalized_dedup",             # same NFC stage before dedup
            "crawl_to_chunks_pipeline",     # gzip inflate + NFC stages of
                                            # the flagship ingest pipeline
            "png_ahash_roundtrip",          # mapInPandas zlib deflate +
                                            # IDAT inflate/unfilter decode
            "gif_ahash_roundtrip",          # mapInPandas LZW encode +
                                            # decode (codec — non-Catalyst)
            "jpeg_ahash_roundtrip",         # mapInPandas Huffman+IDCT
                                            # encode/decode (codec)
            "media_index_retraction",       # mapInPandas BMP encode +
                                            # raster decode feeding the
                                            # retractable media index
        }
        for name, fn in q.QUERIES.items():
            plan = plan_of(fn(spark, sf_dir))
            assert "BatchEvalPython" not in plan, f"{name} uses row Python UDF"
            if name not in arrow_ok:
                for node in ("MapInPandas", "ArrowEvalPython",
                             "FlatMapGroupsInPandas"):
                    assert node not in plan, f"{name} has undeclared {node}"

    def test_jpeg_roundtrip_decode_is_parallel(self, spark, sf_dir):
        # the testdata parquet is ONE row group -> one partition; the
        # decode stage must sit above an explicit repartition or it
        # runs serially (7.1 s -> 1.2 s at sf0.1 when this held)
        plan = plan_of(q.QUERIES["jpeg_ahash_roundtrip"](spark, sf_dir))
        assert "RoundRobinPartitioning" in plan and "MapInPandas" in plan

    def test_semi_join_plans_left_semi(self, spark, sf_dir):
        plan = plan_of(q.semi_join_q(spark, sf_dir))
        assert "LeftSemi" in plan

    def test_q4_exists_plans_semi_join_not_subquery_rescan(self, spark, sf_dir):
        plan = plan_of(q.q4_order_priority(spark, sf_dir))
        assert "LeftSemi" in plan
        assert "SubqueryExec" not in plan  # EXISTS became a join, not a re-scan

    def test_q16_not_in_plans_anti_join(self, spark, sf_dir):
        plan = plan_of(q.q16_supplier_variety(spark, sf_dir))
        assert "LeftAnti" in plan

    def test_q18_having_filter_before_semi_join(self, spark, sf_dir):
        # the grouped-HAVING subquery must aggregate with a partial
        # phase and the re-aggregation runs on the semi-joined stream
        plan = plan_of(q.q18_large_orders(spark, sf_dir))
        assert "LeftSemi" in plan
        assert plan.count("HashAggregate") >= 4  # partial+final, twice

    def test_q17_window_is_partitioned_by_partkey(self, spark, sf_dir):
        # the correlated scalar avg decorrelates into a *partitioned*
        # window — a global (unpartitioned) Window would single-task it
        plan = plan_of(q.q17_small_qty_revenue(spark, sf_dir))
        assert "Window" in plan
        assert "hashpartitioning(l_partkey" in plan

    def test_q21_exists_and_not_exists_become_joins(self, spark, sf_dir):
        plan = plan_of(q.q21_sole_fault_supplier(spark, sf_dir))
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "SubqueryExec" not in plan

    def test_q22_anti_join_and_pushed_date(self, spark, sf_dir):
        plan = formatted(q.q22_dormant_customers(spark, sf_dir))
        assert "LeftAnti" in plan
        assert "GreaterThanOrEqual(o_orderdate" in plan  # dormancy cutoff at the scan

    def test_q15_max_is_broadcast_not_resort(self, spark, sf_dir):
        plan = plan_of(q.q15_top_supplier(spark, sf_dir))
        # scalar-max equality arrives as a broadcast join, not a sort
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_events_hourly_partial_agg(self, spark, sf_dir):
        plan = plan_of(q.events_hourly(spark, sf_dir))
        assert plan.count("HashAggregate") >= 2

    def test_point_lookup_pushes_in_filter(self, spark, sf_dir):
        plan = formatted(q.point_lookup(spark, sf_dir))
        assert "PushedFilters: [In(o_orderkey" in plan

    def test_sql_surface_pushes_both_filters(self, spark, sf_dir):
        plan = formatted(q.sql_order_revenue(spark, sf_dir))
        assert "LessThan(o_orderdate" in plan
        assert "GreaterThan(l_shipdate" in plan
        assert "EqualTo(c_mktsegment,BUILDING)" in plan


class TestRound2PlanQuality:
    def test_q19_part_prefilter_pushed_to_scan(self, spark, sf_dir):
        """The factored part-side implication of the disjunction must
        reach the part parquet scan as pushed filters."""
        plan = formatted(q.q19_discounted_revenue(spark, sf_dir))
        assert "In(p_brand" in plan
        assert "GreaterThanOrEqual(p_size,1)" in plan and "LessThanOrEqual(p_size,15)" in plan

    def test_q10_topk_after_agg_uses_heaps(self, spark, sf_dir):
        plan = plan_of(q.q10_returned_items(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_q5_single_fact_shuffle(self, spark, sf_dir):
        """Only lineitem⋈orders may shuffle; all dims broadcast."""
        plan = plan_of(q.q5_local_supplier(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1

    def test_rolling_stats_single_window_exchange(self, spark, sf_dir):
        """Three window columns over one (partition, order) spec must
        plan ONE exchange and ONE Window operator."""
        df = q.user_rolling_stats(spark, sf_dir)
        plan = plan_of(df)
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Window") == 1


class TestRuntimeBloomFilter:
    def test_shuffle_join_injects_bloom_filter_on_fact_side(self, spark, tmp_path):
        """Spark's runtime bloom-filter join pruning (the engine-level
        BloomMapFile descendant): a selective dim-side filter seeds a
        bloom_filter_agg subquery whose might_contain() prunes the fact
        scan BEFORE the shuffle. Locally the 10 GB application-side
        threshold never triggers, so the test lowers it to 0 — at the
        100 TB design point the default fires on every real fact scan."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
            spark.range(100000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).write.mode("overwrite").parquet(fact_p)
            spark.range(5000).select(
                F.col("id").alias("k"), F.lit("x").alias("attr")
            ).write.mode("overwrite").parquet(dim_p)
            fact = spark.read.parquet(fact_p)
            dim = spark.read.parquet(dim_p).filter(F.col("k") % 100 == 0)
            plan = plan_of(fact.join(dim, "k"))
            assert "might_contain" in plan and "bloom_filter_agg" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestProfilingPlan:
    def test_profile_single_scan(self, spark, sf_dir):
        """All per-column metrics fold into ONE table scan (the oracle's
        UNION-ALL spelling scans once per column)."""
        plan = plan_of(q.profile_customer(spark, sf_dir))
        assert plan.count("Scan parquet") == 1


class TestRound3PlanQuality:
    def test_derived_partsupp_has_no_cross_join(self, spark, sf_dir):
        # the O(|part|) pairing is an explode, not a filtered cross
        # product: no cartesian node may appear in the ps-consuming
        # TPC-H plans (q11's 1-row scalar broadcast legitimately plans
        # as BroadcastNestedLoopJoin — that is the correct shape for a
        # scalar subquery, not a data-sized cross product)
        for name in ("q9_product_profit", "q11_important_stock"):
            plan = formatted(q.QUERIES[name](spark, sf_dir))
            assert "CartesianProduct" not in plan, name

    def test_partsupp_generator_is_explode_over_part(self, spark, sf_dir):
        plan = formatted(q._partsupp(spark, sf_dir))
        assert "explode" in plan  # Generate node, whole-stage codegen
        assert "CartesianProduct" not in plan
        assert "Join" not in plan  # pure per-row expansion, no join
        # only the part table is scanned (the supplier count is a
        # driver-side scalar, not a join input)
        assert plan.count("Location: InMemoryFileIndex") == 1


class TestRound4PlanQuality:
    def test_streaming_near_dedup_is_broadcast_anti_chain(self, spark, sf_dir):
        # the per-band probes must be broadcast anti-joins (index is
        # the small side by construction); a SortMergeJoin here would
        # re-shuffle the document stream once per band
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup
        from hadoop_distributed_dynamic_file_system_spark.streaming import events as ev

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        idx = dedup.lsh_band_index(d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text")
        plan = formatted(ev.streaming_near_dedup(d.filter(F.col("doc_id") % 2 == 1), idx))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "LeftAnti" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_winnow_is_single_scan_no_join(self, spark, sf_dir):
        # fingerprint selection is a narrow array pipeline: one scan,
        # no join; the only exchange is the distinct
        from hadoop_distributed_dynamic_file_system_spark.operators import textanalysis as ta

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(ta.winnow_fingerprints(d, "doc_id", "text"))
        assert "Join" not in plan
        assert plan.count("Location: InMemoryFileIndex") == 1

    def test_dup_ngram_fraction_reads_pruned_schema(self, spark, sf_dir):
        # only doc_id + text must reach the scan
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(dedup.duplicate_ngram_fraction(d, "doc_id", "text"))
        import re

        schemas = re.findall(r"ReadSchema: (.*)", plan)
        assert schemas and all(
            "text" in s and "lang" not in s for s in schemas
        )


class TestRound5PlanQuality:
    def test_gopher_quality_is_zero_shuffle_projection(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark.operators import webquality as wq

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(wq.gopher_quality(d, "doc_id", "text"))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_c4_line_filters_zero_shuffle(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark.operators import webquality as wq

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(wq.c4_line_filters(d, "doc_id", "text"))
        assert "Exchange" not in plan and "Join" not in plan

    def test_line_dedup_no_cartesian_and_pruned_scan(self, spark, sf_dir):
        import re

        from hadoop_distributed_dynamic_file_system_spark.operators import webquality as wq

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(wq.line_dedup_global(d, "doc_id", "text"))
        assert "CartesianProduct" not in plan
        schemas = re.findall(r"ReadSchema: (.*)", plan)
        assert schemas and all("lang" not in s and "source" not in s for s in schemas)

    def test_span_dedup_no_cartesian(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = formatted(dedup.remove_duplicated_spans(d, "doc_id", "text"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_dsir_models_broadcast_not_shuffled(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark.operators import webquality as wq

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        target = d.limit(100)
        plan = formatted(wq.dsir_importance(d, "doc_id", "text", target))
        # the two 1024-row model relations and both totals join via
        # broadcast; the only SMJ-eligible join keys are model-side
        assert plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        ) >= 4
        assert "CartesianProduct" not in plan

    def test_classifier_scoring_broadcasts_weights(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            classifier as cl,
            webquality as wq,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        wt = wq.dsir_bucket_weights(d, "text", d.limit(100))
        plan = formatted(
            cl.quality_classifier_scores(d, "doc_id", "text", wt)
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_bigram_lm_single_model_pass(self, spark, sf_dir):
        # the (bigram, context) model is ONE groupBy over the pair
        # stream; context counts derive from the materialized bigram
        # relation, not a second corpus explode
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            textanalysis as ta,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = ta.bigram_lm_scores(d, "doc_id", "text")
        df.write.mode("overwrite").format("noop").save()
        plan = formatted(df)
        assert "InMemoryTableScan" in plan  # model reused, not rebuilt
        from hadoop_distributed_dynamic_file_system_spark import cache

        cache.release_all()
        spark.catalog.clearCache()
