"""Scale utilities (bucketed co-located join, salting) + the data-model
type mapping + counters."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_distributed_dynamic_file_system_spark import types as htypes
from hadoop_distributed_dynamic_file_system_spark.operators import skew
from hadoop_distributed_dynamic_file_system_spark.plans.jobspec import JobSpec, run_job


class TestBucketedJoin:
    def test_same_bucketing_joins_without_exchange(self, spark, tmp_path):
        # tables land in the default warehouse dir (gitignored); clear
        # leftovers from interrupted runs (dir outlives the catalog)
        import shutil

        for t in ("t_bl", "t_br"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        left = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(0, 1000, 3).select(
            F.col("id").alias("k"), (F.col("id") + 1).alias("b")
        )
        skew.write_bucketed(left, "t_bl", ["k"], num_buckets=8)
        skew.write_bucketed(right, "t_br", ["k"], num_buckets=8)
        # at test size the planner would broadcast instead (which skips
        # bucketing); force the SMJ path the layout exists for
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = skew.bucketed_join(spark, "t_bl", "t_br", ["k"])
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # the disk layout IS the shuffle: no Exchange in the join plan
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert joined.count() == 334
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE t_bl")
        spark.sql("DROP TABLE t_br")


class TestBucketedWriteAlignment:
    def test_aligned_write_is_one_file_per_bucket(self, spark):
        # files = tasks x buckets without alignment — the small-file
        # explosion write_bucketed's alignment exists to prevent
        import glob
        import shutil

        t = "t_align"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        df = spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).repartition(16)
        try:
            skew.write_bucketed(df, t, ["k"], num_buckets=8)
            files = glob.glob(f"spark-warehouse/{t}/*.parquet")
            assert len(files) == 8
            assert spark.table(t).count() == 10_000
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestBucketedFrozenIndex:
    def test_incremental_dedup_matches_broadcast_form(self, spark):
        # The 100 TB incremental-dedup path: frozen corpus band index
        # as a bucketed disk table (never broadcast) must keep exactly
        # the docs the broadcast form (streaming_near_dedup on a batch
        # frame) keeps.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup
        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as ev,
        )

        t = "t_frozen_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "pack my box with five dozen liquor jugs right now"),
                (3, "sphinx of black quartz judge my vow said the king"),
            ],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [
                # near-copy of doc 1 (first word dropped) -> dropped
                (10, "quick brown fox jumps over the lazy dog today"),
                # fresh text -> kept
                (11, "a completely different document about spark and scale"),
                # shingle-less -> NULL keys -> kept (cannot be judged)
                (12, "tiny"),
            ],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            kept_bucketed = {
                r.doc_id
                for r in dedup.incremental_near_dedup_bucketed(
                    spark, probe, t, "doc_id", "text"
                ).collect()
            }
            idx = dedup.lsh_band_index(corpus, "doc_id", "text")
            kept_broadcast = {
                r.doc_id
                for r in ev.streaming_near_dedup(probe, idx).collect()
            }
            assert kept_bucketed == kept_broadcast == {11, 12}
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_frozen_side_probes_without_exchange(self, spark):
        # Plan pin for the freeze-once discipline: the sort-merge semi
        # probe has exactly ONE Exchange — on the (batch-sized) probe
        # side; the frozen scan is bucketed, so its shuffle was paid
        # at freeze time. (A Sort remains above the frozen scan:
        # vanilla Spark does not consume bucket sortBy metadata for
        # SMJ sort elimination — the at-scale cost eliminated here is
        # the shuffle, which would re-move the whole index per batch.)
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_frozen_bk2"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        corpus = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("document number "),
                F.col("id").cast("string"),
                F.lit(" with enough words to shingle properly here"),
            ).alias("text"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            keyed = dedup.minhash_band_key_cols(
                corpus.filter(F.col("doc_id") < 50), "text"
            )
            probe = keyed.select(
                "doc_id",
                F.explode(
                    F.array(*[F.col(f"_bk{b}") for b in range(4)])
                ).alias("bk"),
            ).filter(F.col("bk").isNotNull())
            semi = probe.join(spark.table(t), "bk", "left_semi")
            plan = semi._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 1  # probe side only
            assert "Bucketed: true" in plan  # frozen scan uses the layout
            assert semi.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()


class TestBucketedMediaIndex:
    def test_incremental_media_dedup_matches_streaming_gate(self, spark):
        # media twin of TestBucketedFrozenIndex: bucketed frozen
        # (band-key, code) index must keep exactly what the verified
        # streaming gate keeps — including hamming verification (a
        # band collision alone must not drop) and NULL survival.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )
        from hadoop_distributed_dynamic_file_system_spark.streaming.events import (
            _streaming_code_dedup,
        )

        t = "t_frozen_media"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        frozen = spark.createDataFrame(
            [(1, 0x1111222233334444), (2, 0x0000FFFF0000FFFF)],
            "doc_id long, ahash long",
        )
        probe = spark.createDataFrame(
            [
                # hamming 1 from frozen #1 -> dropped
                (10, 0x1111222233334445),
                # shares frozen #2's 0xFFFF band values but hamming is
                # far over the radius -> band collision alone, kept
                (11, 0x7777FFFF77770000),
                # far from everything -> kept
                (12, 0x5A5A5A5A5A5A5A5A),
                # undecodable -> NULL code survives
                (13, None),
            ],
            "doc_id long, ahash long",
        )
        try:
            mm.freeze_media_index_bucketed(frozen, t, num_buckets=8)
            kept_bucketed = {
                r.doc_id
                for r in mm.incremental_media_dedup_bucketed(
                    spark, probe, t, max_hamming=3
                ).collect()
            }
            idx = mm.media_band_index(frozen)
            kept_stream_form = {
                r.doc_id
                for r in _streaming_code_dedup(
                    probe, "ahash", idx, 4, 16, 3
                ).collect()
            }
            assert kept_bucketed == kept_stream_form == {11, 12, 13}
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_media_frozen_side_probes_without_exchange(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        t = "t_frozen_media2"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        frozen = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.xxhash64("id").alias("ahash"),
        )
        probe = spark.range(50).select(
            F.col("id").alias("doc_id"),
            F.xxhash64("id").alias("ahash"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            mm.freeze_media_index_bucketed(frozen, t, num_buckets=8)
            bands = mm.hamming_band_cols(F.col("ahash"), 4, 16)
            keys = probe.select(
                "doc_id", "ahash",
                F.explode(F.array(*[
                    F.xxhash64(F.lit(b), c) for b, c in enumerate(bands)
                ])).alias("mbk"),
            )
            joined = keys.join(spark.table(t), "mbk")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Exchange") == 1  # probe side only
            assert "Bucketed: true" in plan
            assert joined.count() >= 50  # every probe id is frozen too
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()


class TestBucketedIndexExtension:
    """Round-9: the day-2 loop closes — survivors of each batch extend
    the frozen bucketed index by APPEND (batch-sized, layout-kept),
    never a corpus-sized rewrite."""

    def test_extend_makes_next_batch_see_survivors(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_extend_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        batch1 = spark.createDataFrame(
            [(10, "a completely novel first batch document about engines")],
            "doc_id long, text string",
        )
        # near-twin of batch1's survivor: without the extension it
        # would survive batch 2 (the frozen corpus never saw doc 10)
        batch2 = spark.createDataFrame(
            [
                (20, "a completely novel first batch document about engines"),
                (21, "some genuinely different second batch text entirely"),
            ],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            kept1 = dedup.incremental_near_dedup_bucketed(
                spark, batch1, t, "doc_id", "text"
            )
            assert {r.doc_id for r in kept1.collect()} == {10}
            dedup.extend_band_index_bucketed(
                spark, kept1, t, "doc_id", "text", num_buckets=8
            )
            kept2 = {
                r.doc_id
                for r in dedup.incremental_near_dedup_bucketed(
                    spark, batch2, t, "doc_id", "text"
                ).collect()
            }
            assert kept2 == {21}  # 20 now dies against doc 10's keys
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_extend_keeps_layout_and_dedupes_keys(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_extend_bk2"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [(1, "pack my box with five dozen liquor jugs right now")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(10, "some novel words that shingle into several band keys")],
            "doc_id long, text string",
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            dedup.extend_band_index_bucketed(
                spark, batch, t, "doc_id", "text", num_buckets=8
            )
            n1 = spark.table(t).count()
            # idempotent: re-extending with the same docs adds nothing
            dedup.extend_band_index_bucketed(
                spark, batch, t, "doc_id", "text", num_buckets=8
            )
            assert spark.table(t).count() == n1
            assert spark.table(t).select("bk").distinct().count() == n1
            # the appended files carry the bucket spec: probes remain
            # Exchange-free on the frozen side after the append
            probe = spark.range(5).select(F.col("id").alias("bk"))
            semi = probe.join(spark.table(t), "bk", "left_semi")
            plan = semi._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange") == 1  # probe side only
            # a mismatched bucket count must fail loudly, not corrupt
            import pytest as _pytest
            from pyspark.errors import AnalysisException

            with _pytest.raises(AnalysisException):
                dedup.extend_band_index_bucketed(
                    spark, batch, t, "doc_id", "text", num_buckets=4
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_compact_restores_one_file_per_bucket(self, spark):
        import glob
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_compact_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__compact_tmp")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        shutil.rmtree(f"spark-warehouse/{t}__compact_tmp", ignore_errors=True)
        corpus = spark.createDataFrame(
            [(1, "pack my box with five dozen liquor jugs right now")],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            for k in range(3):  # three day-2 appends grow file count
                batch = spark.createDataFrame(
                    [(10 + k, f"novel batch {k} words that shingle "
                              f"into fresh band keys {k} here")],
                    "doc_id long, text string",
                )
                dedup.extend_band_index_bucketed(
                    spark, batch, t, "doc_id", "text", num_buckets=8
                )
            n_rows = spark.table(t).count()
            files_before = len(glob.glob(f"spark-warehouse/{t}/*.parquet"))
            assert files_before > 8  # appends piled files onto buckets
            # spec is read from the catalog, never passed: a wrong
            # caller value could silently re-bucket the table
            assert skew.bucket_spec(spark, t) == (["bk"], 8)
            skew.compact_bucketed(spark, t)
            files_after = len(glob.glob(f"spark-warehouse/{t}/*.parquet"))
            assert files_after <= 8  # one file per (non-empty) bucket
            assert spark.table(t).count() == n_rows
            # layout still live after the swap: Exchange-free probe
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                probe = spark.range(5).select(F.col("id").alias("bk"))
                semi = probe.join(spark.table(t), "bk", "left_semi")
                plan = semi._jdf.queryExecution().executedPlan().toString()
                assert "Bucketed: true" in plan
                assert plan.count("Exchange") == 1
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__compact_tmp")
            spark.catalog.clearCache()

    def test_media_extend_twin(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        t = "t_extend_media_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        frozen = spark.createDataFrame(
            [(1, 0x1111222233334444)], "doc_id long, ahash long"
        )
        kept = spark.createDataFrame(
            [(10, 0x5A5A5A5A5A5A5A5A), (11, None)],
            "doc_id long, ahash long",
        )
        probe = spark.createDataFrame(
            [(20, 0x5A5A5A5A5A5A5A5B)],  # hamming 1 from kept #10
            "doc_id long, ahash long",
        )
        try:
            mm.freeze_media_index_bucketed(frozen, t, num_buckets=8)
            before = {
                r.doc_id
                for r in mm.incremental_media_dedup_bucketed(
                    spark, probe, t, max_hamming=3
                ).collect()
            }
            assert before == {20}  # nothing frozen is near it yet
            mm.extend_media_index_bucketed(spark, kept, t, num_buckets=8)
            after = {
                r.doc_id
                for r in mm.incremental_media_dedup_bucketed(
                    spark, probe, t, max_hamming=3
                ).collect()
            }
            assert after == set()  # now verified-near kept #10
            # NULL codes contributed nothing
            assert spark.table(t).filter(F.col("mcode").isNull()).count() == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()


class TestOrphanDirCleanupNamespace:
    def test_other_database_write_never_deletes_default_tables_dir(self, spark):
        # review r9: the orphan cleanup must resolve existence and path
        # in the SAME namespace — with current database 'work' and a
        # bare name that exists only in default, the old code rmtree'd
        # default's live data directory.
        import os
        import shutil

        t = "t_ns_victim"
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        spark.sql("CREATE DATABASE IF NOT EXISTS workdb")
        try:
            df = spark.range(10).select(F.col("id").alias("k"))
            skew.write_bucketed(df, t, ["k"], num_buckets=4)  # default.t
            assert os.path.exists(f"spark-warehouse/{t}")
            spark.catalog.setCurrentDatabase("workdb")
            # workdb.t does not exist -> cleanup path runs; it must
            # target workdb's location, not default's
            skew.write_bucketed(df, t, ["k"], num_buckets=4)  # workdb.t
            spark.catalog.setCurrentDatabase("default")
            assert os.path.exists(f"spark-warehouse/{t}")  # victim intact
            assert spark.table(f"default.{t}").count() == 10
            assert spark.table(f"workdb.{t}").count() == 10
        finally:
            spark.catalog.setCurrentDatabase("default")
            spark.sql(f"DROP TABLE IF EXISTS default.{t}")
            spark.sql(f"DROP TABLE IF EXISTS workdb.{t}")
            spark.sql("DROP DATABASE IF EXISTS workdb")
            spark.catalog.clearCache()


class TestStreamingGatesBucketedIndex:
    """Round-9: the streaming dedup gates accept a bucketed frozen
    index (index_mode="auto") — no forced broadcast, so the frozen
    corpus can outgrow executor memory. Batch-twin semantics + the
    no-BroadcastExchange plan pin for the large-index mode."""

    def test_text_gate_bucketed_matches_broadcast(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup
        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as ev,
        )

        t = "t_gate_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "pack my box with five dozen liquor jugs right now"),
            ],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [
                (10, "quick brown fox jumps over the lazy dog today"),
                (11, "a completely different document about spark and scale"),
                (12, "tiny"),
            ],
            "doc_id long, text string",
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            gated = ev.streaming_near_dedup(
                probe, spark.table(t), index_mode="auto"
            )
            plan = gated._jdf.queryExecution().executedPlan().toString()
            # the large-index mode: every band probe is a sort-merge
            # anti join whose frozen scan uses the bucket layout — no
            # BroadcastExchange anywhere, so no executor-memory ceiling
            assert "BroadcastExchange" not in plan
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            kept_bucketed = {r.doc_id for r in gated.collect()}
            idx = dedup.lsh_band_index(corpus, "doc_id", "text")
            kept_broadcast = {
                r.doc_id
                for r in ev.streaming_near_dedup(probe, idx).collect()
            }
            assert kept_bucketed == kept_broadcast == {11, 12}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_media_gate_bucketed_matches_broadcast(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )
        from hadoop_distributed_dynamic_file_system_spark.streaming.events import (
            _streaming_code_dedup,
        )

        t = "t_gate_media_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        frozen = spark.createDataFrame(
            [(1, 0x1111222233334444), (2, 0x0000FFFF0000FFFF)],
            "doc_id long, ahash long",
        )
        probe = spark.createDataFrame(
            [
                (10, 0x1111222233334445),   # hamming 1 -> dropped
                (11, 0x7777FFFF77770000),   # band collision only -> kept
                (12, 0x5A5A5A5A5A5A5A5A),   # far -> kept
                (13, None),                 # NULL survives
            ],
            "doc_id long, ahash long",
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            mm.freeze_media_index_bucketed(frozen, t, num_buckets=8)
            gated = _streaming_code_dedup(
                probe, "ahash", spark.table(t), 4, 16, 3,
                index_mode="auto",
            )
            plan = gated._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan
            assert "Bucketed: true" in plan
            kept_bucketed = {r.doc_id for r in gated.collect()}
            idx = mm.media_band_index(frozen)
            kept_broadcast = {
                r.doc_id
                for r in _streaming_code_dedup(
                    probe, "ahash", idx, 4, 16, 3
                ).collect()
            }
            assert kept_bucketed == kept_broadcast == {11, 12, 13}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_pre_round8_index_without_mcode_raises(self, spark):
        # ADVICE r8: an index frozen under the old (mbk-only) schema
        # must fail loudly, not silently skip the hamming verify.
        from hadoop_distributed_dynamic_file_system_spark.streaming.events import (
            _streaming_code_dedup,
        )

        probe = spark.createDataFrame(
            [(1, 0x1234)], "doc_id long, ahash long"
        )
        old_idx = spark.createDataFrame([(42,)], "mbk long")
        with pytest.raises(ValueError, match="re-freeze"):
            _streaming_code_dedup(probe, "ahash", old_idx, 4, 16, 3)

    def test_invalid_index_mode_raises(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as ev,
        )

        probe = spark.createDataFrame(
            [(1, "some words here")], "doc_id long, text string"
        )
        idx = spark.createDataFrame([(42,)], "bk long")
        with pytest.raises(ValueError, match="index_mode"):
            ev.streaming_near_dedup(probe, idx, index_mode="shuffle")


class TestBucketFileCensusWarehouse:
    """bucket_file_census lists through the Hadoop FileSystem API
    (py4j), the same client FsShell ops use — so the fragmentation
    signal works against any warehouse scheme the Hadoop client
    knows, not just local dirs (the reference's small-file accounting
    in HadoopArchives was NameNode-side, i.e., exactly not-local)."""

    def test_partitioned_bucketed_nested_layout_counted(self, spark):
        # data files of a partitioned+bucketed table nest under
        # partition subdirectories — a flat listing finds nothing and
        # would silently report max_files_per_bucket=0, blinding the
        # actor's fragmentation signal. The recursive Hadoop listing
        # must count them (and skip _SUCCESS / hidden files).
        import shutil

        t = "t_census_part_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        df = spark.createDataFrame(
            [(i, i % 2, f"v{i}") for i in range(40)],
            "k long, p int, v string",
        )
        try:
            (
                df.repartition(4, F.col("k"))
                .write.partitionBy("p")
                .bucketBy(4, "k")
                .sortBy("k")
                .saveAsTable(t)
            )
            c = skew.bucket_file_census(spark, t)
            assert c["n_buckets"] == 4
            # every (partition, touched-bucket) pair is its own file;
            # per-BUCKET count aggregates across the 2 partition dirs
            assert c["n_files"] >= 4
            assert c["max_files_per_bucket"] >= 2
            assert c["buckets_touched"] >= 1
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_hadoop_fs_uri_location_counted(self, spark, tmp_path):
        # external table addressed by an explicit file: URI — resolved
        # through FileSystem.get on the table's OWN location URI, the
        # code path an hdfs:// or s3a:// warehouse takes (the scheme
        # picks the client; LocalFileSystem here).
        t = "t_census_ext_uri"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = f"file://{tmp_path}/census_ext"
        df = spark.range(0, 30).select(F.col("id").alias("k"))
        try:
            (
                df.repartition(4, F.col("k"))
                .write.option("path", loc)
                .bucketBy(4, "k")
                .sortBy("k")
                .saveAsTable(t)
            )
            c = skew.bucket_file_census(spark, t)
            assert c["n_buckets"] == 4
            assert c["n_files"] == c["buckets_touched"] == 4
            assert c["max_files_per_bucket"] == 1
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_unlistable_location_fails_loudly(self, spark, tmp_path):
        # a location the Hadoop client cannot list must raise, never
        # read zeros — a zero census would silently disarm the signal.
        # (An unknown scheme is rejected by CREATE TABLE itself; the
        # reachable unlistable case is a location that vanished.)
        import shutil

        import pytest as _pytest

        t = "t_census_gone"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = f"{tmp_path}/census_gone"
        try:
            spark.sql(
                f"CREATE TABLE {t} (k BIGINT) USING parquet "
                f"CLUSTERED BY (k) INTO 4 BUCKETS "
                f"LOCATION 'file://{loc}'"
            )
            shutil.rmtree(loc, ignore_errors=True)
            with _pytest.raises(ValueError, match="cannot list"):
                skew.bucket_file_census(spark, t)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestGenerationalCompaction:
    """Zero-downtime compaction layout (round 11): external ping-pong
    generation directories + catalog-only swaps. The batch-side
    contract — migration, fold correctness, generation alternation
    with one-generation retention, crash recovery — lives here; the
    live-streaming zero-downtime pin is
    test_streaming.test_live_gate_survives_generational_tick."""

    CORPUS = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "an entirely different sentence about distributed systems now"),
    ]

    def _cleanup(self, spark, t):
        import shutil

        for x in (t, t + "__tombstones", t + "__compact_tmp",
                  t + "__tombstones__swap"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        for suf in ("__genA", "__genB",
                    "__tombstones__genA", "__tombstones__genB"):
            shutil.rmtree(f"spark-warehouse/{t}{suf}", ignore_errors=True)

    def _survivors(self, spark, t):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        batch = spark.createDataFrame(
            [(101, "quick brown fox jumps over the lazy dog today"),
             (102, "entirely different sentence about distributed systems now"),
             (999, "totally novel content with no shingle overlap whatsoever")],
            "doc_id long, text string",
        )
        return {
            r.doc_id
            for r in dedup.incremental_near_dedup_attributed(
                spark, batch, t, "doc_id", "text"
            ).collect()
        }

    def test_lifecycle_ping_pong_and_retention(self, spark):
        import os

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup, maintenance, tombstones,
        )

        t = "t_gen_life"
        self._cleanup(spark, t)
        try:
            corpus = spark.createDataFrame(
                self.CORPUS, "doc_id long, text string"
            )
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            tombstones.enable_generational(spark, t, "doc_id")
            # migration: base and tombstones both at gen A; bucket
            # spec intact; re-running the migration is a no-op
            assert skew.generational_location(spark, t).endswith("__genA")
            assert skew.generational_location(
                spark, t + "__tombstones"
            ).endswith("__genA")
            assert skew.bucket_spec(spark, t) == (["bk"], 8)
            tombstones.enable_generational(spark, t, "doc_id")
            assert skew.generational_location(spark, t).endswith("__genA")
            assert self._survivors(spark, t) == {999}

            # fired fold swaps to gen B catalog-only; the retired
            # gen A directory SURVIVES (that's the whole point)
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"), "doc_id",
            )
            rec = maintenance.maintain_index(spark, t, "band")
            assert (rec["action"], rec["reason"]) == ("compacted", "dead_rows")
            assert skew.generational_location(spark, t).endswith("__genB")
            assert skew.generational_location(
                spark, t + "__tombstones"
            ).endswith("__genB")
            assert os.path.isdir(f"spark-warehouse/{t}__genA")
            assert self._survivors(spark, t) == {101, 999}
            assert maintenance.maintain_index(spark, t, "band")["action"] == (
                "healthy"
            )

            # second fold ping-pongs BACK to gen A, reclaiming it
            dedup.extend_band_index_attributed(
                spark,
                spark.createDataFrame(
                    [(50, "completely fresh vocabulary for wave two arrives")],
                    "doc_id long, text string",
                ),
                t, "doc_id", "text",
            )
            rec3 = maintenance.maintain_index(
                spark, t, "band", max_files_per_bucket=1
            )
            assert (rec3["action"], rec3["reason"]) == (
                "compacted", "fragmentation"
            )
            assert skew.generational_location(spark, t).endswith("__genA")
            assert self._survivors(spark, t) == {101, 999}
            assert skew.bucket_file_census(spark, t)[
                "max_files_per_bucket"
            ] == 1
        finally:
            self._cleanup(spark, t)
            spark.catalog.clearCache()

    def test_ivf_daemon_tick_generational(self, spark):
        # The generational layout is claimed to reach ALL index
        # modalities through tombstones.compact; band is pinned by the
        # lifecycle test above — this pins the IVF leg: a maintenance
        # tick on a generationally-migrated served ANN index swaps
        # catalog-only (retired generation retained) and serves
        # identical top-k before and after the fold.
        import os

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            maintenance, similarity, tombstones,
        )

        t = "t_gen_ivf"
        self._cleanup(spark, t)
        vecs = spark.createDataFrame(
            [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        cents = similarity.kmeans_fit(vecs, k=2, iterations=2).persist()
        cents.count()
        try:
            similarity.build_ivf_index(vecs, cents, t, num_buckets=4)
            tombstones.enable_generational(spark, t, "vec_id")
            assert skew.generational_location(spark, t).endswith("__genA")
            similarity.retract_from_ivf_index(
                spark, t,
                spark.createDataFrame(
                    [(i,) for i in range(0, 20, 2)], "vec_id long"
                ),
            )
            qs = vecs.filter(F.col("vec_id") < 2)
            topk = lambda: sorted(  # noqa: E731
                (r.query_id, r.vec_id, r.score, r.rk)
                for r in similarity.ivf_topk_indexed(
                    spark, t, qs, cents, k=3, nprobe=2
                ).collect()
            )
            before = topk()
            rec = maintenance.maintain_index(spark, t, "ivf")
            assert (rec["action"], rec["id_col"]) == ("compacted", "vec_id")
            assert skew.generational_location(spark, t).endswith("__genB")
            assert os.path.isdir(f"spark-warehouse/{t}__genA")
            # generational post-fold tombstones: armed EMPTY table, not
            # the legacy drop
            tomb = t + "__tombstones"
            assert spark.catalog.tableExists(tomb)
            assert spark.table(tomb).count() == 0
            assert before == topk() and len(before) > 0
            assert maintenance.maintain_index(spark, t, "ivf")[
                "action"
            ] == "healthy"
        finally:
            cents.unpersist()
            self._cleanup(spark, t)
            spark.catalog.clearCache()

    def test_media_daemon_tick_generational(self, spark):
        # The media leg of the same claim: codes synthesized directly
        # (decode is orthogonal — media_index_retraction covers it),
        # two docs sharing one perceptual code so the fold must keep
        # the code alive while one holder remains.
        import os

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            maintenance, multimodal, tombstones,
        )

        t = "t_gen_media"
        self._cleanup(spark, t)
        codes = spark.createDataFrame(
            [(1, 0x1234ABCD5678EF00), (2, 0x1234ABCD5678EF00),
             (3, 0x0F0F0F0F0F0F0F0F)],
            "doc_id long, ahash long",
        )
        try:
            multimodal.freeze_media_index_attributed(
                codes, t, num_buckets=8
            )
            tombstones.enable_generational(spark, t, "doc_id")
            multimodal.retract_from_media_index(
                spark, t, spark.createDataFrame([(1,)], "doc_id long")
            )
            live_before = sorted(
                (r.mbk, r.mcode, r.doc_id)
                for r in tombstones.live(spark, t, "doc_id").collect()
            )
            rec = maintenance.maintain_index(spark, t, "media")
            assert (rec["action"], rec["id_col"]) == ("compacted", "doc_id")
            assert skew.generational_location(spark, t).endswith("__genB")
            assert os.path.isdir(f"spark-warehouse/{t}__genA")
            after = sorted(
                (r.mbk, r.mcode, r.doc_id)
                for r in spark.table(t).collect()
            )
            # post-fold base holds exactly the pre-fold live rows: the
            # shared code survives via doc 2, doc 3's code untouched
            assert after == live_before
            assert {r[2] for r in after} == {2, 3}
            assert maintenance.maintain_index(spark, t, "media")[
                "action"
            ] == "healthy"
        finally:
            self._cleanup(spark, t)
            spark.catalog.clearCache()

    def test_half_swap_recovery_in_generational_mode(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup, maintenance, tombstones,
        )

        t = "t_gen_crash"
        self._cleanup(spark, t)
        try:
            corpus = spark.createDataFrame(
                self.CORPUS, "doc_id long, text string"
            )
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            tombstones.enable_generational(spark, t, "doc_id")
            before = self._survivors(spark, t)
            # simulate a crash between DROP and RENAME: stage the next
            # generation as the tmp table, then drop the live table
            cols, nb = skew.bucket_spec(spark, t)
            next_loc = skew._next_generation(
                skew.generational_location(spark, t)
            )
            skew._delete_dir(spark, next_loc)
            skew.write_bucketed(
                spark.table(t), f"{t}__compact_tmp", cols,
                num_buckets=nb, location=next_loc,
            )
            spark.sql(f"DROP TABLE {t}")
            # the daemon's next tick completes the rename (self-heal)
            rec = maintenance.maintain_index(spark, t, "band")
            assert rec.get("recovered_half_swap") is True
            assert skew.generational_location(spark, t).endswith("__genB")
            assert self._survivors(spark, t) == before
        finally:
            self._cleanup(spark, t)
            spark.catalog.clearCache()


class TestSalting:
    def test_salted_join_matches_plain_join(self, spark):
        # heavy skew: 90% of rows share key 0
        large = spark.range(0, 5000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 10).alias("k"),
            F.col("id").alias("v"),
        )
        small = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "k long, s string")
        plain = large.join(small, "k").select("k", "v", "s")
        salted = skew.salted_join(large, small, ["k"], salt=8).select("k", "v", "s")
        assert salted.count() == plain.count() == 5000
        assert salted.exceptAll(plain).count() == 0

    def test_salted_aggregate_matches_plain(self, spark):
        df = spark.range(0, 10000).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )
        out = skew.salted_aggregate(
            df,
            ["k"],
            {
                "cnt": ("sum", F.count("*")),
                "total": ("sum", F.sum("v")),
                "mx": ("max", F.max("v")),
                "mn": ("min", F.min("v")),
            },
            salt=16,
        )
        plain = df.groupBy("k").agg(
            F.count("*").alias("cnt"), F.sum("v").alias("total"),
            F.max("v").alias("mx"), F.min("v").alias("mn"),
        )
        assert {tuple(r) for r in out.collect()} == {tuple(r) for r in plain.collect()}


class TestTypeMapping:
    def test_writable_map_covers_primitives(self):
        assert htypes.WRITABLE_TO_SPARK["IntWritable"] == T.IntegerType()
        assert htypes.WRITABLE_TO_SPARK["Text"] == T.StringType()
        assert htypes.WRITABLE_TO_SPARK["BytesWritable"] == T.BinaryType()

    def test_record_ddl_roundtrip(self, spark, tmp_path):
        # Record I/O: class { ustring name; long size; vector<int> xs;
        #             map<ustring,ustring> attrs; buffer raw; }
        schema = T.StructType(
            [
                T.StructField(
                    "rec",
                    htypes.record(
                        {
                            "name": "Text",
                            "size": "LongWritable",
                            "xs": htypes.array_of("IntWritable"),
                            "attrs": htypes.map_writable(),
                            "raw": T.BinaryType(),
                        }
                    ),
                )
            ]
        )
        rows = [(("doc", 7, [1, 2], {"k": "v"}, b"\x01\x02"),)]
        df = spark.createDataFrame(rows, schema)
        p = str(tmp_path / "rec.parquet")
        df.write.parquet(p)
        back = spark.read.parquet(p).collect()[0].rec
        assert back.name == "doc" and back.size == 7
        assert back.xs == [1, 2] and back.attrs == {"k": "v"}
        assert bytes(back.raw) == b"\x01\x02"

    def test_kv_schema(self, spark):
        df = spark.createDataFrame([("a", 1)], htypes.kv_schema("Text", "LongWritable"))
        assert df.dtypes == [("key", "string"), ("value", "bigint")]

    def test_csv_wire_form_roundtrip(self, spark):
        # CsvRecordOutput/CsvRecordInput analog: same record, CSV wire
        rec = htypes.record({"name": "Text", "size": "LongWritable"})
        df = spark.createDataFrame(
            [("a,b", 7), ("plain", 9)], "name string, size long"
        )
        from pyspark.sql import functions as F

        wire = df.select(
            htypes.record_to_csv(F.col("name"), F.col("size")).alias("line")
        )
        # quoting survives an embedded separator
        lines = {r.line for r in wire.collect()}
        assert lines == {'"a,b",7', "plain,9"}
        back = wire.select(
            htypes.record_from_csv(F.col("line"), rec).alias("rec")
        ).select("rec.*")
        assert {tuple(r) for r in back.collect()} == {("a,b", 7), ("plain", 9)}

    def test_xml_wire_form_roundtrip(self, spark):
        rec = htypes.record({"name": "Text", "size": "LongWritable"})
        df = spark.createDataFrame([("x<y", 3)], "name string, size long")
        from pyspark.sql import functions as F

        wire = df.select(
            htypes.record_to_xml(F.col("name"), F.col("size")).alias("x")
        )
        xml = wire.collect()[0].x
        assert "<record>" in xml and "&lt;" in xml  # escaped like XmlRecordOutput
        back = wire.select(
            htypes.record_from_xml(F.col("x"), rec).alias("rec")
        ).select("rec.*")
        assert [tuple(r) for r in back.collect()] == [("x<y", 3)]


class TestCounters:
    def test_job_counters_via_observe(self, spark):
        df = spark.createDataFrame(
            [("good", 1), ("bad", -1), ("good", 2)], "tag string, v int"
        )
        spec = JobSpec(
            mapper=lambda d: d.filter(F.col("v") > 0),
            key_cols=["tag"],
            agg_exprs=[F.sum("v").alias("s")],
            counters={
                "records_in": F.count("*"),
                "v_total": F.sum("v"),
            },
        )
        out = run_job(df, spec)
        out.collect()  # the action populates the observation
        vals = spec.counter_values()
        assert vals == {"records_in": 2, "v_total": 3}


class TestDerivedPartsupp:
    """The derived partsupp must stay cardinality-faithful to real
    TPC-H partsupp: exactly 4 rows per part (a dim-sized relation at
    any SF), with supplier keys that actually exist."""

    def test_four_rows_per_part_and_valid_keys(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark import queries as q
        from pyspark.sql import functions as F

        ps = q._partsupp(spark, sf_dir)
        n_part = q._t(spark, sf_dir, "part").count()
        assert ps.count() == 4 * n_part
        # 4 DISTINCT suppliers per part (no modular collisions)
        per_part = ps.groupBy("ps_partkey").agg(
            F.countDistinct("ps_suppkey").alias("k")
        )
        assert per_part.filter(F.col("k") != 4).count() == 0
        # every generated suppkey resolves to a real supplier row
        s = q._t(spark, sf_dir, "supplier").select("s_suppkey")
        orphans = ps.join(
            s, ps.ps_suppkey == s.s_suppkey, "left_anti"
        ).count()
        assert orphans == 0

    def test_supplier_filter_is_semi_join_restriction(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark import queries as q
        from pyspark.sql import functions as F

        s_half = q._t(spark, sf_dir, "supplier").filter(
            F.col("s_suppkey") % 2 == 0
        )
        ps_all = q._partsupp(spark, sf_dir)
        ps_half = q._partsupp(spark, sf_dir, suppliers=s_half)
        want = ps_all.filter(F.col("ps_suppkey") % 2 == 0).count()
        assert ps_half.count() == want > 0


class TestAttributedIndexRetraction:
    """Round-9: the day-2 DELETE leg. The attributed (bk, id) index
    supports correct retraction — a band key stays live while ANY
    non-retracted doc holds it — which the key-only index cannot."""

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog near the bank"),
                (2, "an entirely different sentence about distributed systems today"),
            ],
            "doc_id long, text string",
        )

    def test_lifecycle_freeze_probe_retract_resurrect_compact(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_life"
        for x in (t, t + "__tombstones", t + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        corpus = self._corpus(spark)
        batch = spark.createDataFrame(
            [
                # near-twin of doc 1 (first word dropped)
                (101, "quick brown fox jumps over the lazy dog near the bank"),
                # near-twin of doc 2
                (102, "entirely different sentence about distributed systems today"),
                (999, "totally novel content with no shingle overlap whatsoever"),
            ],
            "doc_id long, text string",
        )

        def survivors():
            return {
                r.doc_id
                for r in dedup.incremental_near_dedup_attributed(
                    spark, batch, t, "doc_id", "text"
                ).collect()
            }

        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            assert survivors() == {999}
            ids = spark.createDataFrame([(1,)], "doc_id long")
            dedup.retract_from_band_index(spark, t, ids, "doc_id")
            dedup.retract_from_band_index(spark, t, ids, "doc_id")  # idempotent
            assert survivors() == {101, 999}
            assert spark.table(t + "__tombstones").count() == 1
            # extending with doc 1 again resurrects it
            dedup.extend_band_index_attributed(
                spark, corpus.filter(F.col("doc_id") == 1),
                t, "doc_id", "text",
            )
            assert survivors() == {999}
            assert spark.table(t + "__tombstones").count() == 0
            # retract again; compaction folds the tombstone into the base
            dedup.retract_from_band_index(spark, t, ids, "doc_id")
            dedup.compact_band_index_attributed(spark, t, "doc_id")
            assert not spark.catalog.tableExists(t + "__tombstones")
            assert survivors() == {101, 999}
            # layout survived the fold: still bucketed on bk, same count
            cols, n = skew.bucket_spec(spark, t)
            assert (cols, n) == (["bk"], 8)
        finally:
            for x in (t, t + "__tombstones", t + "__compact_tmp"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_band_index_health_census(self, spark):
        # the MONITOR leg: every scalar is checked against values
        # re-derived from the frozen table itself, across the whole
        # lifecycle (clean -> retracted -> fully-dead -> compacted)
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_health"
        for x in (t, t + "__tombstones", t + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        try:
            dedup.freeze_band_index_attributed(
                self._corpus(spark), "doc_id", "text", t, num_buckets=8
            )
            base = spark.table(t)
            total = base.count()
            d1 = base.filter(F.col("doc_id") == 1).count()
            assert total > d1 > 0

            def health():
                return dedup.band_index_health(spark, t, "doc_id").collect()[0]

            h0 = health()
            assert (
                h0.index_rows, h0.dead_rows, h0.live_rows, h0.live_docs,
                h0.retracted_docs, h0.recommend_compact,
            ) == (total, 0, total, 2, 0, False)
            assert h0.dead_frac == 0.0 and h0.max_key_docs >= 1

            ids1 = spark.createDataFrame([(1,)], "doc_id long")
            dedup.retract_from_band_index(spark, t, ids1, "doc_id")
            # scale pin: the live-key census rides the bucketing (no
            # shuffle keyed on bk; the one shuffle Exchange is the
            # doc-sized distinct-live-id rewrite) and the key-census
            # scan stays bucketed
            plan = (
                dedup.band_index_health(spark, t, "doc_id")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "hashpartitioning(bk" not in plan
            assert plan.count("Exchange hashpartitioning") == 1
            assert "Bucketed: true" in plan
            h1 = health()
            assert (
                h1.index_rows, h1.dead_rows, h1.live_rows, h1.live_docs,
                h1.retracted_docs,
            ) == (total, d1, total - d1, 1, 1)
            assert abs(h1.dead_frac - d1 / total) < 1e-6
            assert h1.recommend_compact is True  # 50% dead >= 0.2
            # threshold is a knob: above the actual fraction -> False
            h1b = dedup.band_index_health(
                spark, t, "doc_id", compact_threshold=0.9
            ).collect()[0]
            assert h1b.recommend_compact is False

            # fully-dead index: live-side aggregates hit their empty
            # branches (coalesce'd max, zero keys) instead of NULLs
            dedup.retract_from_band_index(
                spark, t, spark.createDataFrame([(2,)], "doc_id long"),
                "doc_id",
            )
            h2 = health()
            assert (
                h2.live_rows, h2.live_docs, h2.live_keys, h2.max_key_docs,
            ) == (0, 0, 0, 0)
            assert h2.dead_frac == 1.0 and h2.recommend_compact is True

            # forget both retractions, retract ONLY doc 1, compact:
            # census reads clean again over doc 2's surviving rows
            spark.sql(f"DROP TABLE IF EXISTS {t}__tombstones")
            dedup.retract_from_band_index(spark, t, ids1, "doc_id")
            dedup.compact_band_index_attributed(spark, t, "doc_id")
            h3 = health()
            assert (
                h3.index_rows, h3.dead_rows, h3.live_docs, h3.retracted_docs,
                h3.recommend_compact,
            ) == (total - d1, 0, 1, 0, False)
        finally:
            for x in (t, t + "__tombstones", t + "__compact_tmp"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_shared_band_key_keeps_gating_after_retraction(self, spark):
        # THE case attribution exists for: docs 1 and 2 are near-twins
        # (shared band keys). Retracting doc 1 must NOT stop those keys
        # gating doc 2's twins — a key-only index that deleted the
        # retracted doc's keys would re-admit them.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_shared"
        for x in (t, t + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [
                (1, "pack my box with five dozen liquor jugs right now friends"),
                (2, "pack my box with five dozen liquor jugs right now folks"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(201, "pack my box with five dozen liquor jugs right now people")],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            # sanity: the corpus twins really share >=1 band key, and
            # the batch doc collides pre-retraction
            idx = spark.table(t)
            shared = (
                idx.groupBy("bk").count().filter(F.col("count") >= 2).count()
            )
            assert shared >= 1
            pre = dedup.incremental_near_dedup_attributed(
                spark, batch, t, "doc_id", "text"
            )
            assert pre.count() == 0
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"),
                "doc_id",
            )
            post = dedup.incremental_near_dedup_attributed(
                spark, batch, t, "doc_id", "text"
            )
            # doc 2 still live and still holds the shared keys
            assert post.count() == 0
        finally:
            for x in (t, t + "__tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_attribution_reports_smallest_live_collision(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_prov"
        for x in (t, t + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        corpus = self._corpus(spark)
        batch = spark.createDataFrame(
            [
                (101, "quick brown fox jumps over the lazy dog near the bank"),
                (999, "totally novel content with no shingle overlap whatsoever"),
            ],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            pairs = {
                (r.doc_id, r.dup_of)
                for r in dedup.incremental_near_dedup_attributed(
                    spark, batch, t, "doc_id", "text", attribute=True
                ).collect()
            }
            assert pairs == {(101, 1)}  # novel doc emits NO row
            # a retracted source stops being attributable
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"),
                "doc_id",
            )
            assert (
                dedup.incremental_near_dedup_attributed(
                    spark, batch, t, "doc_id", "text", attribute=True
                ).count()
                == 0
            )
        finally:
            for x in (t, t + "__tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_unattributed_index_rejects_retraction(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_reject"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        try:
            dedup.freeze_band_index_bucketed(
                self._corpus(spark), "doc_id", "text", t, num_buckets=8
            )
            with pytest.raises(ValueError, match="freeze_band_index_attributed"):
                dedup.retract_from_band_index(
                    spark, t,
                    spark.createDataFrame([(1,)], "doc_id long"),
                    "doc_id",
                )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_tombstoned_probe_adds_no_exchange_on_frozen_scan(self, spark):
        # The retraction anti-join must ride as a BroadcastHashJoin on
        # the frozen scan's output — partitioning preserved, so the
        # sort-merge probe still sees the bucketed layout and the ONE
        # Exchange in the plan belongs to the (batch-sized) probe side.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_attr_plan"
        for x in (t, t + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        corpus = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("document number "),
                F.col("id").cast("string"),
                F.lit(" with enough words to shingle properly here"),
            ).alias("text"),
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(7,)], "doc_id long"),
                "doc_id",
            )
            keyed = dedup.minhash_band_key_cols(
                corpus.filter(F.col("doc_id") < 50), "text"
            )
            probe = keyed.select(
                "doc_id",
                F.explode(
                    F.array(*[F.col(f"_bk{b}") for b in range(4)])
                ).alias("bk"),
            ).filter(F.col("bk").isNotNull())
            live = dedup.live_band_index(spark, t, "doc_id")
            semi = probe.join(live.select("bk"), "bk", "left_semi")
            plan = semi._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "BroadcastHashJoin" in plan  # the tombstone anti
            # one shuffle Exchange (probe side) + one BroadcastExchange
            # (the retraction-sized tombstones); the frozen scan itself
            # is never re-shuffled
            import re as _re

            shuffles = len(_re.findall(r"Exchange hashpartitioning", plan))
            assert shuffles == 1
            assert "Bucketed: true" in plan
            assert semi.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            for x in (t, t + "__tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()


class TestAttributedMediaIndexRetraction:
    """Round-9: the media erasure leg — (mbk, mcode, doc_id) index,
    shared-code semantics (an exact re-upload's code keeps gating
    while any holder remains), verified-hamming probe unchanged."""

    def test_lifecycle_and_shared_code_gating(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        t = "t_attr_media"
        for x in (t, t + "__tombstones", t + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        # docs 1 and 2 share the SAME code (exact re-upload); doc 3 far
        frozen = spark.createDataFrame(
            [
                (1, 0x1111222233334444),
                (2, 0x1111222233334444),
                (3, 0x0000FFFF0000FFFF),
            ],
            "doc_id long, ahash long",
        )
        probe = spark.createDataFrame(
            [
                (10, 0x1111222233334445),  # hamming 1 from the shared code
                (11, 0x0000FFFF0000FFF7),  # hamming 1 from doc 3's code
                (12, 0x5A5A5A5A5A5A5A5A),  # far from everything
                (13, None),                # undecodable survives
            ],
            "doc_id long, ahash long",
        )

        def survivors():
            return {
                r.doc_id
                for r in mm.incremental_media_dedup_attributed(
                    spark, probe, t, max_hamming=3
                ).collect()
            }

        try:
            mm.freeze_media_index_attributed(frozen, t, num_buckets=8)
            assert survivors() == {12, 13}
            # retract doc 1: doc 2 still holds the shared code, so 10
            # must STILL drop — the correctness attribution buys
            mm.retract_from_media_index(
                spark, t, spark.createDataFrame([(1,)], "doc_id long")
            )
            assert survivors() == {12, 13}
            # retract doc 2 as well: now 10 is re-admitted; 11 still
            # dies against doc 3
            mm.retract_from_media_index(
                spark, t, spark.createDataFrame([(2,)], "doc_id long")
            )
            assert survivors() == {10, 12, 13}
            # compact folds both tombstones; survivors unchanged
            mm.compact_media_index_attributed(spark, t)
            assert not spark.catalog.tableExists(t + "__tombstones")
            assert survivors() == {10, 12, 13}
        finally:
            for x in (t, t + "__tombstones", t + "__compact_tmp"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_media_index_health_census(self, spark):
        # MONITOR leg, media modality: scalars re-derived from the
        # frozen table; max_key_docs sees the shared (mbk, mcode)
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        t = "t_attr_media_health"
        for x in (t, t + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        frozen = spark.createDataFrame(
            [
                (1, 0x1111222233334444),
                (2, 0x1111222233334444),  # exact re-upload: shared code
                (3, 0x0000FFFF0000FFFF),
            ],
            "doc_id long, ahash long",
        )
        try:
            mm.freeze_media_index_attributed(frozen, t, num_buckets=8)
            base = spark.table(t)
            total = base.count()
            d1 = base.filter(F.col("doc_id") == 1).count()
            h0 = mm.media_index_health(spark, t).collect()[0]
            assert (
                h0.index_rows, h0.dead_rows, h0.live_docs,
                h0.retracted_docs, h0.recommend_compact,
            ) == (total, 0, 3, 0, False)
            # docs 1+2 share every (mbk, mcode): hottest group is 2
            assert h0.max_key_docs == 2
            mm.retract_from_media_index(
                spark, t, spark.createDataFrame([(1,)], "doc_id long")
            )
            # scale pin: grouping on (mbk, mcode) is satisfied by the
            # mbk bucketing (subset rule) — no shuffle keyed on mbk,
            # one bucketed scan, only the doc-sized distinct shuffle
            plan = (
                mm.media_index_health(spark, t)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "hashpartitioning(mbk" not in plan
            assert plan.count("Exchange hashpartitioning") == 1
            assert "Bucketed: true" in plan
            h1 = mm.media_index_health(spark, t).collect()[0]
            assert (
                h1.index_rows, h1.dead_rows, h1.live_rows, h1.live_docs,
                h1.retracted_docs,
            ) == (total, d1, total - d1, 2, 1)
            # the shared codes are still live through doc 2, but no
            # live group has two holders anymore
            assert h1.max_key_docs == 1
            assert h1.recommend_compact is (d1 / total >= 0.2)
        finally:
            for x in (t, t + "__tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_unattributed_media_index_rejects_retraction(self, spark):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        t = "t_attr_media_rej"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        frozen = spark.createDataFrame(
            [(1, 0x1111222233334444)], "doc_id long, ahash long"
        )
        try:
            mm.freeze_media_index_bucketed(frozen, t, num_buckets=8)
            with pytest.raises(
                ValueError, match="freeze_media_index_attributed"
            ):
                mm.retract_from_media_index(
                    spark, t, spark.createDataFrame([(1,)], "doc_id long")
                )
            with pytest.raises(
                ValueError, match="freeze_media_index_attributed"
            ):
                mm.media_index_health(spark, t)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_attributed_probe_matches_unattributed_without_tombstones(
        self, spark
    ):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        ta, tb = "t_attr_media_eq", "t_attr_media_eq_plain"
        for x in (ta, ta + "__tombstones", tb):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        frozen = spark.range(300).select(
            F.col("id").alias("doc_id"), F.xxhash64("id").alias("ahash")
        )
        probe = spark.range(0, 600, 7).select(
            F.col("id").alias("doc_id"), F.xxhash64("id").alias("ahash")
        )
        try:
            mm.freeze_media_index_attributed(frozen, ta, num_buckets=8)
            mm.freeze_media_index_bucketed(frozen, tb, num_buckets=8)
            a = {
                r.doc_id
                for r in mm.incremental_media_dedup_attributed(
                    spark, probe, ta, max_hamming=3
                ).collect()
            }
            b = {
                r.doc_id
                for r in mm.incremental_media_dedup_bucketed(
                    spark, probe, tb, max_hamming=3
                ).collect()
            }
            assert a == b and len(a) > 0
        finally:
            for x in (ta, ta + "__tombstones", tb):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()
