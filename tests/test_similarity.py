"""Similarity-search operators: k-means fitting + IVF with learned
centroids, brute-force recall."""

import os

import pytest
from pyspark.sql import functions as F

from hadoop_distributed_dynamic_file_system_spark.operators import similarity


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


class TestKMeans:
    def test_fit_is_deterministic_and_separates(self, spark, embeddings):
        cents1 = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents2 = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        r1 = sorted((r.centroid_id, tuple(round(x, 9) for x in r.embedding))
                    for r in cents1.collect())
        r2 = sorted((r.centroid_id, tuple(round(x, 9) for x in r.embedding))
                    for r in cents2.collect())
        assert r1 == r2
        assert len(r1) == 4
        # every vector lands in some cluster; clusters are non-trivial
        assigned = similarity.assign_to_centroids(
            embeddings, cents1.select(F.col("centroid_id"), F.col("embedding"))
        )
        sizes = {r.centroid_id: r.n for r in
                 assigned.groupBy("centroid_id").agg(F.count("*").alias("n")).collect()}
        assert sum(sizes.values()) == embeddings.count()
        assert len(sizes) >= 2  # data spreads over multiple clusters

    def test_ivf_with_learned_centroids_recall(self, spark, embeddings):
        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        qs = embeddings.filter(F.col("vec_id") < 3)
        exact = similarity.brute_force_topk(embeddings, qs, k=5)
        approx = similarity.ivf_topk(embeddings, qs, cents, k=5, nprobe=2)
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        # IVF probing half the space should still recover most of top-5
        assert len(a & e) / len(e) >= 0.5

    def test_zero_norm_centroid_never_wins_with_ansi_off(self, spark):
        # with ANSI off a zero-norm vector's cosine is NULL, and NULL
        # sorts first in min_by's (-cscore, id) struct: it must not win
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
            "vec_id long, embedding array<double>")
        cents = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.1]), (2, [0.1, 1.0])],
            "centroid_id int, embedding array<double>")
        old = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            got = {r.vec_id: r.centroid_id for r in
                   similarity.assign_to_centroids(corpus, cents).collect()}
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)
        # the zero-norm corpus vector has no score at all: NULL centroid
        assert got == {1: 1, 2: 2, 3: None}


class TestIvfIndex:
    def test_indexed_matches_unindexed_and_skips_routing(self, spark, embeddings):
        import shutil

        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()  # freeze centroids: both paths must see identical values
        table = "ivf_index_test"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.join("spark-warehouse", table), ignore_errors=True)
        try:
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            qs = embeddings.filter(F.col("vec_id") < 3)
            direct = similarity.ivf_topk(embeddings, qs, cents, k=5, nprobe=2)
            indexed = similarity.ivf_topk_indexed(spark, table, qs, cents, k=5, nprobe=2)
            d = sorted((r.query_id, r.vec_id, r.score, r.rk) for r in direct.collect())
            i = sorted((r.query_id, r.vec_id, r.score, r.rk) for r in indexed.collect())
            assert d == i and len(d) > 0
            # the indexed plan reads the bucketed table and drops the
            # per-vector routing Window the direct path pays every query
            direct_plan = direct._jdf.queryExecution().optimizedPlan().toString()
            indexed_plan = indexed._jdf.queryExecution().optimizedPlan().toString()
            assert table in indexed_plan
            assert indexed_plan.count("Window") < direct_plan.count("Window")
        finally:
            cents.unpersist()
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_extend_ivf_index_serves_union_without_rebuild(self, spark, embeddings):
        # Day-2 ANN growth: new vectors appended to the frozen-centroid
        # index must be served by ivf_topk_indexed exactly as a full
        # rebuild over the union would serve them.
        import shutil

        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()
        table = "ivf_index_ext_test"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(os.path.join("spark-warehouse", table), ignore_errors=True)
        day1 = embeddings.filter(F.col("vec_id") % 2 == 0)
        day2 = embeddings.filter(F.col("vec_id") % 2 == 1)
        try:
            similarity.build_ivf_index(day1, cents, table, num_buckets=4)
            n1 = spark.table(table).count()
            similarity.extend_ivf_index(spark, day2, cents, table, num_buckets=4)
            assert spark.table(table).count() == embeddings.count()
            # idempotent: re-ingesting day2 adds nothing
            similarity.extend_ivf_index(spark, day2, cents, table, num_buckets=4)
            assert spark.table(table).count() == embeddings.count()
            # intra-batch duplicates (overlapping input files deliver
            # the same vector twice) collapse before the append — a
            # double-stored row would waste a served top-k slot
            dup_batch = day2.limit(1).unionByName(day2.limit(1))
            similarity.extend_ivf_index(spark, dup_batch, cents, table, num_buckets=4)
            assert spark.table(table).count() == embeddings.count()
            assert n1 < embeddings.count()
            qs = embeddings.filter(F.col("vec_id") < 3)
            extended = similarity.ivf_topk_indexed(
                spark, table, qs, cents, k=5, nprobe=2
            )
            rebuilt_table = table + "_rebuilt"
            spark.sql(f"DROP TABLE IF EXISTS {rebuilt_table}")
            similarity.build_ivf_index(embeddings, cents, rebuilt_table, num_buckets=4)
            rebuilt = similarity.ivf_topk_indexed(
                spark, rebuilt_table, qs, cents, k=5, nprobe=2
            )
            e = sorted((r.query_id, r.vec_id, r.score, r.rk) for r in extended.collect())
            r_ = sorted((r.query_id, r.vec_id, r.score, r.rk) for r in rebuilt.collect())
            assert e == r_ and len(e) > 0
            spark.sql(f"DROP TABLE IF EXISTS {rebuilt_table}")
        finally:
            cents.unpersist()
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            spark.catalog.clearCache()


class TestIncrementalSemanticDedup:
    def _fixture(self, spark, embeddings):
        centroids = embeddings.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        frozen = similarity.assign_to_centroids(embeddings, centroids)
        copies = embeddings.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        novel = embeddings.filter(F.col("vec_id") % 7 == 2).select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        return centroids, frozen, copies, novel

    def test_copies_drop_novel_survives(self, spark, embeddings):
        # exact copies land in their source's inverted list at cosine
        # 1.0 (dropped); negated vectors are cosine -1 to their source
        # and ~0 to everything else on the synthetic data (kept)
        centroids, frozen, copies, novel = self._fixture(spark, embeddings)
        batch = copies.unionByName(novel)
        kept = similarity.incremental_semantic_dedup(
            batch, frozen, centroids, threshold=0.95, nprobe=1
        )
        ids = {r.vec_id for r in kept.collect()}
        copy_ids = {r.vec_id for r in copies.select("vec_id").collect()}
        novel_ids = {r.vec_id for r in novel.select("vec_id").collect()}
        assert ids & copy_ids == set()
        assert ids == novel_ids and len(novel_ids) > 0

    def test_reingest_of_frozen_members_is_idempotent_drop(
        self, spark, embeddings
    ):
        # the day-2 re-delivery case: a vector already in the frozen
        # corpus arrives again (same id or not) — self-cosine 1.0
        # inside its own inverted list drops it
        centroids, frozen, _, _ = self._fixture(spark, embeddings)
        rearrived = embeddings.filter(F.col("vec_id") < 20).select(
            "vec_id", "embedding"
        )
        kept = similarity.incremental_semantic_dedup(
            rearrived, frozen, centroids
        )
        assert kept.count() == 0

    def test_probe_expr_matches_window_routing(self, spark, embeddings):
        # centroid_probe_array (per-row codegen expression, the
        # streaming-legal routing) must agree bit-for-bit with
        # assign_to_centroids' window rank — same rounding, same
        # tie-break — or stream and batch route differently
        centroids = embeddings.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        cen_local = [
            (r["centroid_id"], r["embedding"])
            for r in centroids.collect()
        ]
        via_expr = embeddings.select(
            "vec_id",
            F.element_at(
                similarity.centroid_probe_array(
                    cen_local,
                    F.col("embedding").cast("array<double>"),
                    1,
                ),
                1,
            ).alias("centroid_id"),
        )
        via_window = similarity.assign_to_centroids(
            embeddings, centroids
        ).select("vec_id", "centroid_id")
        e = {(r.vec_id, r.centroid_id) for r in via_expr.collect()}
        w = {(r.vec_id, r.centroid_id) for r in via_window.collect()}
        assert e == w


class TestProductQuantization:
    def test_pq_encode_shape_and_determinism(self, spark, embeddings):
        seeds = embeddings.filter(F.col("vec_id") < 16)
        cb = similarity.make_pq_codebooks(seeds, num_subspaces=4, sub_dim=16)
        assert cb.count() == 4 * 16
        codes = similarity.pq_encode(embeddings, cb, 4, 16)
        n = embeddings.count()
        # exactly one code per (vector, subspace)
        assert codes.count() == 4 * n
        assert codes.select("vec_id", "m").distinct().count() == 4 * n
        # a seed vector quantizes to ITSELF in every subspace (its own
        # subvector is at distance -||z||^2, the minimum)
        own = codes.filter(
            (F.col("vec_id") < 16) & (F.col("vec_id") == F.col("code_id"))
        )
        assert own.count() == 4 * 16

    def test_ivf_pq_finds_planted_duplicates(self, spark, embeddings):
        """PQ's retrieval contract on structureless data: an exact
        duplicate of each query, planted in the corpus under a new id,
        MUST come back in the top-5 — it routes to the query's own
        centroid bucket and quantizes to the query's own codes, so its
        asymmetric score is the maximum the codebook can express.
        (A plain recall@5-vs-brute-force bound is NOT a sound contract
        here: the test embeddings are near-random, so 16 codewords per
        subspace quantize away the tiny true-neighbor margin — PQ earns
        its keep on clustered data and via pq_fit.)"""
        from hadoop_distributed_dynamic_file_system_spark import cache

        cen = embeddings.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        seeds = embeddings.filter(F.col("vec_id") < 16)
        cb = similarity.make_pq_codebooks(seeds, num_subspaces=4, sub_dim=16)
        qs = embeddings.filter(F.col("vec_id") < 3)
        planted = qs.select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        corpus = embeddings.select("vec_id", "embedding").unionByName(planted)
        approx = similarity.ivf_pq_topk(
            corpus, qs, cen, cb, num_subspaces=4, sub_dim=16,
            k=5, nprobe=2,
        )
        got = {(r.query_id, r.vec_id) for r in approx.collect()}
        cache.release_all()
        for qid in (0, 1, 2):
            assert (qid, qid + 100000) in got, f"planted dup missing for {qid}"

    def test_pq_fit_learns_better_or_equal_codebooks(self, spark, embeddings):
        """Learned (k-means) codebooks must not be WORSE than fixed
        seed codebooks on total quantization distortion — the reason
        pq_fit exists."""
        from hadoop_distributed_dynamic_file_system_spark import cache

        sub = embeddings.limit(200)
        fixed = similarity.make_pq_codebooks(
            embeddings.filter(F.col("vec_id") < 8), num_subspaces=2, sub_dim=32
        )
        learned = similarity.pq_fit(
            sub, num_subspaces=2, sub_dim=32, n_codes=8, iterations=2
        )

        def distortion(cb):
            codes = similarity.pq_encode(sub, cb, 2, 32)
            c = sub.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("cv")
            )
            joined = codes.join(c, "vec_id").join(
                cb.withColumnRenamed("zv", "zvv"), ["m", "code_id"]
            )
            subv = F.when(F.col("m") == 0, F.slice("cv", 1, 32)).otherwise(
                F.slice("cv", 33, 32)
            )
            d = joined.select(
                (similarity.norm_sq(subv)
                 - 2 * similarity.dot(subv, F.col("zvv"))
                 + similarity.norm_sq(F.col("zvv"))).alias("dd")
            )
            return d.agg(F.sum("dd")).first()[0]

        df_fixed = distortion(fixed)
        df_learned = distortion(learned)
        cache.release_all()
        assert df_learned <= df_fixed * 1.001


class TestSemanticDedup:
    def _toy(self, spark):
        # two well-separated directions + exact/near copies
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0, 0.0]),   # near-dup of 1 (cos ~0.9992)
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0, 0.0]),      # exact dup of 3
            (5, [0.6, 0.8, 0.0, 0.0]),      # between, not a dup of either
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_drops_within_bucket_dups(self, spark):
        corpus = self._toy(spark)
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "centroid_id long, embedding array<double>",
        )
        out = {
            r.vec_id: r
            for r in similarity.semantic_dedup(
                corpus, cents, threshold=0.95
            ).collect()
        }
        assert out[1].kept and out[1].dup_of is None
        assert not out[2].kept and out[2].dup_of == 1
        assert out[3].kept
        assert not out[4].kept and out[4].dup_of == 3
        assert out[5].kept  # cos(5, 3)=0.8, cos(5, 4)=0.8 < 0.95
        # routing sanity: 5 sits in the y bucket (cos 0.8 vs 0.6)
        assert out[5].centroid_id == 1

    def test_cross_bucket_dup_is_missed_by_design(self, spark):
        # the documented SemDeDup approximation: identical vectors
        # routed to different buckets (forced by degenerate centroids)
        # are NOT paired
        corpus = spark.createDataFrame(
            [(1, [1.0, 1.0]), (2, [1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 1.0]), (1, [1.0, 1.0])],
            "centroid_id long, embedding array<double>",
        )
        out = similarity.semantic_dedup(corpus, cents, threshold=0.95)
        # both tie to centroid 0 (lowest id wins) -> same bucket -> dup
        # found; this pins the deterministic tie-break that PREVENTS
        # spurious cross-bucket misses for exact ties
        rows = {r.vec_id: r for r in out.collect()}
        assert rows[1].kept and not rows[2].kept


class TestJLProjection:
    def test_one_hot_recovers_matrix_column(self, spark):
        import math

        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        dim, k = 16, 4
        planes = sim.lsh_hyperplanes(dim, k)
        # one-hot e_i -> component j = s_ji / sqrt(k), exactly
        rows = [(i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(dim)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r.vec_id: list(r.jl) for r in sim.jl_project(df, "embedding", dim, k).collect()}
        s = 1.0 / math.sqrt(k)
        for i in range(dim):
            want = [round(planes[j][i] * s, 6) for j in range(k)]
            assert out[i] == want, (i, out[i], want)

    def test_distance_preservation_loose(self, spark):
        # JL sanity on real-ish vectors: the mean pairwise distance
        # ratio (projected/original) over a sample should land near 1
        # even at k=8 — catches sign/scale bugs, not a proof of the
        # lemma's epsilon
        import numpy as np

        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        rng = [(i, [float(((i * 31 + j * 17) % 13) - 6) for j in range(64)]) for i in range(30)]
        df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
        out = {r.vec_id: np.array(r.jl) for r in sim.jl_project(df, "embedding", 64, 8).collect()}
        orig = {i: np.array(v) for i, v in rng}
        ratios = []
        for a in range(0, 30, 3):
            for b in range(1, 30, 7):
                if a == b:
                    continue
                do = np.linalg.norm(orig[a] - orig[b])
                dp = np.linalg.norm(out[a] - out[b])
                if do > 0:
                    ratios.append(dp / do)
        m = float(np.mean(ratios))
        assert 0.5 < m < 1.5, m


class TestInt8Quantize:
    def test_exact_values_and_range(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        df = spark.createDataFrame(
            [(1, [1.0, -2.0, 0.5, 4.0]), (2, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        out = {r.vec_id: r for r in sim.int8_quantize(df, "embedding").collect()}
        r = out[1]
        # max|x| = 4 -> scale = 4/127; q = round(x*127/4)
        assert abs(r.qscale - 4.0 / 127) < 1e-15
        assert list(r.qvec) == [32, -64, 16, 127]
        # zero vector dropped (documented convention)
        assert 2 not in out

    def test_dequantized_cosine_close(self, spark):
        import numpy as np

        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        rows = [(i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(64)])
                for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r.vec_id: (r.qscale, np.array(r.qvec, dtype=float))
               for r in sim.int8_quantize(df, "embedding").collect()}
        orig = {i: np.array(v) for i, v in rows}
        for i in orig:
            s, q = out[i]
            deq = s * q
            a, b = orig[i], deq
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert cos > 0.999, (i, cos)


class TestInt8TopK:
    def test_high_recall_vs_brute_force(self, spark):
        # the drop-in claim, tested literally: same metric (cosine),
        # same contract, recall measured against brute_force_topk
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        rows = [(i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(64)])
                for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.filter("vec_id < 3")
        got = sim.int8_topk(df, queries, k=5).collect()
        exact = sim.brute_force_topk(df, queries, k=5).collect()
        for qid in range(3):
            approx_ids = {r.vec_id for r in got if r.query_id == qid}
            exact_ids = {r.vec_id for r in exact if r.query_id == qid}
            overlap = len(approx_ids & exact_ids)
            assert overlap >= 4, (qid, approx_ids, exact_ids)

    def test_contract_matches_brute_force_shape(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        df = spark.createDataFrame(
            [(i, [float(i + j) for j in range(4)]) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
        out = sim.int8_topk(df, df.filter("vec_id = 0"), k=3)
        assert out.columns == ["query_id", "vec_id", "score", "rk"]
        rows = out.collect()
        assert [r.rk for r in sorted(rows, key=lambda r: r.rk)] == [1, 2, 3]


class TestIvfInt8:
    def test_recall_decomposition_chain(self, spark):
        # the three tiers agree on metric/contract, so recall can be
        # measured pairwise: ivf_int8 vs ivf isolates quantization,
        # ivf vs brute isolates bucket-miss
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        rows = [(i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(64)])
                for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = df.filter("vec_id < 6").select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        qs = df.filter("vec_id < 2")
        full = sim.ivf_topk(df, qs, cents, k=5, nprobe=3).collect()
        quant = sim.ivf_int8_topk(df, qs, cents, k=5, nprobe=3).collect()
        for qid in range(2):
            a = {r.vec_id for r in full if r.query_id == qid}
            b = {r.vec_id for r in quant if r.query_id == qid}
            assert len(a & b) >= 4, (qid, a, b)
        assert {c for r in quant for c in (r.query_id,)} == {0, 1}


class TestTwoStageRerank:
    def _corpus(self, spark, n=60):
        rows = [(i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(64)])
                for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_rerank_scores_are_exact_cosines(self, spark):
        """Stage-2 re-scores at full precision: every (query, vec)
        surviving the re-rank must carry the same score brute force
        assigns that pair."""
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        df = self._corpus(spark)
        cents = df.filter("vec_id < 6").select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        qs = df.filter("vec_id < 2")
        got = sim.two_stage_rerank(df, qs, cents, k=5, candidates=20, nprobe=3).collect()
        exact = {
            (r.query_id, r.vec_id): r.score
            for r in sim.brute_force_topk(df, qs, k=59).collect()
        }
        assert len(got) == 10
        for r in got:
            assert exact[(r.query_id, r.vec_id)] == r.score

    def test_wide_candidates_recover_brute_force(self, spark):
        """candidates -> corpus size and nprobe -> all buckets makes
        the two-stage EXACT: the candidate set covers everything, so
        the re-rank must equal brute force row for row."""
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        df = self._corpus(spark, n=30)
        cents = df.filter("vec_id < 4").select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        qs = df.filter("vec_id < 2")
        got = sorted(
            sim.two_stage_rerank(df, qs, cents, k=5, candidates=29, nprobe=4).collect(),
            key=lambda r: (r.query_id, r.rk),
        )
        want = sorted(
            sim.brute_force_topk(df, qs, k=5).collect(),
            key=lambda r: (r.query_id, r.rk),
        )
        assert [(r.query_id, r.vec_id, r.score, r.rk) for r in got] == [
            (r.query_id, r.vec_id, r.score, r.rk) for r in want
        ]


class TestRrfFuse:
    def test_known_fusion_arithmetic(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        l1 = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, doc_id long, rk int"
        )
        l2 = spark.createDataFrame(
            [(0, 11, 1), (0, 13, 2)], "query_id long, doc_id long, rk int"
        )
        out = {r.doc_id: (r.rrf, r.rk)
               for r in sim.rrf_fuse([l1, l2], "doc_id", k=10).collect()}
        # doc 11: 1/62 + 1/61; doc 10: 1/61; doc 13: 1/62; doc 12: 1/63
        assert out[11][0] == round(1 / 62 + 1 / 61, 6)
        assert out[11][1] == 1
        assert out[10] == (round(1 / 61, 6), 2)
        assert out[13] == (round(1 / 62, 6), 3)
        assert out[12] == (round(1 / 63, 6), 4)

    def test_missing_doc_contributes_nothing(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import similarity as sim

        l1 = spark.createDataFrame([(0, 1, 1)], "query_id long, doc_id long, rk int")
        l2 = spark.createDataFrame([(1, 2, 1)], "query_id long, doc_id long, rk int")
        rows = sim.rrf_fuse([l1, l2], "doc_id", k=5).collect()
        assert {(r.query_id, r.doc_id, r.rk) for r in rows} == {(0, 1, 1), (1, 2, 1)}


class TestIvfRetraction:
    """Round-9: the vector-store erasure leg — tombstones over the
    served inverted lists; ANN top-k and the semantic gates stop
    seeing retracted ids on the next probe, no index rewrite."""

    def _tables(self, spark, table):
        import shutil

        for t in (table, table + "__tombstones", table + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join("spark-warehouse", t), ignore_errors=True)

    def test_ivf_index_health_census(self, spark, embeddings):
        # MONITOR leg, vector-store modality: scalars re-derived from
        # the served inverted lists; max_key_docs is cell skew
        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()
        table = "ivf_health_test"
        self._tables(spark, table)
        try:
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            base = spark.table(table)
            total = base.count()
            cells = base.select("centroid_id").distinct().count()
            hottest = (
                base.groupBy("centroid_id").count()
                .agg(F.max("count")).collect()[0][0]
            )
            h0 = similarity.ivf_index_health(spark, table).collect()[0]
            assert (
                h0.index_rows, h0.dead_rows, h0.live_keys, h0.max_key_docs,
                h0.retracted_docs, h0.recommend_compact,
            ) == (total, 0, cells, hottest, 0, False)
            # retract ~half the vectors: dead accounting + cadence fire
            gone = embeddings.filter(F.col("vec_id") % 2 == 0)
            n_gone = gone.count()
            similarity.retract_from_ivf_index(spark, table, gone)
            # scale pin: the cell census rides the centroid_id
            # bucketing — no shuffle keyed on centroid_id, one
            # bucketed scan, only the doc-sized distinct shuffle
            plan = (
                similarity.ivf_index_health(spark, table)
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "hashpartitioning(centroid_id" not in plan
            assert plan.count("Exchange hashpartitioning") == 1
            assert "Bucketed: true" in plan
            h1 = similarity.ivf_index_health(spark, table).collect()[0]
            assert (h1.dead_rows, h1.retracted_docs) == (n_gone, n_gone)
            assert h1.live_rows == total - n_gone
            assert h1.recommend_compact is True
            # compact folds them: clean census over the survivors
            similarity.compact_ivf_index(spark, table)
            h2 = similarity.ivf_index_health(spark, table).collect()[0]
            assert (
                h2.index_rows, h2.dead_rows, h2.retracted_docs,
                h2.recommend_compact,
            ) == (total - n_gone, 0, 0, False)
        finally:
            cents.unpersist()
            self._tables(spark, table)
            spark.catalog.clearCache()

    def test_topk_excludes_retracted_then_resurrects_then_compacts(
        self, spark, embeddings
    ):
        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()
        table = "ivf_retract_test"
        self._tables(spark, table)
        qs = embeddings.filter(F.col("vec_id") < 3)
        try:
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            full = similarity.ivf_topk_indexed(
                spark, table, qs, cents, k=5, nprobe=2
            )
            # retract every id the full top-5 returned: the next serve
            # must promote entirely different vectors
            gone = {r.vec_id for r in full.collect()}
            assert gone
            similarity.retract_from_ivf_index(
                spark, table,
                embeddings.filter(F.col("vec_id").isin(*gone)),
            )
            after = similarity.ivf_topk_indexed(
                spark, table, qs, cents, k=5, nprobe=2
            )
            served = {r.vec_id for r in after.collect()}
            assert served and not (served & gone)
            # oracle: indexed serve over tombstones == direct IVF over
            # the corpus minus the retracted vectors
            direct = similarity.ivf_topk(
                embeddings.filter(~F.col("vec_id").isin(*gone)),
                qs, cents, k=5, nprobe=2,
            )
            assert sorted(
                (r.query_id, r.vec_id, r.score, r.rk) for r in after.collect()
            ) == sorted(
                (r.query_id, r.vec_id, r.score, r.rk) for r in direct.collect()
            )
            # re-adding one retracted vector resurrects exactly it
            back = min(gone)
            similarity.extend_ivf_index(
                spark,
                embeddings.filter(F.col("vec_id") == back),
                cents, table, num_buckets=4,
            )
            assert spark.table(table + "__tombstones").count() == len(gone) - 1
            resurrected = {
                r.vec_id
                for r in similarity.ivf_topk_indexed(
                    spark, table, qs, cents, k=5, nprobe=2
                ).collect()
            }
            assert back in resurrected
            # compact folds the remaining tombstones; serve unchanged
            pre = sorted(
                (r.query_id, r.vec_id, r.score, r.rk)
                for r in similarity.ivf_topk_indexed(
                    spark, table, qs, cents, k=5, nprobe=2
                ).collect()
            )
            similarity.compact_ivf_index(spark, table)
            assert not spark.catalog.tableExists(table + "__tombstones")
            post = sorted(
                (r.query_id, r.vec_id, r.score, r.rk)
                for r in similarity.ivf_topk_indexed(
                    spark, table, qs, cents, k=5, nprobe=2
                ).collect()
            )
            assert pre == post
        finally:
            cents.unpersist()
            self._tables(spark, table)

    def test_semantic_gate_readmits_after_retraction(self, spark, embeddings):
        # the dedup gate composes through live_ivf_index: a batch vector
        # that duplicates ONLY a retracted corpus vector must survive
        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()
        table = "ivf_retract_sem"
        self._tables(spark, table)
        try:
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            batch = embeddings.filter(F.col("vec_id") == 7).select(
                (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
            )
            kept_pre = similarity.incremental_semantic_dedup(
                batch,
                similarity.live_ivf_index(spark, table),
                cents, threshold=0.999, nprobe=2,
            )
            assert kept_pre.count() == 0  # exact copy of live id 7 dies
            similarity.retract_from_ivf_index(
                spark, table, embeddings.filter(F.col("vec_id") == 7)
            )
            kept_post = similarity.incremental_semantic_dedup(
                batch,
                similarity.live_ivf_index(spark, table),
                cents, threshold=0.999, nprobe=2,
            )
            assert kept_post.count() == 1  # its only source is gone
        finally:
            cents.unpersist()
            self._tables(spark, table)

    def test_rebuild_starts_new_generation(self, spark, embeddings):
        cents = similarity.kmeans_fit(embeddings, k=4, iterations=2)
        cents = cents.persist()
        cents.count()
        table = "ivf_retract_gen"
        self._tables(spark, table)
        try:
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            similarity.retract_from_ivf_index(
                spark, table, embeddings.filter(F.col("vec_id") == 1)
            )
            assert spark.catalog.tableExists(table + "__tombstones")
            similarity.build_ivf_index(embeddings, cents, table, num_buckets=4)
            assert not spark.catalog.tableExists(table + "__tombstones")
        finally:
            cents.unpersist()
            self._tables(spark, table)
