"""As-of join and interval join semantics (operators/temporal.py)."""

from pyspark.sql import functions as F

from hadoop_distributed_dynamic_file_system_spark.operators import temporal


def _l(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 7, "c"), (3, 1, "d")],
        "k int, ts int, v string",
    )


def _r(spark):
    # k=1 ts=10: rn is a REAL value; k=1 ts=5: rv present but rn NULL —
    # the null-atomicity case (a match must never mix columns from
    # different right rows).
    return spark.createDataFrame(
        [(1, 5, "x", None), (1, 10, "y", 9), (1, 15, "z", 1), (2, 7, "w", 2)],
        "k int, ts int, rv string, rn int",
    )


def test_asof_backward_inclusive(spark):
    out = {
        (r.k, r.ts): (r.rv, r.rn)
        for r in temporal.asof_join(_l(spark), _r(spark), "k", "ts", "ts").collect()
    }
    # ts=10 sees the equal-timestamp right row (inclusive bound)
    assert out == {(1, 10): ("y", 9), (1, 20): ("z", 1), (2, 7): ("w", 2)}


def test_asof_left_keeps_unmatched(spark):
    out = temporal.asof_join(_l(spark), _r(spark), "k", "ts", "ts", how="left")
    rows = {(r.k, r.ts): (r.rv, r.rn) for r in out.collect()}
    assert rows[(3, 1)] == (None, None)
    assert len(rows) == 4


def test_asof_null_right_value_stays_atomic(spark):
    """A right row with a NULL value column is still one atomic match:
    left (1,7) matches right (1,5) whose rn is NULL — rn must come back
    NULL, not filled from some older right row."""
    l = spark.createDataFrame([(1, 7, "p")], "k int, ts int, v string")
    out = temporal.asof_join(l, _r(spark), "k", "ts", "ts").collect()
    assert [(r.rv, r.rn) for r in out] == [("x", None)]


def test_asof_forward(spark):
    out = temporal.asof_join(
        _l(spark), _r(spark), "k", "ts", "ts", direction="forward"
    )
    rows = {(r.k, r.ts): r.rv for r in out.collect()}
    # ts=20 has no right row at-or-after it -> dropped under inner
    assert rows == {(1, 10): "y", (2, 7): "w"}


def test_asof_tolerance(spark):
    out = temporal.asof_join(_l(spark), _r(spark), "k", "ts", "ts", tolerance=3)
    rows = {(r.k, r.ts): r.rv for r in out.collect()}
    # (1,20) matched z@15 at distance 5 > 3 -> dropped; (1,10) is exact
    assert rows == {(1, 10): "y", (2, 7): "w"}


def test_asof_tiebreak_resolves_duplicate_right_ts(spark):
    l = spark.createDataFrame([(1, 10, "p")], "k int, ts int, v string")
    r = spark.createDataFrame(
        [(1, 10, "lo", 1), (1, 10, "hi", 2)], "k int, ts int, rv string, seq int"
    )
    out = temporal.asof_join(
        l, r, "k", "ts", "ts", right_tiebreak="seq"
    ).collect()
    assert [x.rv for x in out] == ["hi"]


def test_interval_join_matches_inequality_join(spark):
    pts = spark.createDataFrame([(i,) for i in range(50)], "p int")
    iv = spark.createDataFrame(
        [(1, 3, 7), (2, 10, 28), (3, 3, 4), (4, 49, 60)], "ivid int, s int, e int"
    )
    got = sorted(
        (r.ivid, r.p)
        for r in temporal.interval_join(pts, iv, "p", "s", "e", 4).collect()
    )
    want = sorted(
        (r.ivid, r.p)
        for r in pts.join(iv, (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
        .collect()
    )
    assert got == want and len(got) > 0


def test_asof_single_shuffle(spark):
    """The whole as-of join is one hash-partitioning on the key: no
    join exchange, no broadcast — union + window only."""
    plan = temporal.asof_join(
        _l(spark), _r(spark), "k", "ts", "ts"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan


# ---------------------------------------------------------------- graph CC

from hadoop_distributed_dynamic_file_system_spark.operators import graph


def test_cc_two_components_and_min_labels(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in
           graph.connected_components(e, "id_a", "id_b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_cc_long_chain_converges(spark):
    """A 64-node path graph: diameter 63, but pointer jumping must
    reach the fixpoint well inside max_iter=25 (log-bound)."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in
           graph.connected_components(e, "id_a", "id_b", max_iter=25).collect()}
    assert len(got) == 64 and set(got.values()) == {0}


def test_cc_component_sizes(spark):
    e = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    cc = graph.connected_components(e, "id_a", "id_b")
    sizes = {r.comp: r.n_members for r in graph.component_sizes(cc).collect()}
    assert sizes == {1: 3, 7: 2}


# ---------------------------------------------------------------- z-order

from hadoop_distributed_dynamic_file_system_spark.operators import layout


def test_zorder_clustering_bounds_both_dimensions(spark, tmp_path):
    """Range-clustering on the Morton code must bound BOTH dimensions
    per file (the whole point vs a one-column sort, which leaves the
    second dimension's per-file range at ~full width)."""
    import pyarrow.parquet as pq
    import glob

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 7919) % 64).alias("b"),
    )
    zpath = str(tmp_path / "zclustered")
    layout.cluster_by_zorder(df, [F.col("a"), F.col("b")], zpath,
                             num_files=8, bits=6)

    def file_ranges(path, col_names):
        spans = {c: [] for c in col_names}
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins = {c: None for c in col_names}
            maxs = {c: None for c in col_names}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in col_names and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            for c in col_names:
                spans[c].append(maxs[c] - mins[c])
        return {c: sum(v) / len(v) for c, v in spans.items()}

    z_spans = file_ranges(zpath, ["a", "b"])
    # global range is 63; z-clustering with 8 files fixes the top 3
    # interleaved bits -> a bounded to ~32, b to ~16
    assert z_spans["a"] <= 45 and z_spans["b"] <= 30

    # contrast: sorting by a alone leaves b unbounded per file
    apath = str(tmp_path / "asorted")
    df.repartitionByRange(8, "a").sortWithinPartitions("a")\
      .write.mode("overwrite").parquet(apath)
    a_spans = file_ranges(apath, ["a", "b"])
    assert a_spans["b"] >= 45  # near-full width: no real pruning on b
    assert z_spans["b"] < a_spans["b"] * 0.6


def test_zorder_value_matches_reference_interleave(spark):
    rows = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5)], "a int, b int")
    got = [r.z for r in rows.select(
        layout.zorder_value([F.col("a"), F.col("b")], bits=3).alias("z")
    ).collect()]

    def morton(a, b):
        z = 0
        for bit in range(3):
            z |= ((a >> bit) & 1) << (2 * bit)
            z |= ((b >> bit) & 1) << (2 * bit + 1)
        return z

    assert got == [morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5)]]


# ------------------------------------------------- multimodal widening

from hadoop_distributed_dynamic_file_system_spark.operators import multimodal


def test_audio_chunks_cover_stream_exactly(spark):
    """WAV streams split into full windows plus a tail; a payload that
    is not WAV (or is a truncated RIFF) yields one all-null row."""
    long_wav = multimodal.make_wav([3] * 100000)
    df = spark.createDataFrame(
        [(1, long_wav), (2, multimodal.make_wav([4] * 500)), (3, b"x" * 200000),
         (4, long_wav[:40])],
        "doc_id long, payload binary",
    )
    chunks = multimodal.wav_chunks(df, chunk_samples=48000).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_no, r.n_samples, r.rms))
    # doc 1: 100000 samples -> 3 chunks (48k, 48k, 4k); doc 2: 1 chunk of 500
    assert sorted(by_doc[1]) == [(0, 48000, 3.0), (1, 48000, 3.0), (2, 4000, 3.0)]
    assert by_doc[2] == [(0, 500, 4.0)]
    assert by_doc[3] == by_doc[4] == [(None, None, None)]


# ------------------------------------------------- incremental rollups

from hadoop_distributed_dynamic_file_system_spark.operators import rollup as ru


def test_rollup_merge_closed_under_composition(spark):
    """Three increments folded pairwise equal the direct rollup, and
    the hourly table cascades to a daily table with the same merge."""
    rows = [(h, t, float(v)) for h in range(48) for t in ("a", "b")
            for v in range(3)]
    df = spark.createDataFrame(rows, "hour int, typ string, value double")
    inc1 = ru.rollup_events(df.filter("hour < 16"), ["hour", "typ"], {"sv": "value"})
    inc2 = ru.rollup_events(df.filter("hour >= 16 and hour < 32"), ["hour", "typ"], {"sv": "value"})
    inc3 = ru.rollup_events(df.filter("hour >= 32"), ["hour", "typ"], {"sv": "value"})
    merged = ru.merge_rollups(
        ru.merge_rollups(inc1, inc2, ["hour", "typ"], ["sv"]),
        inc3, ["hour", "typ"], ["sv"],
    )
    direct = ru.rollup_events(df, ["hour", "typ"], {"sv": "value"})
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    # cascade: re-aggregate the hourly table to daily with plain sums
    daily = merged.withColumn("day", F.floor(F.col("hour") / 24)) \
        .groupBy("day", "typ").agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"))
    assert {(r.day, r.typ, r.cnt) for r in daily.collect()} == \
        {(d, t, 24 * 3) for d in (0, 1) for t in ("a", "b")}


def test_sketch_union_equals_direct_sketch(spark):
    """HLL union of per-day sketches estimates EXACTLY what a direct
    whole-range sketch estimates (deterministic merge algebra)."""
    rows = [(d, i % 100) for d in range(4) for i in range(50 * (d + 1))]
    df = spark.createDataFrame(rows, "day int, uid int")
    daily = ru.rollup_events(df, ["day"], {}, distinct_sketches={"sk": "uid"})
    merged_est = (
        daily.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0].e
    )
    direct_est = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("uid")).alias("e")
    ).collect()[0].e
    assert merged_est == direct_est


class TestTimeWeightedAvg:
    def test_burst_invariance(self, spark):
        import datetime as dt

        from hadoop_distributed_dynamic_file_system_spark.operators.temporal import (
            time_weighted_avg,
        )

        def t(h):
            return dt.datetime(2024, 1, 1, h)

        base = [(1, t(0), 10.0), (1, t(2), 40.0), (1, t(4), 99.0)]
        schema = "k long, ts timestamp_ntz, v double"
        twa = lambda rows: time_weighted_avg(  # noqa: E731
            spark.createDataFrame(rows, schema), ["k"], "ts", "v"
        ).collect()[0]
        r = twa(base)
        # (10*2h + 40*2h) / 4h; the last sample holds for zero time
        assert r.twa == 25.0 and r.n_samples == 3
        # a burst of duplicate-value samples must NOT move the TWA
        # (plain avg would drop toward the burst value)
        burst = base + [(1, t(1), 10.0)]
        assert twa(burst).twa == 25.0

    def test_single_sample_falls_back_to_value(self, spark):
        import datetime as dt

        from hadoop_distributed_dynamic_file_system_spark.operators.temporal import (
            time_weighted_avg,
        )

        rows = [(5, dt.datetime(2024, 3, 2, 9), 7.5)]
        out = time_weighted_avg(
            spark.createDataFrame(rows, "k long, ts timestamp_ntz, v double"),
            ["k"], "ts", "v",
        ).collect()
        assert len(out) == 1 and out[0].twa == 7.5


class TestScd2Intervals:
    def test_collapse_and_intervals(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import temporal

        rows = [
            (1, 10, "a"), (1, 20, "a"),  # re-observation extends, no split
            (1, 30, "b"), (1, 40, "a"),  # a -> b -> back to a = 3 intervals
            (2, 15, "x"),
        ]
        df = spark.createDataFrame(rows, "k long, ts long, v string")
        out = sorted(
            temporal.scd2_intervals(df, "k", "ts", ["v"]).collect(),
            key=lambda r: (r.k, r.valid_from),
        )
        got = [(r.k, r.v, r.valid_from, r.valid_to, r.is_current) for r in out]
        assert got == [
            (1, "a", 10, 30, False),
            (1, "b", 30, 40, False),
            (1, "a", 40, None, True),
            (2, "x", 15, None, True),
        ]

    def test_null_attr_transitions(self, spark):
        """eqNullSafe: null->null is NO change; null->value and
        value->null are changes."""
        from hadoop_distributed_dynamic_file_system_spark.operators import temporal

        rows = [(1, 1, None), (1, 2, None), (1, 3, "v"), (1, 4, None)]
        df = spark.createDataFrame(rows, "k long, ts long, v string")
        out = sorted(
            temporal.scd2_intervals(df, "k", "ts", ["v"]).collect(),
            key=lambda r: r.valid_from,
        )
        assert [(r.v, r.valid_from, r.valid_to) for r in out] == [
            (None, 1, 3), ("v", 3, 4), (None, 4, None),
        ]

    def test_multi_attr_change_on_any(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import temporal

        rows = [(1, 1, "a", 5), (1, 2, "a", 6), (1, 3, "a", 6)]
        df = spark.createDataFrame(rows, "k long, ts long, v string, n long")
        out = temporal.scd2_intervals(df, "k", "ts", ["v", "n"]).collect()
        assert len(out) == 2  # n changed at ts=2; ts=3 extends
