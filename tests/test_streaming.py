"""Structured Streaming over the events table (SURVEY §2.9 — additive;
the reference has no streaming engine). Verifies the streamed windowed
aggregation agrees with its batch twin, dedup drops duplicate
event_ids, and session windows respect the gap."""

import pytest
from pyspark.sql import functions as F

from hadoop_distributed_dynamic_file_system_spark.streaming import events as ev


@pytest.fixture(scope="module")
def event_stream(spark, sf_dir):
    return ev.read_events_stream(spark, sf_dir)


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, sf_dir, event_stream):
        out = ev.run_to_memory(
            ev.windowed_counts(event_stream, window="1 hour"), "win_counts"
        )
        got = {
            (r.win_start, r.event_type): (r.cnt, round(r.sum_value, 6))
            for r in out.collect()
        }
        # batch twin on the same source
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        import os

        raw = ev.normalize_event_ts(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        )
        batch = (
            raw.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
            .select(F.col("window.start").alias("win_start"), "event_type", "cnt", "sum_value")
        )
        want = {
            (r.win_start, r.event_type): (r.cnt, round(r.sum_value, 6))
            for r in batch.collect()
        }
        # append mode only emits CLOSED windows: end <= watermark
        # (= max event time - 2h); the final windows stay open forever
        # on a finite source — that's the semantics, not a bug.
        import datetime

        max_ts = raw.agg(F.max("ts")).collect()[0][0]
        horizon = max_ts - datetime.timedelta(hours=3)  # 1h window + 2h watermark
        closed = {k: v for k, v in want.items() if k[0] < horizon}
        assert len(got) > 0 and closed.items() <= got.items() <= want.items()

    def test_stream_dedup(self, spark, event_stream):
        out = ev.run_to_memory(ev.stream_dedup(event_stream), "dedup")
        n = out.count()
        ids = out.select("event_id").distinct().count()
        assert n == ids > 0

    def test_stateful_user_totals_match_batch(self, spark, sf_dir, event_stream):
        out = ev.run_to_memory(
            ev.running_user_totals(event_stream), "user_totals", output_mode="update"
        )
        rows = out.collect()
        assert len(rows) > 0
        # LAST emitted row per user == the batch total (update mode may
        # emit intermediates if the source splits into several batches)
        import os

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        batch = {
            r.user_id: (r.n, round(r.s, 6))
            for r in raw.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        last = {}
        for r in rows:  # memory sink appends in batch order
            last[r.user_id] = (r.n_events, round(r.sum_value, 6))
        assert last == batch

    def test_stateful_accumulates_across_batches(self, spark, tmp_path):
        # several files + maxFilesPerTrigger=1 → several micro-batches;
        # state must carry between them (single-batch tests can't see
        # a reset-state bug)
        src = tmp_path / "stream_src"
        src.mkdir()
        # the SAME user appears in every file — its state must carry
        for i in range(3):
            spark.createDataFrame(
                [(100, float(i + 1)), (200 + i, 10.0)], "user_id long, value double"
            ).coalesce(1).write.mode("append").parquet(str(src / f"b{i}"))
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.running_user_totals(stream), "acc_totals", output_mode="update"
        )
        rows = out.collect()
        emits_for_100 = [
            (r.n_events, r.sum_value) for r in rows if r.user_id == 100
        ]
        # one emit per batch, running totals 1, 1+2, 1+2+3
        assert len(emits_for_100) == 3
        assert sorted(emits_for_100) == [(1, 1.0), (2, 3.0), (3, 6.0)]
        last = {}
        for r in rows:
            last[r.user_id] = (r.n_events, r.sum_value)
        assert last[100] == (3, 6.0)
        assert last[200] == (1, 10.0) and last[202] == (1, 10.0)

    def test_stream_stream_join_matches_batch(self, spark, sf_dir, event_stream):
        out = ev.run_to_memory(
            ev.stream_stream_join(event_stream), "ss_join"
        )
        got = {(r.user_id, r.l_event, r.r_event) for r in out.collect()}
        # batch twin: same interval join over the static table
        import os

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = ev.normalize_event_ts(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        )
        v = raw.filter(F.col("event_type") == "view").selectExpr(
            "user_id AS l_user", "ts AS l_ts", "event_id AS l_event"
        )
        p = raw.filter(F.col("event_type") == "purchase").selectExpr(
            "user_id AS r_user", "ts AS r_ts", "event_id AS r_event"
        )
        want = {
            (r.l_user, r.l_event, r.r_event)
            for r in v.join(
                p,
                (F.col("l_user") == F.col("r_user"))
                & (F.col("l_ts") < F.col("r_ts"))
                & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 hour")),
            ).collect()
        }
        # a finite stream may hold back pairs within the final
        # watermark; everything emitted must be correct and the bulk
        # of the batch result must be present
        assert got <= want
        assert len(got) >= 0.8 * len(want) > 0

    def test_session_window_gap(self, spark, event_stream):
        out = ev.run_to_memory(
            ev.sessionize_stream(event_stream, gap="30 minutes"), "sessions"
        )
        rows = out.limit(2000).collect()
        assert len(rows) > 0
        # every session spans >= its event count * 0 and end > start
        assert all(r.session_end > r.session_start for r in rows)
        # one user's sessions don't overlap
        by_user = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append((r.session_start, r.session_end))
        some_user = max(by_user, key=lambda u: len(by_user[u]))
        spans = sorted(by_user[some_user])
        assert all(a_end <= b_start for (_, a_end), (b_start, _) in zip(spans, spans[1:]))


class TestRateLimitedIngestion:
    def test_max_files_per_trigger_bounds_each_batch(self, spark, tmp_path):
        # a 4-file backlog with maxFilesPerTrigger=1 must drain in 4
        # bounded micro-batches, not one giant batch — the cold-start
        # backpressure story for streaming over an existing directory
        src = tmp_path / "rl_src"
        src.mkdir()
        per_file = 5
        for i in range(4):
            spark.createDataFrame(
                [(i * per_file + j, float(j)) for j in range(per_file)],
                "id long, v double",
            ).coalesce(1).write.mode("append").parquet(str(src / f"f{i}"))
        stream = ev.read_parquet_dir_stream(
            spark, str(src) + "/*", "id long, v double", max_files_per_trigger=1
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rl_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        assert spark.sql("SELECT count(*) c FROM rl_out").collect()[0].c == 4 * per_file
        # one batch per file, each bounded to a single file's rows
        assert len(progress) == 4
        assert all(p["numInputRows"] == per_file for p in progress)


class TestStreamStaticEnrich:
    def test_enrich_matches_batch_twin(self, spark, sf_dir, event_stream):
        import os

        # user tier dim derived deterministically so the twin is exact
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        dim = (
            raw.select("user_id").distinct()
            .withColumn("tier", F.col("user_id") % 3)
        )
        enriched = ev.enrich_stream(
            event_stream.select("event_id", "user_id"), dim, "user_id"
        )
        out = ev.run_to_memory(enriched, "enrich_out")
        got = {(r.event_id, r.tier) for r in out.collect()}
        want = {
            (r.event_id, r.user_id % 3)
            for r in raw.select("event_id", "user_id").collect()
        }
        assert got == want

    def test_enrich_plan_broadcasts_static_side(self, spark, sf_dir, event_stream):
        dim = spark.createDataFrame([(1, "a")], "user_id long, tier string")
        enriched = ev.enrich_stream(event_stream, dim, "user_id")
        # logical plan must carry the broadcast hint for the static side
        plan = enriched._jdf.queryExecution().logical().toString()
        assert "broadcast" in plan.lower()


class TestIdempotentSink:
    def _mk_backlog(self, spark, src, files=3, per_file=4):
        for i in range(files):
            spark.createDataFrame(
                [(i * per_file + j, float(j)) for j in range(per_file)],
                "id long, v double",
            ).coalesce(1).write.mode("append").parquet(str(src / f"f{i}"))

    def test_sink_writes_all_epochs_once(self, spark, tmp_path):
        src = tmp_path / "ide_src"
        src.mkdir()
        self._mk_backlog(spark, src)
        out_dir, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
        stream = ev.read_parquet_dir_stream(
            spark, str(src) + "/*", "id long, v double", max_files_per_trigger=1
        )
        q = (
            ev.idempotent_parquet_sink(stream, out_dir, ledger)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(out_dir)
        assert got.count() == 12
        assert sorted(r.id for r in got.select("id").collect()) == list(range(12))

    def test_replayed_epoch_is_noop(self, spark, tmp_path):
        out_dir, ledger = str(tmp_path / "out2"), str(tmp_path / "ledger2")
        writer = ev.epoch_writer(out_dir, ledger)
        df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        writer(df, 7)
        first = spark.read.parquet(out_dir).count()
        # replay with the same epoch id (what a post-crash restart does)
        writer(spark.createDataFrame([(9, 9.0)], "id long, v double"), 7)
        again = spark.read.parquet(out_dir)
        assert first == 2 and again.count() == 2
        assert sorted(r.id for r in again.collect()) == [1, 2]  # replay ignored


class TestUpsertSnapshots:
    def test_latest_per_key_argmax(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "a"), (1, 30, "c"), (1, 20, "b"), (2, 5, "x")],
            "k long, seq long, v string",
        )
        got = {(r.k): (r.seq, r.v) for r in
               ev.latest_per_key(df, ["k"], "seq").collect()}
        assert got == {1: (30, "c"), 2: (5, "x")}

    def test_upsert_merges_latest_wins_across_epochs(self, spark, tmp_path):
        root = str(tmp_path / "upsert")
        writer = ev.upsert_snapshot_writer(root, ["k"], "seq")
        writer(spark.createDataFrame(
            [(1, 1, "a1"), (2, 1, "b1")], "k long, seq long, v string"), 0)
        writer(spark.createDataFrame(
            [(2, 2, "b2"), (3, 1, "c1"), (3, 0, "stale")],
            "k long, seq long, v string"), 1)
        t = ev.read_upsert_table(spark, root)
        got = {r.k: (r.seq, r.v) for r in t.collect()}
        assert got == {1: (1, "a1"), 2: (2, "b2"), 3: (1, "c1")}

    def test_upsert_replay_is_noop_and_snapshot_isolated(self, spark, tmp_path):
        root = str(tmp_path / "upsert2")
        writer = ev.upsert_snapshot_writer(root, ["k"], "seq")
        writer(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"), 0)
        # replay of epoch 0 (post-crash restart) must not change the table
        writer(spark.createDataFrame([(1, 9, "ghost")], "k long, seq long, v string"), 0)
        t = ev.read_upsert_table(spark, root)
        assert [(r.k, r.seq, r.v) for r in t.collect()] == [(1, 1, "a")]
        # pointer names a complete snapshot dir (v0), not a partial write
        with open(root + "/_LATEST") as f:
            assert f.read() == "v0"

    def test_bucketed_upsert_rewrites_only_touched_buckets(
        self, spark, tmp_path
    ):
        import json
        import os

        root = str(tmp_path / "bkt")
        os.makedirs(root)
        writer = ev.bucketed_upsert_writer(root, ["k"], "seq", n_buckets=4)
        writer(spark.createDataFrame(
            [(k, 1, f"v{k}") for k in range(20)],
            "k long, seq long, v string"), 0)
        with open(root + "/_MANIFEST") as f:
            m0 = json.load(f)
        # epoch 1 touches ONE key -> at most one bucket gains a version
        writer(spark.createDataFrame(
            [(7, 2, "updated")], "k long, seq long, v string"), 1)
        with open(root + "/_MANIFEST") as f:
            m1 = json.load(f)
        changed = [
            b for b in m1["buckets"]
            if m1["buckets"][b] != m0["buckets"].get(b)
        ]
        assert len(changed) == 1 and m1["buckets"][changed[0]] == "v1"
        # untouched buckets still point at their epoch-0 versions
        assert all(
            m1["buckets"][b] == "v0" for b in m1["buckets"] if b != changed[0]
        )
        got = {r.k: (r.seq, r.v) for r in ev.read_bucketed_table(spark, root).collect()}
        want = {k: (1, f"v{k}") for k in range(20)}
        want[7] = (2, "updated")
        assert got == want
        # replay of epoch 1 is a no-op
        writer(spark.createDataFrame(
            [(7, 9, "ghost")], "k long, seq long, v string"), 1)
        assert {
            r.k: r.v for r in ev.read_bucketed_table(spark, root).collect()
        }[7] == "updated"
        # point lookup prunes to the key's bucket and finds the row
        row = ev.lookup_bucketed_key(spark, root, ["k"], [7]).collect()
        assert len(row) == 1 and row[0].v == "updated"
        missing = ev.lookup_bucketed_key(spark, root, ["k"], [999]).collect()
        assert missing == []
        # fsck understands the layout: healthy, sees the superseded v0
        # of the touched bucket as vacuum-pending, flags torn staging
        from hadoop_distributed_dynamic_file_system_spark import fileops

        rep = fileops.fsck(spark, root, catalog_rows=20)
        assert rep["status"] == "HEALTHY" and rep["rows_match"]
        assert rep["unreferenced_versions"] == [f"b{changed[0]}/v0"]
        os.makedirs(os.path.join(root, "_staging_99"))
        rep2 = fileops.fsck(spark, root)
        assert rep2["status"] == "CORRUPT" and rep2["orphans"] == ["_staging_99"]
        os.rmdir(os.path.join(root, "_staging_99"))
        # vacuum reclaims exactly the superseded version
        removed = ev.vacuum_bucket_versions(root)
        assert removed == [f"b{changed[0]}/v0"]
        assert fileops.fsck(spark, root)["unreferenced_versions"] == []
        got2 = {r.k: r.v for r in ev.read_bucketed_table(spark, root).collect()}
        assert len(got2) == 20 and got2[7] == "updated"

    def test_upsert_streaming_end_to_end(self, spark, tmp_path):
        src = tmp_path / "upsert_src"
        src.mkdir()
        for i, rows in enumerate([[(1, 1, "a1"), (2, 1, "b1")],
                                  [(1, 2, "a2")]]):
            spark.createDataFrame(rows, "k long, seq long, v string")\
                .coalesce(1).write.mode("append").parquet(str(src / f"f{i}"))
        stream = ev.read_parquet_dir_stream(
            spark, str(src) + "/*", "k long, seq long, v string",
            max_files_per_trigger=1,
        )
        root = str(tmp_path / "upsert3")
        q = (
            stream.writeStream
            .foreachBatch(ev.upsert_snapshot_writer(root, ["k"], "seq"))
            .option("checkpointLocation", str(tmp_path / "upsert_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.k: (r.seq, r.v) for r in
               ev.read_upsert_table(spark, root).collect()}
        assert got[2] == (1, "b1") and got[1][0] == 2  # key 1 upserted

    def test_bucketed_upsert_streaming_end_to_end(self, spark, tmp_path):
        import os

        src = tmp_path / "bkt_src"
        src.mkdir()
        for i, rows in enumerate([[(k, 1, f"v{k}") for k in range(10)],
                                  [(3, 2, "updated")]]):
            spark.createDataFrame(rows, "k long, seq long, v string")\
                .coalesce(1).write.mode("append").parquet(str(src / f"f{i}"))
        stream = ev.read_parquet_dir_stream(
            spark, str(src) + "/*", "k long, seq long, v string",
            max_files_per_trigger=1,
        )
        root = str(tmp_path / "bkt_tbl")
        os.makedirs(root)
        q = (
            stream.writeStream
            .foreachBatch(
                ev.bucketed_upsert_writer(root, ["k"], "seq", n_buckets=4)
            )
            .option("checkpointLocation", str(tmp_path / "bkt_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.k: (r.seq, r.v) for r in
               ev.read_bucketed_table(spark, root).collect()}
        assert len(got) == 10 and got[3] == (2, "updated")
        assert got[0] == (1, "v0")


class TestSessionWindowBatchEquivalence:
    def test_builtin_session_window_matches_lag_sessionization(self, spark, sf_dir):
        """Two independent sessionization renderings must agree: the
        builtin session_window (gap-merged windows) and the lag-gap +
        cumulative-id spelling the oracle-checked query uses."""
        from hadoop_distributed_dynamic_file_system_spark import queries as q

        e = q._events(spark, sf_dir)
        via_builtin = (
            e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .count()
            .groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"))
        )
        got = {r.user_id: r.n_sessions for r in via_builtin.collect()}
        want = {r.user_id: r.n_sessions
                for r in q.sessionization(spark, sf_dir).collect()}
        assert got == want and len(got) > 0


class TestSnapshotVacuum:
    def test_vacuum_keeps_tail_and_pointer(self, spark, tmp_path):
        root = str(tmp_path / "vac")
        writer = ev.upsert_snapshot_writer(root, ["k"], "seq")
        for epoch in range(5):
            writer(spark.createDataFrame(
                [(1, epoch, f"v{epoch}")], "k long, seq long, v string"), epoch)
        removed = ev.vacuum_snapshots(root, keep=2)
        assert removed == ["v0", "v1", "v2"]
        import os as _os
        assert sorted(d for d in _os.listdir(root) if d.startswith("v")) == \
            ["v3", "v4"]
        # current snapshot still reads
        t = ev.read_upsert_table(spark, root)
        assert [(r.k, r.seq, r.v) for r in t.collect()] == [(1, 4, "v4")]


class TestSchemaEvolution:
    def test_merge_schema_unifies_evolved_files(self, spark, tmp_path):
        """Data-lake hygiene: day-2 files add a column; mergeSchema
        reads old+new with nulls backfilled — no rewrite of day-1."""
        base = str(tmp_path / "evolve")
        spark.createDataFrame([(1, "a")], "id long, v string")\
            .write.mode("append").parquet(base)
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")\
            .write.mode("append").parquet(base)
        df = spark.read.option("mergeSchema", "true").parquet(base)
        assert set(df.columns) == {"id", "v", "score"}
        got = {r.id: r.score for r in df.collect()}
        assert got == {1: None, 2: 9.5}


class TestStreamingTimeWeightedAvg:
    def test_matches_batch_operator_across_batches(self, spark, tmp_path):
        """Multi-batch streaming TWA: the stored tail sample must
        splice onto the next batch's head (the cross-batch gap carries
        weight), and the LAST emit per (key, bucket) must equal
        temporal.time_weighted_avg over the same data."""
        import datetime as dt

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            temporal,
        )

        def t(h, d=1):
            return dt.datetime(2024, 1, d, h, 0, 0)

        batches = [
            [(1, t(0), 10.0), (1, t(1), 20.0), (2, t(5), 7.0)],
            [(1, t(3), 30.0)],                  # cross-batch gap 1h→3h
            [(1, t(1, d=2), 40.0)],             # new day = new bucket
        ]
        src = tmp_path / "twa_src"
        src.mkdir()
        for i, batch in enumerate(batches):
            spark.createDataFrame(
                batch, "user_id long, ts timestamp, value double"
            ).coalesce(1).write.mode("append").parquet(str(src / f"b{i}"))

        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_time_weighted_avg(stream),
            "twa_stream",
            output_mode="update",
        )
        last = {}
        for r in out.collect():  # memory sink appends in batch order
            last[(r.user_id, r.bucket_start)] = (r.twa, r.n_samples)

        batch_df = spark.read.parquet(str(src) + "/*/*.parquet")
        want = {
            (r.user_id, r.bucket_start): (r.twa, r.n_samples)
            for r in temporal.time_weighted_avg(
                batch_df, ["user_id"], "ts", "value"
            ).collect()
        }
        assert last == want
        # sanity: user 1 day 1 = (10*1h + 20*2h) / 3h, hand-computed
        day1 = last[(1, dt.datetime(2024, 1, 1, 0, 0, 0))]
        assert day1 == (round((10 * 1 + 20 * 2) / 3, 6), 3)

    def test_single_sample_bucket_falls_back_to_avg(self, spark, tmp_path):
        import datetime as dt

        src = tmp_path / "twa_one"
        src.mkdir()
        spark.createDataFrame(
            [(9, dt.datetime(2024, 3, 5, 12, 0, 0), 42.5)],
            "user_id long, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(str(src / "b0"))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_time_weighted_avg(stream),
            "twa_one",
            output_mode="update",
        )
        rows = out.collect()
        assert len(rows) == 1 and rows[0].twa == 42.5 and rows[0].n_samples == 1


class TestStreamingNearDedup:
    def _corpus_and_batch(self, spark):
        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
                (2, "one two three four five six seven eight nine ten"),
                (3, "red orange yellow green blue indigo violet ultra deep"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                # near-dup of corpus doc 1 (first word dropped)
                (101, "beta gamma delta epsilon zeta eta theta iota"),
                # exact dup of corpus doc 2
                (102, "one two three four five six seven eight nine ten"),
                # novel
                (103, "totally novel sentence with completely fresh words here now"),
                # novel
                (104, "another unrelated document about different things entirely ok"),
            ],
            "doc_id long, text string",
        )
        return corpus, batch

    def test_batch_semantics_drop_near_dups(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        corpus, batch = self._corpus_and_batch(spark)
        idx = dedup.lsh_band_index(corpus, "doc_id", "text")
        kept = ev.streaming_near_dedup(batch, idx)  # batch frame: same fn
        ids = {r.doc_id for r in kept.collect()}
        assert 102 not in ids          # exact dup: all bands hit
        assert 101 not in ids          # near dup: >=1 band hits
        assert {103, 104} <= ids       # novel docs survive every anti join

    def test_auto_mode_warns_on_statistics_less_index(self, spark, caplog):
        # ADVICE r10: since "auto" is the default, a caller passing a
        # purely in-memory index (createDataFrame / LocalRelation —
        # no catalog/file statistics for Catalyst to size from) gets
        # a one-line steer toward index_mode="broadcast"; an index
        # that reads a file/catalog relation stays silent.
        import logging as _logging

        corpus, batch = self._corpus_and_batch(spark)
        in_mem = spark.createDataFrame([(1,), (2,)], "bk long")
        with caplog.at_level(
            _logging.WARNING,
            logger="hadoop_distributed_dynamic_file_system_spark.streaming.events",
        ):
            ev.streaming_near_dedup(batch, in_mem)
        assert any("index_mode='auto'" in r.message for r in caplog.records)
        caplog.clear()
        # lsh_band_index derives from the corpus relation — createDataFrame
        # here too, so it warns; the silent path is a FILE-backed corpus
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        file_corpus = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        idx = dedup.lsh_band_index(file_corpus, "doc_id", "text")
        with caplog.at_level(
            _logging.WARNING,
            logger="hadoop_distributed_dynamic_file_system_spark.streaming.events",
        ):
            ev.streaming_near_dedup(batch, idx)
        assert not any(
            "index_mode='auto'" in r.message for r in caplog.records
        )

    def test_stream_matches_batch_twin(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        corpus, batch = self._corpus_and_batch(spark)
        idx = dedup.lsh_band_index(corpus, "doc_id", "text")
        src = tmp_path / "docs_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, text string"
        )
        out = ev.run_to_memory(
            ev.streaming_near_dedup(stream, idx), "near_dedup_out"
        )
        got = {r.doc_id for r in out.collect()}
        want = {r.doc_id for r in ev.streaming_near_dedup(batch, idx).collect()}
        assert got == want == {103, 104}

    def test_stream_matches_batch_twin_bucketed_index(self, spark, tmp_path):
        # round-9: same gate, frozen side a BUCKETED catalog table
        # probed without the forced broadcast — a REAL micro-batch run
        # with the broadcast threshold disabled, so the per-batch
        # joins take the large-index (sort-merge) path end-to-end
        # through the streaming engine. Since round 10 "auto" is the
        # DEFAULT, so this calls the gate with no index_mode argument
        # — a regression of the default flip fails here.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        corpus, batch = self._corpus_and_batch(spark)
        t = "t_stream_gate_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        src = tmp_path / "docs_in_bk"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, text string"
            )
            out = ev.run_to_memory(
                ev.streaming_near_dedup(stream, spark.table(t)),
                "near_dedup_bk_out",
            )
            got = {r.doc_id for r in out.collect()}
            want = {
                r.doc_id
                for r in ev.streaming_near_dedup(
                    batch, spark.table(t)
                ).collect()
            }
            assert got == want == {103, 104}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_live_stream_sees_index_extends(self, spark, tmp_path):
        # Day-2 composition: extend_band_index_bucketed grows the
        # frozen index UNDER a live gate; the next micro-batch must
        # dedup against the appended keys (the static side re-resolves
        # per batch, and same-session saveAsTable appends invalidate
        # the relation cache).
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        t = "t_live_ext_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        src = tmp_path / "live_ext_src"
        src.mkdir()
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        q = None
        try:
            dedup.freeze_band_index_bucketed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, text string"
            )
            gated = ev.streaming_near_dedup(
                stream, spark.table(t), index_mode="auto"
            )
            q = (
                gated.writeStream.format("memory")
                .queryName("live_ext_out")
                .outputMode("append")
                .start()
            )
            b1 = spark.createDataFrame(
                [(10, "a totally novel streaming document about engines")],
                "doc_id long, text string",
            )
            b1.coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql("select doc_id from live_ext_out").collect()
            }
            assert got == {10}
            dedup.extend_band_index_bucketed(
                spark, b1, t, "doc_id", "text", num_buckets=8
            )
            b2 = spark.createDataFrame(
                [
                    # twin of the extended survivor: must now drop
                    (20, "a totally novel streaming document about engines"),
                    (21, "completely different second micro batch text entirely"),
                ],
                "doc_id long, text string",
            )
            b2.coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql("select doc_id from live_ext_out").collect()
            }
            assert got == {10, 21}
        finally:
            if q is not None:
                q.stop()
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_live_stream_sees_retractions(self, spark, tmp_path):
        # Day-2 DELETE under a live gate: tombstones.ensure() arms the
        # anti-join in the streaming plan, so a retraction filed while
        # the stream runs re-admits twins on the very next micro-batch.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup, tombstones,
        )

        t = "t_live_retract_bk"
        for x in (t, t + "__tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        src = tmp_path / "live_retract_src"
        src.mkdir()
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        q = None
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            tombstones.ensure(spark, t, "doc_id")  # arm BEFORE start
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, text string"
            )
            gated = ev.streaming_near_dedup(
                stream,
                dedup.live_band_index(spark, t, "doc_id"),
                index_mode="auto",
            )
            q = (
                gated.writeStream.format("memory")
                .queryName("live_retract_out")
                .outputMode("append")
                .start()
            )
            twin = "quick brown fox jumps over the lazy dog today"
            b1 = spark.createDataFrame(
                [(10, twin)], "doc_id long, text string"
            )
            b1.coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql(
                    "select doc_id from live_retract_out"
                ).collect()
            }
            assert got == set()  # twin of live doc 1 drops
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"),
                "doc_id",
            )
            b2 = spark.createDataFrame(
                [(20, twin)], "doc_id long, text string"
            )
            b2.coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            got = {
                r.doc_id
                for r in spark.sql(
                    "select doc_id from live_retract_out"
                ).collect()
            }
            assert got == {20}  # source retracted -> twin re-admitted
        finally:
            if q is not None:
                q.stop()
            for x in (t, t + "__tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_band_keys_fold_compatible_with_lsh_pairs(self, spark):
        # the folded stream keys must equal lsh_candidate_pairs'
        # band-key fold, or index and stream silently disagree
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        corpus, _ = self._corpus_and_batch(spark)
        idx = {r.bk for r in dedup.lsh_band_index(corpus, "doc_id", "text").collect()}
        sigs = dedup.minhash_signatures(corpus, "doc_id", "text", num_hashes=8)
        banded = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(b),
                            F.concat_ws(
                                "|", F.col(f"mh_{2 * b}"), F.col(f"mh_{2 * b + 1}")
                            ),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("bk"),
        )
        want = {r.bk for r in banded.collect()}
        assert idx == want

    def test_live_gate_across_fired_maintenance_tick(self, spark, tmp_path):
        # The compaction-vs-live-stream collision, MEASURED (round 11):
        # a maintain_index tick that fires a fold swaps the index via
        # DROP+RENAME, and a gate already running holds its analyzed
        # plan's resolved relations — stale file listings that neither
        # same-session catalog invalidation nor an explicit
        # refreshTable can reach (probed: refresh-after-swap still
        # fails). The next micro-batch therefore fails LOUDLY
        # (FAILED_READ_FILE on the swapped files terminates the query)
        # — never a silent empty-index pass-through — and a restart
        # from the SAME checkpoint replays the failed batch against
        # the folded index with exactly-once output. This is the ops
        # contract the maintenance docstrings state: schedule ticks in
        # the ingest quiet window, or treat a fired tick as a stream
        # restart signal; streams are stateless gates and recover by
        # construction.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
            maintenance,
            tombstones,
        )

        t = "t_live_tick_bk"
        for x in (t, t + "__tombstones", t + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        src = tmp_path / "live_tick_src"
        src.mkdir()
        out = str(tmp_path / "live_tick_out")
        ckpt = str(tmp_path / "live_tick_ckpt")
        twin = "quick brown fox jumps over the lazy dog today"
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )

        def start():
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, text string"
            )
            gated = ev.streaming_near_dedup(
                stream, dedup.live_band_index(spark, t, "doc_id")
            )
            return (
                gated.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        def feed(rows):
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(str(src))

        q = None
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            tombstones.ensure(spark, t, "doc_id")  # arm BEFORE start
            q = start()
            feed([(10, twin), (11, "totally novel content zero overlap")])
            q.processAllAvailable()

            # day-2 ops while the gate is live: retract doc 1, then
            # the actor's tick fires the fold (dead_rows signal)
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"), "doc_id",
            )
            rec = maintenance.maintain_index(spark, t, "band")
            assert (rec["action"], rec["reason"]) == ("compacted", "dead_rows")

            # the gate's NEXT micro-batch fails loudly and terminates
            feed([(20, twin), (21, "second novel body of words here")])
            with pytest.raises(Exception, match="STREAM_FAILED|FAILED_READ"):
                q.processAllAvailable()
            assert not q.isActive

            # restart from the SAME checkpoint: the failed batch
            # replays against the FOLDED index — doc 1 retracted, so
            # its twin (20) is re-admitted; exactly-once output.
            q = start()
            q.processAllAvailable()
            rows = spark.read.parquet(out).collect()
            assert sorted(r.doc_id for r in rows) == [11, 20, 21]
        finally:
            if q is not None:
                q.stop()
            for x in (t, t + "__tombstones", t + "__compact_tmp"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_live_gate_survives_generational_tick(self, spark, tmp_path):
        # ZERO-DOWNTIME twin of the test above (round 11): after
        # tombstones.enable_generational, a fired maintenance tick
        # swaps generations catalog-only and the retired generation's
        # files stay on disk — so the SAME running gate keeps
        # processing micro-batches through the fold (reading the
        # retired pre-fold generation, whose still-armed tombstones
        # make its semantics correct), and a fresh resolution reads
        # the folded generation. One-generation retention is the
        # documented bound: a gate that lives across TWO folds of the
        # same index loses its files to the ping-pong reclaim and
        # fails loudly (the legacy restart contract).
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
            maintenance,
            tombstones,
        )

        t = "t_live_gen_bk"
        for x in (t, t + "__tombstones", t + "__compact_tmp",
                  t + "__tombstones__swap"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        for suf in ("__genA", "__genB",
                    "__tombstones__genA", "__tombstones__genB"):
            shutil.rmtree(f"spark-warehouse/{t}{suf}", ignore_errors=True)
        src = tmp_path / "live_gen_src"
        src.mkdir()
        twin = "quick brown fox jumps over the lazy dog today"
        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        q = None
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            tombstones.enable_generational(spark, t, "doc_id")  # arms too
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, text string"
            )
            gated = ev.streaming_near_dedup(
                stream, dedup.live_band_index(spark, t, "doc_id")
            )
            q = (
                gated.writeStream.format("memory")
                .queryName("live_gen_out")
                .outputMode("append")
                .start()
            )

            def feed(rows):
                spark.createDataFrame(
                    rows, "doc_id long, text string"
                ).coalesce(1).write.mode("append").parquet(str(src))

            def got():
                return {
                    r.doc_id
                    for r in spark.sql(
                        "select doc_id from live_gen_out"
                    ).collect()
                }

            feed([(10, twin), (11, "totally novel content zero overlap")])
            q.processAllAvailable()
            assert got() == {11}

            # retraction lands on the live gate (generational tombstone
            # append is still a live pickup), then the tick FIRES
            dedup.retract_from_band_index(
                spark, t,
                spark.createDataFrame([(1,)], "doc_id long"), "doc_id",
            )
            rec = maintenance.maintain_index(spark, t, "band")
            assert (rec["action"], rec["reason"]) == ("compacted", "dead_rows")

            # the SAME gate keeps running through the fold: no failure,
            # twin of the retracted doc re-admitted, novel survives
            feed([(20, twin), (21, "second novel body of words here")])
            q.processAllAvailable()
            assert q.isActive
            assert got() == {11, 20, 21}

            # fresh resolution reads the folded generation: same
            # survivor semantics (fold ≡ retraction, by construction)
            fresh = ev.streaming_near_dedup(
                spark.createDataFrame(
                    [(30, twin), (31, "third novel body entirely fresh")],
                    "doc_id long, text string",
                ),
                dedup.live_band_index(spark, t, "doc_id"),
            )
            assert {r.doc_id for r in fresh.collect()} == {30, 31}

            # documented retention bound: a SECOND fold reclaims the
            # generation this gate is still reading — loud failure
            dedup.extend_band_index_attributed(
                spark,
                spark.createDataFrame(
                    [(40, "wave two vocabulary completely distinct")],
                    "doc_id long, text string",
                ),
                t, "doc_id", "text",
            )
            rec2 = maintenance.maintain_index(
                spark, t, "band", max_files_per_bucket=1
            )
            assert rec2["action"] == "compacted"
            feed([(50, twin)])
            with pytest.raises(Exception, match="STREAM_FAILED|FAILED_READ"):
                q.processAllAvailable()
            assert not q.isActive
        finally:
            if q is not None:
                q.stop()
            for x in (t, t + "__tombstones", t + "__compact_tmp",
                      t + "__tombstones__swap"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            for suf in ("__genA", "__genB",
                        "__tombstones__genA", "__tombstones__genB"):
                shutil.rmtree(
                    f"spark-warehouse/{t}{suf}", ignore_errors=True
                )
            spark.catalog.clearCache()


class TestStreamingCuration:
    def test_funnel_matches_batch_twin(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import dedup

        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        idx = dedup.lsh_band_index(corpus, "doc_id", "text")
        batch = spark.createDataFrame(
            [
                # survives: good quality, novel, has an email to redact
                (11, "please contact the team at dev@example.com about the plan it is ready"),
                # dropped by the quality gate (short + all punctuation:
                # scores 0.25 — only the word-length band passes)
                (12, "!!!"),
                # dropped by near-dedup (copy of the corpus doc)
                (13, "the quick brown fox jumps over the lazy dog today"),
                # survives clean
                (14, "a fresh and entirely novel document about other things in it"),
            ],
            "doc_id long, text string",
        )
        src = tmp_path / "crawl"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, text string"
        )
        out = ev.run_to_memory(
            ev.streaming_curation(stream, idx), "curation_out"
        )
        got = {r.doc_id: r for r in out.collect()}
        want = {
            r.doc_id: r
            for r in ev.streaming_curation(batch, idx).collect()
        }
        assert set(got) == set(want) == {11, 14}
        assert "<EMAIL>" in got[11].redacted
        assert got[11].n_email == 1 and got[14].n_email == 0
        for k in got:
            assert got[k].ws_tokens == want[k].ws_tokens
            assert got[k].redacted == want[k].redacted


class TestStreamingWebCuration:
    def _fixtures(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
            webquality,
        )

        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today " * 3)],
            "doc_id long, text string",
        )
        idx = dedup.lsh_band_index(corpus, "doc_id", "text")
        good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lam mu nu xi omicron pi rho sigma tau upsilon")
        batch = spark.createDataFrame(
            [
                (11, good),                       # survives whole funnel
                (12, "tiny doc"),                 # fails gopher word count
                (13, "the quick brown fox jumps over the lazy dog today " * 3),
                                                  # near-dup of corpus -> dropped
            ],
            "doc_id long, text string",
        )
        weights = webquality.dsir_bucket_weights(
            batch.select("doc_id", "text"), "text",
            batch.filter("doc_id = 11").select("text"),
        )
        return idx, batch, weights

    def test_stream_matches_batch_composition(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            classifier,
            webquality,
        )

        idx, batch, weights = self._fixtures(spark)
        src = tmp_path / "web_docs_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, text string"
        )
        out = ev.run_to_memory(
            ev.streaming_web_curation(stream, idx, weights), "web_curation_out"
        )
        got = {(r.doc_id, r.score) for r in out.collect()}
        # batch twin: same stages composed from the batch operators
        g = webquality.gopher_quality(batch, "doc_id", "text", min_words=20)
        gate = batch.join(
            g.filter((F.col("n_words") >= 20) & (F.col("alpha_frac") > 0.8))
            .select("doc_id"),
            "doc_id",
        )
        cleaned = webquality.c4_line_filters(
            gate, "doc_id", "text", min_words_per_line=5
        ).filter(F.col("n_kept") >= 1)
        deduped = ev.streaming_near_dedup(
            cleaned.withColumnRenamed("cleaned", "text").select(
                "doc_id", "text", "n_kept"
            ),
            idx,
        )
        scores = classifier.quality_classifier_scores(
            deduped, "doc_id", "text", weights
        )
        want = {
            (r.doc_id, round(r.score, 6))
            for r in deduped.join(scores, "doc_id").collect()
        }
        assert got == want
        assert {d for d, _ in got} == {11}


class TestStreamingMultimodalDecode:
    def test_fingerprint_stream_matches_batch(self, spark, tmp_path):
        """The REAL decode stages are stateless Arrow-batched
        projections, so they run unchanged on a file-source stream —
        the multimodal ingest path of a continuous crawl."""
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        batch = spark.createDataFrame(
            [
                (1, mm.make_bmp(16, 12, (10, 200, 30))),
                (2, mm.make_wav([500] * 256 + [0] * 256)),
                (3, b"junk"),
            ],
            "doc_id long, payload binary",
        )
        src = tmp_path / "media_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, payload binary"
        )
        out = ev.run_to_memory(
            mm.decode_media_metadata(stream), "media_decode_out"
        )
        got = {(r.doc_id, r.format, r.width, r.height) for r in out.collect()}
        want = {
            (r.doc_id, r.format, r.width, r.height)
            for r in mm.decode_media_metadata(batch).collect()
        }
        assert got == want
        assert ("1", "bmp") not in got  # schema sanity: ids stay long
        assert (1, "bmp", 16, 12) in got


class TestStreamingNormalizeChunk:
    def test_stream_matches_batch_composition(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            textanalysis,
            textnorm,
        )

        batch = spark.createDataFrame(
            [
                (1, "cafe\u0301  one two three four five six seven"),
                (2, "x \x01 " + " ".join(f"w{i}" for i in range(9))),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        src = tmp_path / "chunk_docs_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, text string"
        )
        out = ev.run_to_memory(
            ev.streaming_normalize_chunk(stream, max_tokens=4, overlap=1),
            "norm_chunk_out",
        )
        got = {
            (r.doc_id, r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
            for r in out.collect()
        }
        twin = textanalysis.chunk_tokens(
            textnorm.clean_text(batch, "text")
            .select("doc_id", F.col("clean_text").alias("text")),
            "doc_id", "text", max_tokens=4, overlap=1,
        )
        want = {
            (r.doc_id, r.chunk_idx, r.start_token, r.n_tokens, r.chunk_text)
            for r in twin.collect()
        }
        assert got == want and len(got) > 0
        # NFC actually ran in the stream: composed é in doc 1's chunk 0
        c0 = next(t for t in got if t[0] == 1 and t[1] == 0)
        assert "caf\u00e9" in c0[4]


class TestStreamingScd2:
    def test_stream_matches_batch_twin_across_batches(self, spark, tmp_path):
        """Two micro-batches of per-user state observations; the final
        emitted interval set (last emit per (key, valid_from)) must
        equal temporal.scd2_intervals over the union — including an
        interval OPENED in batch 1 and CLOSED in batch 2 (state must
        carry)."""
        from hadoop_distributed_dynamic_file_system_spark.operators import temporal

        src = tmp_path / "scd2_src"
        src.mkdir()
        b0 = [(1, 10, "a"), (1, 20, "a"), (2, 15, "x")]
        b1 = [(1, 30, "b"), (2, 25, "x"), (2, 35, "y"), (3, 40, "z")]
        schema = "user_id long, ts long, event_type string"
        for i, rows in enumerate((b0, b1)):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src / f"b{i}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_scd2(stream), "scd2_stream", output_mode="update"
        )
        rows = out.collect()
        # memory sink appends in batch order: keep the LAST emit per
        # (key, valid_from) — update-mode re-emits the open interval
        last = {}
        for r in rows:
            last[(r.user_id, r.valid_from)] = (
                r.event_type, r.valid_to, r.is_current
            )
        batch = spark.createDataFrame(b0 + b1, schema)
        want = {
            (r.user_id, r.valid_from): (r.event_type, r.valid_to, r.is_current)
            for r in temporal.scd2_intervals(
                batch, "user_id", "ts", ["event_type"]
            ).collect()
        }
        assert last == want

    def test_stale_straggler_dropped(self, spark, tmp_path):
        src = tmp_path / "scd2_stale"
        src.mkdir()
        schema = "user_id long, ts long, event_type string"
        spark.createDataFrame([(1, 100, "a")], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src / "b0"))
        # straggler older than the open interval start: must not fork history
        spark.createDataFrame([(1, 50, "b")], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src / "b1"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_scd2(stream), "scd2_stale", output_mode="update"
        )
        last = {}
        for r in out.collect():
            last[(r.user_id, r.valid_from)] = (r.event_type, r.is_current)
        assert last == {(1, 100): ("a", True)}


class TestStreamingAnnTopk:
    def test_stream_matches_ivf_int8_batch(self, spark, tmp_path):
        """Queries arriving over two micro-batches against a frozen
        int8-IVF index must return exactly ivf_int8_topk's rows."""
        from pyspark.sql import functions as F

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            similarity as sim,
        )

        rows = [
            (i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(16)])
            for i in range(40)
        ]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = corpus.filter("vec_id < 4").select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        # the frozen index: assign + quantize, codes as double arrays
        assigned = sim.assign_to_centroids(corpus, cents)
        codes = sim.int8_quantize(assigned, "cv").select(
            "vec_id",
            "centroid_id",
            F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cv"),
        )
        codes.write.mode("overwrite").parquet(str(tmp_path / "index"))
        static_codes = spark.read.parquet(str(tmp_path / "index"))

        src = tmp_path / "queries"
        src.mkdir()
        for b, ids in enumerate(([0, 1], [2])):
            spark.createDataFrame(
                [r for r in rows if r[0] in ids],
                "vec_id long, embedding array<double>",
            ).coalesce(1).write.mode("append").parquet(str(src / f"b{b}"))
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_ann_topk(stream, static_codes, cents, k=5, nprobe=2),
            "ann_stream",
            output_mode="update",
        )
        got = {
            (r.query_id, r.rk): (r.vec_id, r.score) for r in out.collect()
        }
        want = {
            (r.query_id, r.rk): (r.vec_id, r.score)
            for r in sim.ivf_int8_topk(
                corpus, corpus.filter("vec_id < 3"), cents, k=5, nprobe=2
            ).collect()
        }
        assert got == want and len(want) > 0


class TestStreamingHybridRrf:
    def test_stream_matches_batch_fusion(self, spark, tmp_path):
        """Hybrid queries over two micro-batches vs the batch
        composition bm25_multi_query + ivf_int8_topk + rrf_fuse."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            similarity as sim,
            textanalysis as ta,
        )

        words = ["cat", "dog", "fish", "bird", "ant", "bee", "cow", "owl"]
        docs = [
            (i, " ".join(words[(i + j) % 8] for j in range(6)))
            for i in range(30)
        ]
        vecs = [
            (i, [float(((i * 7 + j * 13) % 21) - 10) / 3.0 for j in range(16)])
            for i in range(30)
        ]
        ddf = spark.createDataFrame(docs, "doc_id long, text string")
        vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        cents = vdf.filter("vec_id < 4").select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )

        # frozen index artifacts (batch-built)
        bound = ddf.select(
            "doc_id",
            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "").alias("w"),
        )
        post = (
            bound.select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
        )
        dfc = post.groupBy("term").agg(F.count("*").alias("df"))
        postings = post.join(dfc, "term")
        stats = bound.agg(F.count("*"), F.avg(F.size("w"))).collect()[0]
        n_docs, avgdl = int(stats[0]), float(stats[1])
        assigned = sim.assign_to_centroids(vdf, cents)
        codes = sim.int8_quantize(assigned, "cv").select(
            "vec_id", "centroid_id",
            F.transform(F.col("qvec"), lambda x: x.cast("double")).alias("cv"),
        )
        pdir = tmp_path / "idx"
        postings.write.parquet(str(pdir / "postings"))
        codes.write.parquet(str(pdir / "codes"))
        postings_s = spark.read.parquet(str(pdir / "postings"))
        codes_s = spark.read.parquet(str(pdir / "codes"))

        # query stream: (query_id, text, embedding) over two batches
        qrows = [
            (i, docs[i][1], vecs[i][1]) for i in range(3)
        ]
        src = tmp_path / "qstream"
        src.mkdir()
        for bnum, ids in enumerate(([0, 1], [2])):
            spark.createDataFrame(
                [qrows[i] for i in ids],
                "query_id long, text string, embedding array<double>",
            ).coalesce(1).write.mode("append").parquet(str(src / f"b{bnum}"))
        stream = (
            spark.readStream.schema(
                "query_id long, text string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        out = ev.run_to_memory(
            ev.streaming_hybrid_rrf(
                stream, postings_s, (n_docs, avgdl), codes_s, cents,
                k=10, k_in=10, nprobe=2,
            ),
            "hybrid_stream",
            output_mode="update",
        )
        got = {(r.query_id, r.rk): (r.doc_id, r.rrf) for r in out.collect()}

        # batch twin
        qterms = (
            spark.createDataFrame(qrows, "query_id long, text string, embedding array<double>")
            .select(
                "query_id",
                F.explode(
                    F.array_distinct(
                        F.slice(
                            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != ""),
                            1, 4,
                        )
                    )
                ).alias("term"),
            )
        )
        lex = ta.bm25_multi_query(ddf, qterms, "doc_id", "text").filter(
            F.col("doc_id") != F.col("query_id")
        )
        wl = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
        lexr = lex.withColumn("rk", F.row_number().over(wl)).filter(F.col("rk") <= 10)
        dense = sim.ivf_int8_topk(
            vdf, vdf.filter("vec_id < 3"), cents, k=10, nprobe=2
        ).withColumnRenamed("vec_id", "doc_id")
        want = {
            (r.query_id, r.rk): (r.doc_id, r.rrf)
            for r in sim.rrf_fuse([lexr, dense], "doc_id", k=10, c=60).collect()
        }
        assert got == want and len(want) > 0


class TestStreamingPsiDrift:
    def test_stream_histogram_scores_like_batch(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            sketches as SK,
        )
        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as ev,
        )

        old_rows = [("g", 10 + i) for i in range(40)]
        new_rows = [("g", 10 + i) for i in range(30)] + [
            ("g", 200 + i) for i in range(10)
        ]
        old = spark.createDataFrame(old_rows, ["g", "v"])
        new = spark.createDataFrame(new_rows, ["g", "v"])
        baseline = SK.value_histogram(old, "g", "v").withColumnRenamed(
            "c", "c_old"
        )

        src = tmp_path / "psi_stream_in"
        # two micro-batches: the monitor's state must accumulate
        spark.createDataFrame(new_rows[:20], ["g", "v"]).coalesce(1).write.mode(
            "append").parquet(str(src))
        spark.createDataFrame(new_rows[20:], ["g", "v"]).coalesce(1).write.mode(
            "append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "g string, v long", max_files_per_trigger=1
        )
        live = ev.run_to_memory(
            ev.streaming_value_histogram(stream, "g", "v"),
            "psi_live_hist",
            output_mode="complete",
        )
        got = SK.psi_from_histograms(
            baseline, live.withColumnRenamed("c", "c_new"), "g"
        ).first()
        want = SK.psi_drift(old, new, "g", "v").first()
        assert got.asDict() == want.asDict()
        assert got["mass_new_only"] > 0.2  # the planted 200+ outliers


class TestStreamingMediaDedup:
    """Multimodal twin of the text gate: aHash -> disjoint hamming
    bands -> per-band stream-static anti-joins vs the frozen index
    (multi-index hamming, pigeonhole-complete for hamming < n_bands)."""

    def _corpus_and_batch(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus = spark.createDataFrame(
            [
                (1, mm.make_two_tone_bmp(32, 32, 12)),
                (2, mm.make_two_tone_bmp(32, 32, 20)),
            ],
            "doc_id long, payload binary",
        )
        batch = spark.createDataFrame(
            [
                # same scene as corpus doc 1, different container:
                # identical aHash (hamming 0) -> must be dropped
                (101, mm.make_two_tone_png(32, 32, 12)),
                # exact duplicate payload of corpus doc 2 -> dropped
                (102, mm.make_two_tone_bmp(32, 32, 20)),
                # different scene: every 16-bit band differs -> kept
                (103, mm.make_two_tone_bmp(32, 32, 28)),
                # undecodable payload: NULL code -> survives the gate
                (104, b"\x89PNG\r\n\x1a\n_truncated_"),
            ],
            "doc_id long, payload binary",
        )
        return corpus, batch

    def test_batch_semantics(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = mm.media_band_index(mm.ahash_codes(corpus))
        kept = ev.streaming_media_dedup(batch, idx)  # batch frame: same fn
        rows = {r.doc_id: r.ahash for r in kept.collect()}
        assert set(rows) == {103, 104}
        assert rows[104] is None  # undecodable: NULL code, survived
        spark.catalog.clearCache()

    def test_stream_matches_batch_twin(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = mm.media_band_index(mm.ahash_codes(corpus))
        src = tmp_path / "media_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, payload binary"
        )
        out = ev.run_to_memory(
            ev.streaming_media_dedup(stream, idx), "media_dedup_out"
        )
        got = {r.doc_id for r in out.collect()}
        want = {
            r.doc_id
            for r in ev.streaming_media_dedup(batch, idx).collect()
        }
        assert got == want == {103, 104}
        spark.catalog.clearCache()

    def test_stream_matches_batch_twin_bucketed_index(self, spark, tmp_path):
        # the 100 TB mode for the MEDIA gate: frozen side a BUCKETED
        # catalog table (freeze_media_index_bucketed), probed with the
        # round-10 DEFAULT index_mode ("auto" — no argument passed, so
        # a regression of the default flip fails here) and the
        # broadcast threshold disabled; a REAL micro-batch run takes
        # the large-index path, and the batch twin's plan pins the
        # frozen scan as bucketed with no BroadcastExchange.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus, batch = self._corpus_and_batch(spark)
        t = "t_media_gate_bk"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        src = tmp_path / "media_in_bk"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            mm.freeze_media_index_bucketed(
                mm.ahash_codes(corpus), t, num_buckets=8
            )
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "doc_id long, payload binary"
            )
            out = ev.run_to_memory(
                ev.streaming_media_dedup(stream, spark.table(t)),
                "media_dedup_bk_out",
            )
            got = {r.doc_id for r in out.collect()}
            batch_twin = ev.streaming_media_dedup(batch, spark.table(t))
            want = {r.doc_id for r in batch_twin.collect()}
            assert got == want == {103, 104}
            plan = batch_twin._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan
            assert "Bucketed: true" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()

    def test_pigeonhole_catches_small_hamming(self, spark):
        # synthetic codes: flip 3 bits spread across three bands —
        # the fourth band is untouched, so the gate MUST catch it
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )
        from hadoop_distributed_dynamic_file_system_spark.streaming import (
            events as _ev,
        )

        base = 0x0123456789ABCDEF
        near = base ^ (1 << 0) ^ (1 << 17) ^ (1 << 34)  # 3 bands touched
        far = ~base & 0xFFFFFFFFFFFFFFFF  # every band differs
        to_signed = lambda v: v - (1 << 64) if v >= 1 << 63 else v
        frozen = spark.createDataFrame(
            [(1, to_signed(base))], "doc_id long, ahash long"
        )
        probe = spark.createDataFrame(
            [(201, to_signed(near)), (202, to_signed(far))],
            "doc_id long, ahash long",
        )
        idx = mm.media_band_index(frozen)
        bands = mm.hamming_band_cols(F.col("ahash"))
        keyed = probe.select(
            "doc_id", "ahash",
            *[F.xxhash64(F.lit(b), c).alias(f"_mb{b}")
              for b, c in enumerate(bands)],
        )
        out = keyed
        for b in range(4):
            out = out.join(
                idx.select(F.col("mbk").alias(f"_mi{b}")),
                F.col(f"_mb{b}") == F.col(f"_mi{b}"),
                "left_anti",
            )
        ids = {r.doc_id for r in out.collect()}
        assert ids == {202}  # hamming-3 neighbor caught, far code kept
        spark.catalog.clearCache()

    def test_band_collision_alone_does_not_drop(self, spark):
        # aHash band values are skewed (flat image regions give
        # 0x0000/0xFFFF bands), so a shared band VALUE must surface a
        # candidate but not a verdict: the gate verifies exact hamming
        # before dropping. Probe 301 shares band 0 with the frozen
        # code but differs in all 48 remaining bits -> must be KEPT
        # (the key-only gate wrongly dropped it); probe 302 is within
        # hamming 3 -> dropped.
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        base = 0x0000_5A5A_3C3C_F0F0  # band 0 = 0xF0F0
        collide = 0xFFFF_A5A5_C3C3_F0F0  # same band 0, other 48 bits flipped
        near = base ^ (1 << 20) ^ (1 << 40)  # hamming 2
        to_signed = lambda v: v - (1 << 64) if v >= 1 << 63 else v
        frozen = spark.createDataFrame(
            [(1, to_signed(base))], "doc_id long, ahash long"
        )
        idx = mm.media_band_index(frozen)
        probe_codes = spark.createDataFrame(
            [(301, to_signed(collide)), (302, to_signed(near))],
            "doc_id long, ahash long",
        )
        kept = ev._streaming_code_dedup(
            probe_codes, "ahash", idx, n_bands=4, band_bits=16, max_hamming=3
        )
        assert {r.doc_id for r in kept.collect()} == {301}
        spark.catalog.clearCache()


class TestStreamingAudioDedup:
    """Audio twin of the image gate: acoustic fingerprint -> disjoint
    hamming bands -> per-band verified anti-joins vs the frozen
    (band-key, code) index. Same machinery (_streaming_code_dedup),
    different decoder."""

    def _corpus_and_batch(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        loud_then_quiet = [900] * 512 + [10] * 512
        nearly_same = [905] * 512 + [12] * 500 + [300] * 12
        different = [500 if (i // 16) % 2 == 0 else 20 for i in range(1024)]
        corpus = spark.createDataFrame(
            [(1, mm.make_wav(loud_then_quiet))],
            "doc_id long, payload binary",
        )
        batch = spark.createDataFrame(
            [
                # exact duplicate payload -> hamming 0 -> dropped
                (201, mm.make_wav(loud_then_quiet)),
                # same clip, tiny edit -> few bits -> dropped
                (202, mm.make_wav(nearly_same)),
                # different rhythm -> far in hamming -> kept
                (203, mm.make_wav(different)),
                # malformed payload -> NULL code -> survives the gate
                (204, b"RIFFjunk"),
            ],
            "doc_id long, payload binary",
        )
        return corpus, batch

    def test_batch_semantics(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = mm.media_band_index(
            mm.audio_fingerprint(corpus), hash_col="afp"
        )
        kept = ev.streaming_audio_dedup(batch, idx)
        rows = {r.doc_id: r.afp for r in kept.collect()}
        assert set(rows) == {203, 204}
        assert rows[204] is None
        spark.catalog.clearCache()

    def test_stream_matches_batch_twin(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            multimodal as mm,
        )

        corpus, batch = self._corpus_and_batch(spark)
        idx = mm.media_band_index(
            mm.audio_fingerprint(corpus), hash_col="afp"
        )
        src = tmp_path / "audio_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "doc_id long, payload binary"
        )
        out = ev.run_to_memory(
            ev.streaming_audio_dedup(stream, idx), "audio_dedup_out"
        )
        got = {r.doc_id for r in out.collect()}
        want = {
            r.doc_id
            for r in ev.streaming_audio_dedup(batch, idx).collect()
        }
        assert got == want == {203, 204}
        spark.catalog.clearCache()


class TestStreamingSemanticDedup:
    """Embedding twin of the band gates: per-row centroid routing
    (no window — streaming-legal), then stream-static LEFT ANTI joins
    against the frozen corpus' IVF inverted lists with the exact
    cosine verify as a join predicate. The frozen side is the SERVED
    ANN index (build_ivf_index), so one index gates ingest AND answers
    top-k."""

    def _fixture(self, spark):
        frozen_corpus = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [0.0, 1.0, 0.0, 0.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        centroids = spark.createDataFrame(
            [
                (0, [1.0, 0.1, 0.0, 0.0]),
                (1, [0.0, 1.0, 0.1, 0.0]),
            ],
            "centroid_id long, embedding array<double>",
        )
        batch = spark.createDataFrame(
            [
                # exact duplicate of frozen 1 -> cosine 1.0 -> dropped
                (101, [1.0, 0.0, 0.0, 0.0]),
                # near-duplicate of frozen 1 (cosine ~0.990) -> dropped
                (102, [0.99, 0.14, 0.0, 0.0]),
                # orthogonal to everything frozen -> survives
                (103, [0.0, 0.0, 1.0, 0.0]),
                # routes to centroid 0, cosine 0.5 to frozen 1 -> survives
                (104, [0.5, -0.5, 0.5, -0.5]),
            ],
            "vec_id long, embedding array<double>",
        )
        return frozen_corpus, centroids, batch

    def test_batch_semantics(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            similarity,
        )

        frozen_corpus, centroids, batch = self._fixture(spark)
        idx = similarity.assign_to_centroids(frozen_corpus, centroids)
        kept = ev.streaming_semantic_dedup(batch, idx, centroids)
        assert {r.vec_id for r in kept.collect()} == {103, 104}
        spark.catalog.clearCache()

    def test_stream_matches_batch_twin(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.operators import (
            similarity,
        )

        frozen_corpus, centroids, batch = self._fixture(spark)
        idx = similarity.assign_to_centroids(frozen_corpus, centroids)
        src = tmp_path / "emb_in"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        stream = ev.read_parquet_dir_stream(
            spark, str(src), "vec_id long, embedding array<double>"
        )
        out = ev.run_to_memory(
            ev.streaming_semantic_dedup(stream, idx, centroids),
            "sem_dedup_out",
        )
        got = {r.vec_id for r in out.collect()}
        want = {
            r.vec_id
            for r in ev.streaming_semantic_dedup(
                batch, idx, centroids
            ).collect()
        }
        assert got == want == {103, 104}
        spark.catalog.clearCache()

    def test_stream_probes_served_ivf_index_without_broadcast(
        self, spark, tmp_path
    ):
        # the 100 TB mode: the frozen side is the bucketed catalog
        # table build_ivf_index serves ANN queries from, probed with
        # the round-10 DEFAULT index_mode ("auto" — no argument
        # passed, so a regression of the default flip fails here)
        # and the broadcast threshold disabled — a
        # REAL micro-batch run takes the large-index (sort-merge)
        # path; the batch twin's plan pins the frozen scan as bucketed
        # with no BroadcastExchange anywhere.
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            similarity,
        )

        frozen_corpus, centroids, batch = self._fixture(spark)
        t = "t_sem_gate_ivf"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        src = tmp_path / "emb_in_bk"
        batch.coalesce(1).write.mode("append").parquet(str(src))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            similarity.build_ivf_index(
                frozen_corpus, centroids, t, num_buckets=4
            )
            stream = ev.read_parquet_dir_stream(
                spark, str(src), "vec_id long, embedding array<double>"
            )
            out = ev.run_to_memory(
                ev.streaming_semantic_dedup(
                    stream, spark.table(t), centroids
                ),
                "sem_dedup_bk_out",
            )
            got = {r.vec_id for r in out.collect()}
            batch_twin = ev.streaming_semantic_dedup(
                batch, spark.table(t), centroids
            )
            want = {r.vec_id for r in batch_twin.collect()}
            assert got == want == {103, 104}
            plan = batch_twin._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan
            assert "Bucketed: true" in plan  # frozen scan uses the layout
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()
