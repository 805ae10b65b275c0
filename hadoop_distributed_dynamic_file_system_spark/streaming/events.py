"""Streaming operators over the events table.

The reference has NO streaming engine ("Hadoop Streaming" is batch
over Unix pipes — SURVEY §2.9); this is the additive capability. The
batch operator set maps onto Structured Streaming:

- groupBy+agg        → windowed aggregation with watermark
- distinct           → dropDuplicates[WithinWatermark]
- sessionization     → session_window (gap-based)
- arbitrary reducer  → applyInPandasWithState

For local verification the parquet events table drives the stream
(`read_events_stream`) and the memory sink + processAllAvailable()
makes runs synchronous; in production the same plans run over Kafka
with checkpointed exactly-once sinks.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import read_parquet
from ..operators import dedup as dedup_ops

logger = logging.getLogger(__name__)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (see queries._events)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def on_disk_events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Footer-only schema probe of the events parquet.

    The generator has shipped `ts` two ways across rounds — int64
    nanos (read as long via `nanosAsLong`) and TIMESTAMP(MICROS) —
    so the stream reader takes its mandatory schema from the file it
    will actually read instead of a frozen literal."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """`ts` → event-time TIMESTAMP regardless of the on-disk form
    (int64 nanos → floor-truncate to micros; TIMESTAMP(MICROS)/NTZ →
    plain cast). Watermarks and window() need a timestamp column; both
    the stream and its batch twins go through this one function so
    their event times agree exactly."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet; ts rebuilt as
    TIMESTAMP_NTZ→TIMESTAMP for watermarking (event-time ops need LTZ).

    `max_files_per_trigger` rate-limits ingestion: each micro-batch
    consumes at most that many files, so a backlog drains in bounded
    increments instead of one giant batch — the ingestion-side
    backpressure knob (Spark's Kafka source calls it
    maxOffsetsPerTrigger). At 100 TB a cold start over an existing
    directory MUST be rate-limited or the first batch shuffles the
    whole history at once."""
    # the file source lists a DIRECTORY; events.parquet is one file, so
    # stream the parent dir with a glob filter selecting just it
    reader = (
        spark.readStream.schema(on_disk_events_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    return normalize_event_ts(raw)


def read_parquet_dir_stream(
    spark: SparkSession,
    path: str,
    schema: "T.StructType",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Generic rate-limited file-source stream over a parquet directory
    (no events-specific ts rebuild)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding window counts with late-data handling."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming distinct: state-bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions (the streaming twin of the batch
    sessionization query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(
    events: DataFrame, timeout_minutes: int | None = None
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event count, value sum) emitted on every batch — the
    'arbitrary Java Reducer with state' case no built-in covers
    (SURVEY §2.9: the reference has no stateful surface at all; this is
    the additive custom-operator path). State is one row per user.

    `timeout_minutes` evicts idle users' state via processing-time
    timers — set it on real continuous sources. Default None: with
    timers armed the engine schedules batches forever to fire them, so
    a finite file source never quiesces (processAllAvailable hangs)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def stream_stream_join(
    events: DataFrame,
    left_type: str = "view",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: for each `right_type` event, the
    `left_type` events by the same user in the preceding `within`
    interval (view→purchase attribution shape). Watermarks bound the
    join state on both sides — without them the engine would buffer
    each stream forever."""
    lhs = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_event"),
        )
        .withWatermark("l_ts", watermark)
    )
    rhs = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_event"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    return lhs.join(
        rhs,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_ts") < F.col("r_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_user").alias("user_id"), "l_event", "r_event", "l_ts", "r_ts", "r_value"
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension table. The static side is marked broadcast — at
    100 TB of stream the dimension is the small side by construction,
    and broadcasting avoids re-shuffling every micro-batch on the join
    key. The static plan is re-resolved per batch, so a dim refreshed
    by an external writer is picked up between batches (slowly-changing
    dimension, no restart)."""
    return events.join(F.broadcast(dim), on, how)


def idempotent_parquet_sink(
    stream_df: DataFrame, out_dir: str, ledger_dir: str
):
    """Exactly-once foreachBatch parquet sink: each micro-batch writes
    to an epoch-scoped directory, then commits a ledger marker. On
    restart/retry Structured Streaming MAY replay the last epoch with
    the same epoch_id — the marker check makes the replay a no-op and
    the epoch-dir overwrite makes a torn first attempt self-healing
    (write-then-commit, the FileOutputCommitter idea applied per batch).

    The marker op runs on the DRIVER (foreachBatch contract), so plain
    file ops suffice locally; on a cluster point both dirs at a shared
    FS. Returns a DataStreamWriter — caller starts it.
    """
    return stream_df.writeStream.foreachBatch(epoch_writer(out_dir, ledger_dir))


def epoch_writer(out_dir: str, ledger_dir: str):
    """The foreachBatch function behind `idempotent_parquet_sink`,
    exposed so the replay contract is directly testable: calling it
    twice with the same epoch_id writes once."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"epoch-{epoch_id}.done")
        if os.path.exists(marker):
            return  # replayed epoch: already committed
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        os.makedirs(ledger_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("committed\n")

    return write_batch


def streaming_time_weighted_avg(
    samples: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 day",
) -> DataFrame:
    """Streaming twin of temporal.time_weighted_avg: per (key, time
    bucket), the running time-weighted average over irregular samples —
    each sample's value weighted by how long it HELD (gap to the next
    sample), the open tail carrying zero weight, single-sample (or
    zero-elapsed) buckets falling back to the plain average. Emits the
    running TWA on every micro-batch (update mode); the LAST emit per
    (key, bucket) equals the batch operator's answer.

    Ordered state via applyInPandasWithState — the piece a windowed
    built-in can't express (the weight of sample i is determined by
    sample i+1, so the aggregate is order-dependent): state keeps
    (weighted-sum, hold-sum, value-sum, n, last-ts, last-value); each
    batch sorts ITS samples by ts, splices the stored tail sample onto
    the front, folds the gaps, and stores the new tail. One state row
    per live (key, bucket) group.

    In-order assumption: samples for a key must not arrive in a LATER
    batch with an EARLIER timestamp than the stored tail (within a
    batch any order is fine — it sorts). Cross-batch late data needs a
    watermark+buffer design; for the rollup-pipeline shape (append-only
    metric streams) in-order per key is the contract."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bucket_start = F.window(F.col(ts_col), bucket)["start"].alias(
        "bucket_start"
    )
    # NULL samples are dropped BEFORE the stateful fold: a NULL value
    # would NaN-poison the group's running sums forever (pandas float
    # cast -> NaN propagates through every later emit) and a NULL ts
    # raises on the NaT->int64 conversion, failing the whole query —
    # while the batch twin's F.sum/F.avg just skip them. One stateless
    # filter restores the contract.
    keyed = samples.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col), bucket_start, F.col(ts_col), F.col(value_col)
    )
    bs_type = keyed.schema["bucket_start"].dataType
    key_type = keyed.schema[key_col].dataType

    out_schema = T.StructType(
        [
            T.StructField(key_col, key_type),
            T.StructField("bucket_start", bs_type),
            T.StructField("twa", T.DoubleType()),
            T.StructField("n_samples", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("w_sum", T.DoubleType()),
            T.StructField("hold_sum", T.DoubleType()),
            T.StructField("v_sum", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("last_ts", T.LongType()),  # ns since epoch
            T.StructField("last_v", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        k, bstart = key
        if state.exists:
            w_sum, hold_sum, v_sum, n, last_ts, last_v = state.get
            have_tail = True
        else:
            w_sum = hold_sum = v_sum = 0.0
            n = 0
            last_ts, last_v = 0, 0.0
            have_tail = False
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(ts_col, kind="mergesort")
        ts_ns = pd.to_datetime(batch[ts_col]).astype("int64").tolist()
        vals = batch[value_col].astype(float).tolist()
        for t, v in zip(ts_ns, vals):
            if have_tail:
                hold = float(t - last_ts)
                w_sum += last_v * hold
                hold_sum += hold
            last_ts, last_v, have_tail = t, v, True
            v_sum += v
            n += 1
        state.update((w_sum, hold_sum, v_sum, n, last_ts, last_v))
        twa = (w_sum / hold_sum) if hold_sum > 0 else (v_sum / n)
        yield pd.DataFrame(
            {
                key_col: [k],
                "bucket_start": [bstart],
                "twa": [round(twa, 6)],
                "n_samples": [n],
            }
        )

    return keyed.groupBy(key_col, "bucket_start").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming query to completion against the file source
    (synchronous; for tests/local verification). Returns the result."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def latest_per_key(df: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    """Latest-wins reduction: one row per key, the one with the highest
    sequence value (arg-max via struct-max — a plain aggregation, no
    window, so it combines map-side)."""
    others = [c for c in df.columns if c not in key_cols]
    packed = F.struct(F.col(seq_col), *[F.col(c) for c in others if c != seq_col])
    agg = df.groupBy(*key_cols).agg(F.max(packed).alias("__top"))
    return agg.select(
        *key_cols,
        F.col(f"__top.{seq_col}").alias(seq_col),
        *[F.col(f"__top.{c}").alias(c) for c in others if c != seq_col],
    )


def upsert_snapshot_writer(table_root: str, key_cols: list[str], seq_col: str):
    """foreachBatch upsert (CDC latest-wins merge) with snapshot
    isolation: each epoch merges the micro-batch into the current
    snapshot, writes a NEW versioned directory, and atomically swings a
    pointer file — readers always see a complete snapshot, and a
    replayed epoch is a no-op (the version dir is the marker). The
    poor-man's table format: what Delta/Iceberg do with manifests,
    reduced to version dirs + one pointer rename.

    Scale notes: the merge is latest_per_key over (snapshot ∪ batch) —
    one shuffle on the key; for large tables swap the full-snapshot
    rewrite for key-bucketed partition dirs so an epoch only rewrites
    buckets its batch touches (the merge expression is unchanged).
    """

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        vdir = os.path.join(table_root, f"v{epoch_id}")
        pointer = os.path.join(table_root, "_LATEST")
        if os.path.exists(vdir):
            return  # replayed epoch: snapshot already committed
        fresh = latest_per_key(batch_df, key_cols, seq_col)
        if os.path.exists(pointer):
            with open(pointer) as f:
                current = spark.read.parquet(
                    os.path.join(table_root, f.read().strip())
                )
            merged = latest_per_key(
                current.unionByName(fresh), key_cols, seq_col
            )
        else:
            merged = fresh
        merged.write.mode("overwrite").parquet(vdir)
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"v{epoch_id}")
        os.replace(tmp, pointer)  # atomic pointer swing = commit

    return merge_batch


def read_upsert_table(spark: SparkSession, table_root: str) -> DataFrame:
    """Read the committed snapshot the pointer currently names."""
    with open(os.path.join(table_root, "_LATEST")) as f:
        return spark.read.parquet(os.path.join(table_root, f.read().strip()))


def bucketed_upsert_writer(
    table_root: str, key_cols: list[str], seq_col: str, n_buckets: int = 16
):
    """Key-bucketed CDC upsert — the 100 TB form of
    `upsert_snapshot_writer`: the table lives as `b<k>/v<epoch>`
    bucket-version dirs (bucket = xxhash64(keys) mod n) plus one JSON
    manifest mapping bucket → committed version, and an epoch rewrites
    ONLY the buckets its micro-batch touches. A 1000-executor table
    with a 0.1% daily churn rewrites ~every bucket at n=16, but at
    n=4096 it rewrites ~0.1% of the data — n_buckets is the knob that
    decouples epoch cost from table size.

    One Spark job per epoch regardless of touched-bucket count: the
    merged frame lands in a staging dir via partitionBy(bucket), then
    the driver renames each bucket dir into place and atomically
    replaces the manifest (the commit point). A replayed epoch is a
    no-op via the manifest's epoch ledger. Readers (`read_bucketed_
    table`) see only manifest-committed versions, so a crash between
    renames and manifest write leaves garbage dirs (fsck-visible)
    but never a torn table."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import json
        import shutil

        spark = batch_df.sparkSession
        manifest_path = os.path.join(table_root, "_MANIFEST")
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                manifest = json.load(f)
        else:
            manifest = {"epochs": [], "buckets": {}, "n_buckets": n_buckets}
        if epoch_id in manifest["epochs"]:
            return  # replayed epoch: already committed

        bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        fresh = latest_per_key(batch_df, key_cols, seq_col)
        touched = sorted(
            r["__b"]
            for r in fresh.select(bucket.alias("__b")).distinct().collect()
        )
        cur_paths = [
            os.path.join(table_root, f"b{b}", manifest["buckets"][str(b)])
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        merged = fresh
        if cur_paths:
            current = spark.read.parquet(*cur_paths)
            merged = latest_per_key(
                current.unionByName(fresh), key_cols, seq_col
            )
        staging = os.path.join(table_root, f"_staging_{epoch_id}")
        merged.withColumn("__b", bucket).write.mode("overwrite").partitionBy(
            "__b"
        ).parquet(staging)
        for b in touched:
            src = os.path.join(staging, f"__b={b}")
            dst = os.path.join(table_root, f"b{b}", f"v{epoch_id}")
            if os.path.isdir(src):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                # A pre-existing dst can only be debris from a crashed
                # attempt at THIS epoch (the manifest never named it —
                # we'd have returned at the replay guard above). Without
                # this, shutil.move drops src INSIDE the stale dst and
                # the commit publishes a version with both the old
                # files and a nested __b= dir — a torn bucket.
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                shutil.move(src, dst)
                manifest["buckets"][str(b)] = f"v{epoch_id}"
        shutil.rmtree(staging, ignore_errors=True)
        manifest["epochs"].append(epoch_id)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)  # atomic commit

    return merge_batch


def read_bucketed_table(spark: SparkSession, table_root: str) -> DataFrame:
    """Read the committed state of a bucketed upsert table: the union
    of every bucket's manifest-named version dir."""
    import json

    with open(os.path.join(table_root, "_MANIFEST")) as f:
        manifest = json.load(f)
    paths = [
        os.path.join(table_root, f"b{b}", v)
        for b, v in manifest["buckets"].items()
    ]
    return spark.read.parquet(*paths)


def lookup_bucketed_key(
    spark: SparkSession, table_root: str, key_cols: list[str], key_vals: list
) -> DataFrame:
    """Point lookup against a bucketed upsert table: compute the key's
    bucket with the same JVM hash the writer used and read ONLY that
    bucket's committed version — 1/n_buckets of the table, the same
    pruning story as the sharded inverted index."""
    import json

    with open(os.path.join(table_root, "_MANIFEST")) as f:
        manifest = json.load(f)
    if not manifest["buckets"]:
        return spark.range(0).select()
    # xxhash64 is type-sensitive: hash the literals AT THE TABLE'S
    # COLUMN TYPES (footer-only schema probe) or an int literal would
    # route a bigint key to the wrong bucket
    any_committed = next(iter(manifest["buckets"].items()))
    schema = spark.read.parquet(
        os.path.join(table_root, f"b{any_committed[0]}", any_committed[1])
    ).schema
    types = {f.name: f.dataType for f in schema.fields}
    lits = [
        F.lit(v).cast(types[c]) for c, v in zip(key_cols, key_vals)
    ]
    b = (
        spark.range(1)
        .select(
            F.pmod(
                F.xxhash64(*lits), F.lit(manifest["n_buckets"])
            ).alias("b")
        )
        .first()["b"]
    )
    ver = manifest["buckets"].get(str(b))
    if ver is None:
        return spark.range(0).select()  # bucket never written: empty
    df = spark.read.parquet(os.path.join(table_root, f"b{b}", ver))
    cond = None
    for c, v in zip(key_cols, key_vals):
        clause = F.col(c) == F.lit(v)
        cond = clause if cond is None else (cond & clause)
    return df.filter(cond)


def vacuum_bucket_versions(table_root: str) -> list[str]:
    """Garbage-collect superseded bucket versions of a bucketed upsert
    table: every `b<k>/v<e>` dir the manifest no longer names (each
    epoch leaves its predecessor behind as crash insurance; vacuum is
    the explicit reclaim, same contract as `vacuum_snapshots`).
    Returns the removed `b<k>/v<e>` names."""
    import json
    import re
    import shutil

    with open(os.path.join(table_root, "_MANIFEST")) as f:
        manifest = json.load(f)
    removed = []
    for b, current in manifest["buckets"].items():
        bdir = os.path.join(table_root, f"b{b}")
        for v in sorted(os.listdir(bdir)):
            if v != current and re.fullmatch(r"v\d+", v):
                shutil.rmtree(os.path.join(bdir, v))
                removed.append(f"b{b}/{v}")
    return removed


def vacuum_snapshots(table_root: str, keep: int = 2) -> list[str]:
    """Garbage-collect upsert-table snapshots: delete all version dirs
    except the `keep` most recent BY EPOCH, never deleting the one the
    pointer names (time travel over the kept tail stays possible).
    Returns the removed dir names. The expunge/Trash analog for the
    poor-man's table format."""
    import re
    import shutil

    with open(os.path.join(table_root, "_LATEST")) as f:
        current = f.read().strip()
    versions = sorted(
        (d for d in os.listdir(table_root) if re.fullmatch(r"v\d+", d)),
        key=lambda d: int(d[1:]),
    )
    doomed = [d for d in versions[:-keep] if d != current]
    for d in doomed:
        shutil.rmtree(os.path.join(table_root, d))
    return doomed


def _apply_index_mode(idx: DataFrame, index_mode: str) -> DataFrame:
    """Join-strategy knob shared by the streaming dedup gates.

    "auto" (the DEFAULT since round 10, after a round of soak — the
    same default-flip discipline the census guard followed) leaves
    the plan to Catalyst; "broadcast" forces F.broadcast on the
    frozen side — the opt-in for a small in-memory relation (the
    lsh_band_index / media_band_index persisted form), whose size
    Catalyst may over-estimate from the plan instead of statistics.
    With "auto", pass `spark.table(name)` of a bucketed catalog table
    written by freeze_band_index_bucketed / freeze_media_index_bucketed
    and Catalyst size-gates the strategy from the table's statistics —
    below spark.sql.autoBroadcastJoinThreshold it still broadcasts;
    above it the per-micro-batch join becomes SMJ/shuffled-hash where
    the bucketed frozen scan needs NO Exchange (its disk layout IS the
    shuffle, paid once at freeze; only the small micro-batch side is
    repartitioned). That removes the executor-memory ceiling the
    forced broadcast imposed — at 100 TB the frozen corpus' band index
    does not fit an executor, and "auto" is the mode an ingest
    pipeline runs. (Reference analog: the identically-partitioned
    precondition of the map-side join, mapred/join/
    CompositeInputFormat.java:34-58 — the index layout is the
    shuffle.)

    Since "auto" became the default (round 10), a caller that used to
    rely on the old forced broadcast can silently regress: an index
    built as a purely in-memory relation (lsh_band_index /
    media_band_index's persisted form) carries NO catalog/file
    statistics, so Catalyst sizes it from plan defaults — usually an
    over-estimate that picks sort-merge and shuffles every micro-batch
    per band. "auto" therefore logs a one-line warning when the index
    plan has no file/catalog leaf, steering such callers to the
    explicit index_mode="broadcast" opt-in (ADVICE r10)."""
    if index_mode == "broadcast":
        return F.broadcast(idx)
    if index_mode == "auto":
        if not _has_stats_bearing_leaf(idx):
            logger.warning(
                "index_mode='auto' received an in-memory index relation "
                "with no catalog/file statistics; Catalyst may "
                "over-estimate its size and sort-merge every micro-batch "
                "— pass index_mode='broadcast' for small in-memory "
                "indexes, or freeze to a bucketed catalog table for "
                "large ones"
            )
        return idx
    raise ValueError(
        f"index_mode must be 'broadcast' or 'auto', got {index_mode!r}"
    )


def _has_stats_bearing_leaf(df: DataFrame) -> bool:
    """True when the DataFrame's analyzed plan reads at least one
    file/catalog relation — the leaves Catalyst can size from real
    statistics. Purely in-memory plans (LocalRelation / LogicalRDD,
    the createDataFrame / collected-and-parallelized index forms) have
    none and get plan-default size estimates. Best-effort plan
    introspection: on any py4j surprise, claim True (never warn
    spuriously, never fail the gate)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            name = leaves.apply(i).getClass().getSimpleName()
            if name in (
                "LogicalRelation",
                "LogicalRelationWithTable",
                "HiveTableRelation",
                "UnresolvedCatalogRelation",
                "StreamingRelation",
                "StreamingRelationV2",
                "DataSourceV2Relation",
            ):
                return True
        return False
    except Exception:  # noqa: BLE001 — introspection must never fail a gate
        return True


def streaming_near_dedup(
    doc_stream: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    index_mode: str = "auto",
) -> DataFrame:
    """Streaming incremental NEAR-dedup against a frozen corpus — the
    day-2 crawl filter (curation.incremental_dedup) upgraded from
    exact-hash to MinHash-LSH, as a streaming-legal plan: band keys
    are a stateless projection on each micro-batch
    (dedup.minhash_band_key_cols — no explode, no groupBy), then one
    stream-static LEFT ANTI equi-join per band against the corpus'
    folded band-key index (dedup.lsh_band_index). A document survives
    only if EVERY band misses; any hit drops it inside whichever anti
    join saw it — no reassembly aggregation, so no watermark or state
    store is needed at all.

    Scale: with index_mode="auto" (the default — the 100 TB-safe
    mode an ingest pipeline runs) freeze the corpus with
    dedup.freeze_band_index_bucketed and pass `spark.table(name)`:
    Catalyst size-gates the strategy from the table's statistics —
    below spark.sql.autoBroadcastJoinThreshold it still broadcasts;
    above it each band probe sort-merge joins against the bucketed
    frozen scan with ZERO Exchange on the frozen side — only the
    (small) micro-batch is repartitioned, bands× per batch. For a
    small in-memory index relation (lsh_band_index's persisted form,
    whose size Catalyst may over-estimate), opt in to
    index_mode="broadcast": the static side is the distinct band-key
    relation (8-byte longs, band-cardinality sized), broadcast per
    micro-batch, and the stream side is never shuffled. Batch/stream
    parity is by construction — the same function applied to a batch
    frame produces the identical plan minus the streaming source
    (pinned by the batch-twin tests in both modes).

    Day-2 composition: the static side re-resolves every micro-batch,
    so dedup.extend_band_index_bucketed can grow the frozen index
    UNDER a live gate and the very next micro-batch dedups against
    the appended keys (pinned by test_live_stream_sees_index_extends).
    Same-session appends invalidate Spark's relation cache
    automatically; an extender running in a DIFFERENT session must be
    paired with spark.catalog.refreshTable(name) in the streaming
    session, or the gate keeps probing the stale file listing.
    RETRACTION composes the same way for attributed indexes: arm the
    gate with tombstones.ensure(name) BEFORE start(), pass
    dedup.live_band_index(spark, name, id_col) as the static side,
    and retract_from_band_index takes effect on the next micro-batch
    (pinned by test_live_stream_sees_retractions — without ensure()
    the anti-join is absent from the running plan and retraction
    waits for a restart)."""
    out = dedup_ops.minhash_band_key_cols(
        doc_stream,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    for b in range(bands):
        idx = band_index.select(F.col("bk").alias(f"_ib{b}"))
        out = out.join(
            _apply_index_mode(idx, index_mode),
            F.col(f"_bk{b}") == F.col(f"_ib{b}"),
            "left_anti",
        )
    return out.drop(*[f"_bk{b}" for b in range(bands)])


def _streaming_code_dedup(
    codes: DataFrame,
    code_col: str,
    media_index: DataFrame,
    n_bands: int,
    band_bits: int,
    max_hamming: int,
    index_mode: str = "auto",
) -> DataFrame:
    """Shared core of the streaming media gates: per-band stream-static
    LEFT ANTI joins of 64-bit perceptual codes against a frozen
    (band-key, code) index — candidate by band-key equality, DROP only
    after an exact bit_count verify (hamming <= max_hamming). The
    verify rides as an extra join predicate on the broadcast-hash
    equi-join, so a skewed band value (0x0000/0xFFFF bands are common
    on natural images and near-silent audio) can surface candidates
    but can no longer veto a non-duplicate by itself — matching the
    batch twin (dedup.banded_hamming_pairs), which verifies candidates
    the same way. Stateless, streaming-legal: no watermark, no state
    store; the static side is at most n_bands rows per distinct frozen
    code, broadcast per micro-batch.

    NULL codes get NULL band keys, never satisfy any join predicate,
    and survive every anti join — an undecodable payload cannot be
    judged a duplicate.

    index_mode="auto" (default) probes a bucketed catalog table
    written by multimodal.freeze_media_index_bucketed without a
    forced broadcast (see _apply_index_mode) — the mode for frozen
    media corpora whose (band-key, code) index outgrows executor
    memory; "broadcast" is the opt-in for small in-memory indexes."""
    from ..operators import multimodal as mm

    if "mcode" not in media_index.columns:
        raise ValueError(
            "media index is missing the 'mcode' column: since round 8 "
            "the gates verify exact hamming distance and the index "
            "schema is (mbk, mcode). An index frozen before that "
            "change carries band keys only — re-freeze it with "
            "media_band_index / freeze_media_index_bucketed."
        )
    bands = mm.hamming_band_cols(F.col(code_col), n_bands, band_bits)
    out = codes.select(
        *codes.columns,
        *[
            F.when(
                F.col(code_col).isNotNull(), F.xxhash64(F.lit(b), c)
            ).alias(f"_mb{b}")
            for b, c in enumerate(bands)
        ],
    )
    for b in range(n_bands):
        idx = media_index.select(
            F.col("mbk").alias(f"_mi{b}"), F.col("mcode").alias(f"_mc{b}")
        )
        out = out.join(
            _apply_index_mode(idx, index_mode),
            (F.col(f"_mb{b}") == F.col(f"_mi{b}"))
            & (
                F.bit_count(
                    F.col(code_col).bitwiseXOR(F.col(f"_mc{b}"))
                )
                <= F.lit(max_hamming)
            ),
            "left_anti",
        )
    return out.select(*codes.columns)


def streaming_media_dedup(
    bin_stream: DataFrame,
    media_index: DataFrame,
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int | None = None,
    index_mode: str = "auto",
) -> DataFrame:
    """Streaming IMAGE near-dedup against a frozen corpus — the
    multimodal twin of streaming_near_dedup: decode each arriving
    payload to its perceptual aHash (Arrow-batched mapInPandas, a
    stateless per-batch stage, streaming-legal), split the 64-bit
    code into disjoint hamming bands (multimodal.hamming_band_cols —
    pigeonhole: any frozen image within hamming < n_bands shares at
    least one band), then one stream-static LEFT ANTI join per band
    against the corpus' (band-key, code) index
    (multimodal.media_band_index), verifying EXACT hamming distance
    (bit_count <= max_hamming, default n_bands - 1 = the pigeonhole
    completeness radius) before a candidate drops the image. Band
    collision alone is NOT a duplicate verdict: aHash band values are
    heavily skewed (flat regions yield all-zero/all-one bands), so an
    unverified key match would let one common frozen band wrongly
    drop many distinct images. A new image survives only if every
    band probe finds no verified neighbor. No watermark, no state
    store; static side broadcast per micro-batch.

    Undecodable payloads (NULL code) get NULL band keys and survive
    every anti join — a poison image cannot be judged a duplicate,
    and the decode-health report is a separate concern.

    Crawl reality check: byte-identical images (logos, spacers) all
    share the frozen corpus' codes (hamming 0), so this gate drops
    them in the first band probe — the streaming form of the
    exact-dedup-first discipline.

    index_mode="auto" (default) probes a bucketed catalog table
    (multimodal.freeze_media_index_bucketed) without a forced
    broadcast — the mode for frozen corpora past executor memory;
    "broadcast" is the opt-in for small in-memory indexes.

    Output: (doc_id, ahash) of the kept documents."""
    from ..operators import multimodal as mm

    if max_hamming is None:
        max_hamming = n_bands - 1
    codes = mm.ahash_codes(bin_stream).select("doc_id", "ahash")
    return _streaming_code_dedup(
        codes, "ahash", media_index, n_bands, band_bits, max_hamming,
        index_mode=index_mode,
    )


def streaming_audio_dedup(
    bin_stream: DataFrame,
    media_index: DataFrame,
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int | None = None,
    index_mode: str = "auto",
) -> DataFrame:
    """Streaming AUDIO near-dedup against a frozen corpus — the same
    frozen-index gate as streaming_media_dedup over acoustic
    fingerprints (multimodal.audio_fingerprint: frame-energy bits
    packed into one signed 64-bit code; NULL for non-WAV/malformed
    payloads). Build the index with
    media_band_index(audio_fingerprint(corpus), hash_col="afp").
    Same exact-hamming verification, same no-state plan shape, same
    NULL-survival discipline.

    Output: (doc_id, afp) of the kept documents."""
    from ..operators import multimodal as mm

    if max_hamming is None:
        max_hamming = n_bands - 1
    codes = mm.audio_fingerprint(bin_stream).select("doc_id", "afp")
    return _streaming_code_dedup(
        codes, "afp", media_index, n_bands, band_bits, max_hamming,
        index_mode=index_mode,
    )


def streaming_semantic_dedup(
    emb_stream: DataFrame,
    ivf_index: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_mode: str = "auto",
) -> DataFrame:
    """Streaming SemDeDup gate: arriving embeddings are dropped when a
    frozen corpus member sits at cosine >= threshold in one of the
    `nprobe` probed inverted lists — the EMBEDDING twin of
    streaming_near_dedup (text bands) and streaming_media_dedup /
    streaming_audio_dedup (perceptual codes), completing the modality
    set. The frozen side is the SERVED ANN index
    (similarity.build_ivf_index / extend_ivf_index): the same bucketed
    inverted lists answer top-k queries and gate the ingest stream, so
    the corpus routing shuffle is paid once, at index-build time, for
    both workloads.

    Stateless and streaming-legal (no watermark, no state store):
    routing is a per-row expression over the collected centroid model
    (similarity.centroid_probe_array), then nprobe stream-static LEFT
    ANTI joins with the exact cosine verify riding as a join predicate
    — a fat inverted list can surface candidates but never veto a
    non-duplicate by itself (the media gates' verify contract).

    index_mode="auto" (default) probes a bucketed catalog table
    without a forced broadcast (_apply_index_mode) — the mode once
    the frozen corpus' vectors outgrow executor memory; "broadcast"
    is the opt-in for small in-memory indexes. Day-2 appends via
    similarity.extend_ivf_index are picked up on the next micro-batch
    exactly as the band gates pick up extend_band_index_bucketed
    (same-session appends invalidate the relation cache; a
    cross-session extender needs spark.catalog.refreshTable).

    Batch/stream parity is by construction: this delegates to
    similarity.incremental_semantic_dedup, which runs the identical
    stateless plan on a batch frame (pinned by the twin tests in both
    modes). Output: the surviving stream rows, original columns."""
    from ..operators import similarity

    return similarity.incremental_semantic_dedup(
        emb_stream,
        _apply_index_mode(ivf_index, index_mode),
        centroids,
        threshold=threshold,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )


def streaming_curation(
    doc_stream: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
) -> DataFrame:
    """The curation funnel as ONE streaming query — the batch
    `curation_funnel` shape run continuously over an arriving crawl:

      quality gate -> near-dedup vs frozen corpus -> PII redaction
      -> token counting

    Every stage is STATELESS (scan-local expressions or stream-static
    anti/broadcast joins), so the composition needs no watermark, no
    state store, and restarts resume from the source offset alone —
    the operational property that makes continuous curation cheap to
    run. Emits the surviving documents with redacted text, redaction
    counts, and token counts (the accounting a downstream mixer
    consumes). Stage order matters for cost: the quality gate is the
    cheapest and most selective, so it runs before the band-key
    computation; dedup runs before redaction so PII work is never
    spent on documents that were going to be dropped."""
    from ..operators import curation, textanalysis

    gated = textanalysis.quality_score(doc_stream, text_col).filter(
        F.col("quality") >= min_quality
    )
    deduped = streaming_near_dedup(gated, band_index, text_col=text_col)
    redacted = curation.redact_pii(deduped, text_col)
    return textanalysis.token_counts(redacted, text_col)


def streaming_web_curation(
    doc_stream: DataFrame,
    band_index: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    min_alpha_frac: float = 0.8,
    buckets: int = 1024,
) -> DataFrame:
    """Round-5 funnel: the web-quality operators run continuously over
    an arriving crawl —

      Gopher-metric gate -> C4 line cleaning -> near-dedup vs frozen
      LSH band index -> quality-classifier scoring

    Gopher metrics and the C4 line filter are pure projections and the
    dedup stage is the stateless band-key anti-join chain. The
    classifier CANNOT run its batch form here — explode + groupBy is a
    stateful streaming aggregation (illegal in append mode, unbounded
    state) — so scoring collapses to the algebraically identical
    per-row form: with normalized tf, Σ tf_b·w_b = mean over the words
    array of w(bucket(word)), a pure `aggregate` expression against
    the weight relation collected into a map literal (the model is a
    constant `buckets` rows — the same "broadcast the model" bound,
    realized as an expression). The whole funnel stays watermark-free
    and state-store-free; restarts resume from source offsets alone.
    Emits (id, cleaned text, n_kept lines, score) — batch-equal to
    c4 + gopher + classifier.quality_classifier_scores (pinned by
    test)."""
    from ..operators import webquality

    id_col = "doc_id"
    g = webquality.gopher_quality(
        doc_stream, id_col, text_col, min_words=min_words
    ).select(id_col, "n_words", "alpha_frac")
    gated = doc_stream.join(
        g.filter(
            (F.col("n_words") >= min_words)
            & (F.col("alpha_frac") > min_alpha_frac)
        ).select(id_col),
        id_col,
    )
    cleaned = webquality.c4_line_filters(
        gated, id_col, text_col, min_words_per_line=5
    ).filter(F.col("n_kept") >= 1)
    deduped = streaming_near_dedup(
        cleaned.withColumnRenamed("cleaned", text_col).select(
            id_col, text_col, "n_kept"
        ),
        band_index,
        text_col=text_col,
    )
    from ..operators.classifier import word_bucket

    wrows = weights.collect()  # model: bounded at `buckets` rows
    wmap = F.create_map(
        *[x for r in wrows for x in (F.lit(int(r["b"])), F.lit(float(r["w"])))]
    )
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    # `buckets` MUST equal the value the weight relation was trained
    # with (classifier.fit_logreg / dsir_bucket_weights take it as a
    # parameter); the shared word_bucket helper keeps the formula
    # itself from drifting (ADVICE-r5).
    dot = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, w: acc
        + F.coalesce(
            F.try_element_at(wmap, word_bucket(w, buckets)), F.lit(0.0)
        ),
    ) / F.size(words)
    score = 1.0 / (1.0 + F.exp(-dot))
    return deduped.select(
        id_col, text_col, "n_kept", F.round(score, 6).alias("score")
    )


def streaming_normalize_chunk(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Ingest-time Unicode-normalize + token-window chunk over an
    arriving corpus — the context-window prep stage running
    continuously. Every stage is a stateless projection or generator
    (Arrow NFC udf, JVM regexps, sequence+posexplode+slice), so the
    query needs no watermark and no state store; a restart resumes
    from source offsets alone, and at cluster scale the stage
    parallelism is the source's partition count (no shuffle is
    introduced). Emits the same (id, chunk_idx, start_token,
    n_tokens, chunk_text) rows as the batch twin
    textnorm.clean_text → textanalysis.chunk_tokens (pinned by
    TestStreamingNormalizeChunk)."""
    from ..operators import textanalysis, textnorm

    cleaned = textnorm.clean_text(
        doc_stream.select(id_col, text_col), text_col
    )
    return textanalysis.chunk_tokens(
        cleaned.select(
            F.col(id_col), F.col("clean_text").alias(text_col)
        ),
        id_col,
        text_col,
        max_tokens=max_tokens,
        overlap=overlap,
    )


def streaming_scd2(
    changes: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
) -> DataFrame:
    """Continuous SCD type-2 maintenance — the streaming twin of
    temporal.scd2_intervals: per key, collapse the arriving state
    observations into validity intervals, emitting a CLOSED interval
    whenever a change ends one and re-emitting the OPEN interval
    (valid_to null, is_current true) each batch in update mode, so the
    sink's latest row per (key, valid_from) is always the batch
    answer. State is ONE row per key (current attr + interval start) —
    the minimal dimension-maintenance state, evicted never (dimension
    keys are the working set by definition).

    `ts_col` must be NUMERIC (cast timestamps to epoch micros first —
    the same engine-portable convention as temporal.interval_join).
    Arrival-order contract: observations are processed in ts order
    WITHIN a batch; an observation older than the open interval's
    start arriving in a LATER batch is dropped (documented staleness
    rule — front the stream with a watermark+sort stage if the source
    genuinely reorders across batches). Same-attr re-observations
    extend the open interval, exactly like the batch operator.
    """
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_t = changes.schema[key_col].dataType
    attr_t = changes.schema[attr_col].dataType
    ts_t = changes.schema[ts_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(key_col, key_t),
            T.StructField(attr_col, attr_t),
            T.StructField("valid_from", ts_t),
            T.StructField("valid_to", ts_t),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("attr", attr_t), T.StructField("vfrom", ts_t)]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        cur, vfrom = state.get if state.exists else (None, None)
        have = state.exists
        out_rows = []
        obs = []
        for pdf in pdfs:
            obs.extend(zip(pdf[ts_col], pdf[attr_col]))
        obs.sort(key=lambda p: p[0])
        for ts, attr in obs:
            ts = None if pd.isna(ts) else ts
            if not have:
                cur, vfrom, have = attr, ts, True
            elif ts is not None and vfrom is not None and ts < vfrom:
                continue  # stale cross-batch straggler: documented drop
            elif (attr != cur) and not (pd.isna(attr) and pd.isna(cur)):
                out_rows.append((key[0], cur, vfrom, ts, False))
                cur, vfrom = attr, ts
        if have:
            state.update((cur, vfrom))
            out_rows.append((key[0], cur, vfrom, None, True))
        yield pd.DataFrame(
            out_rows,
            columns=[key_col, attr_col, "valid_from", "valid_to", "is_current"],
        )

    return changes.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ann_topk(
    query_stream: DataFrame,
    corpus_codes: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Continuous vector retrieval: an arriving query stream searched
    against a FROZEN int8-IVF index — the serving half of the ANN
    stack run as a stream (the index is built batch-side by
    assign_to_centroids + int8_quantize, exactly ivf_int8_topk's
    corpus relation).

    Stages, all streaming-legal:
    - probe selection is a PER-ROW expression: the centroid table is a
      bounded model relation (the same "broadcast the model" bound as
      streaming_web_curation's classifier), so each query row ranks
      the centroids inside one codegen expression (struct array →
      sort_array → slice nprobe → explode) — no stream aggregation;
    - candidate generation is a stream-static equi-join on
      centroid_id (bucket pruning, the IVF win);
    - scoring is a scan-local cosine against the int8 codes;
    - per-query top-k runs in applyInPandasWithState keyed by
      query_id (a query's candidates all arrive in its own
      micro-batch, so state stays empty and the group just sorts its
      candidates — rank windows are not available on streams).

    Emits the SAME (query_id, vec_id, score, rk) contract as
    ivf_int8_topk; TestStreamingAnnTopk pins stream ≡ batch."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.similarity import centroid_probe_array, cosine

    # bounded model relation (n_centroids rows); the per-row probe
    # expression carries _probe_assigned's exact tie-break
    cen = [
        (r["centroid_id"], r[vec_col]) for r in centroids.collect()
    ]
    qv = F.col(vec_col).cast("array<double>")
    q = query_stream.select(
        F.col(id_col).alias("query_id"),
        qv.alias("qv"),
        F.explode(centroid_probe_array(cen, qv, nprobe)).alias("centroid_id"),
    )
    cand = q.join(corpus_codes, "centroid_id").filter(
        F.col("query_id") != F.col(id_col)
    )
    scored = cand.select(
        "query_id",
        F.col(id_col),
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
    )
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("unused", T.IntegerType())])

    def topk(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(
            ["score", id_col], ascending=[False, True]
        ).head(k)
        rows = rows.reset_index(drop=True)
        yield pd.DataFrame(
            {
                "query_id": rows["query_id"],
                id_col: rows[id_col],
                "score": rows["score"],
                "rk": (rows.index + 1).astype("int32"),
            }
        )

    return scored.groupBy("query_id").applyInPandasWithState(
        topk,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hybrid_rrf(
    query_stream: DataFrame,
    postings: DataFrame,
    corpus_stats: tuple[int, float],
    corpus_codes: DataFrame,
    centroids: DataFrame,
    text_col: str = "text",
    vec_col: str = "embedding",
    n_query_terms: int = 4,
    k: int = 10,
    k_in: int = 10,
    nprobe: int = 2,
    rrf_c: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Continuous HYBRID retrieval: each arriving query (text +
    embedding) is scored lexically (BM25 against a frozen postings
    index) AND densely (cosine against the frozen int8-IVF index),
    and the two rankings are fused by reciprocal rank — the
    production RAG serving loop as one streaming query.

    Streaming legality, stage by stage:
    - query terms: array_distinct(slice(words)) per row — stateless
      (a streaming `distinct` would need state; the per-row array
      form doesn't);
    - lexical candidates: stream-static equi-join on term against the
      postings relation (term, doc, tf, dl, df); the per-(query, doc,
      term) BM25 contribution is scan-local arithmetic (corpus N and
      avgdl ride as literals — they are two scalars of the frozen
      index, same model-relation bound as everywhere else);
    - dense candidates: the streaming_ann_topk probe expression +
      stream-static join on centroid_id + scan-local cosine;
    - both candidate streams UNION (stateless) into tagged rows, and
      the single stateful stage — applyInPandasWithState keyed by
      query_id — sums lexical contributions per doc, ranks both lists
      (6dp-rounded scores, doc-id tie-break: the exact batch
      contract), fuses with Σ 1/(c+rank), and emits the top-k.

    One stateful operator total (Structured Streaming allows only
    one); everything upstream is projection or stream-static join, so
    restarts resume from source offsets plus the frozen index.
    TestStreamingHybridRrf pins stream ≡ batch (bm25_multi_query +
    ivf_int8_topk + rrf_fuse)."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.similarity import cosine

    n_docs, avgdl = corpus_stats
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    terms = F.array_distinct(F.slice(words, 1, n_query_terms))
    lex = (
        query_stream.select(
            F.col("query_id"), F.explode(terms).alias("term")
        )
        .join(postings, "term")
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    lex_rows = lex.select(
        "query_id",
        "doc_id",
        F.lit("lex").alias("kind"),
        (idf * tf_part).alias("val"),
    )

    cen = centroids.collect()
    qv = F.col(vec_col).cast("array<double>")
    ranked = []
    for r in cen:
        zlit = F.array(*[F.lit(float(x)) for x in r[vec_col]])
        ranked.append(
            F.struct(
                F.round(cosine(qv, zlit), 6).alias("cscore"),
                F.lit(-int(r["centroid_id"])).alias("neg_cid"),
            )
        )
    probes = F.slice(F.sort_array(F.array(*ranked), asc=False), 1, nprobe)
    dense = (
        query_stream.select(
            F.col("query_id"),
            qv.alias("qv"),
            F.explode(probes).alias("p"),
        )
        .select(
            "query_id", "qv",
            (-F.col("p.neg_cid")).cast("long").alias("centroid_id"),
        )
        .join(corpus_codes, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.lit("dense").alias("kind"),
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("val"),
        )
    )
    tagged = lex_rows.unionByName(dense)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("rrf", T.DoubleType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )
    state_schema = T.StructType([T.StructField("unused", T.IntegerType())])

    def fuse(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        contribs: dict = {}
        lexp = rows[rows["kind"] == "lex"]
        if len(lexp):
            bm = (
                lexp.groupby("doc_id")["val"].sum().round(6)
                .reset_index()
                .sort_values(["val", "doc_id"], ascending=[False, True])
                .head(k_in)
            )
            for rk, doc in enumerate(bm["doc_id"], start=1):
                contribs[doc] = contribs.get(doc, 0.0) + 1.0 / (rrf_c + rk)
        dns = rows[rows["kind"] == "dense"]
        if len(dns):
            dd = dns.sort_values(
                ["val", "doc_id"], ascending=[False, True]
            ).head(k_in)
            for rk, doc in enumerate(dd["doc_id"], start=1):
                contribs[doc] = contribs.get(doc, 0.0) + 1.0 / (rrf_c + rk)
        fused = sorted(
            ((round(v, 6), d) for d, v in contribs.items()),
            key=lambda p: (-p[0], p[1]),
        )[:k]
        yield pd.DataFrame(
            {
                "query_id": [key[0]] * len(fused),
                "doc_id": [d for _, d in fused],
                "rrf": [v for v, _ in fused],
                "rk": pd.array(range(1, len(fused) + 1), dtype="int32"),
            }
        )

    return tagged.groupBy("query_id").applyInPandasWithState(
        fuse,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_crawl_extract(
    page_stream: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
) -> DataFrame:
    """Ingest-time HTML processing over an arriving crawl — the
    extraction stage of the fetch pipeline running continuously:
    visible text (webtext.strip_html), outbound link hosts
    (extract_links → host_of, relative links dropped), and text stats,
    one row per page. Every stage is a stateless JVM projection
    (regexp chains + one explode-free array transform), so there is no
    watermark, no state store, and no shuffle — restart resumes from
    source offsets, and parallelism is the source partition count.
    Batch twin: the same webtext composition (pinned by
    TestStreamingCrawlExtract)."""
    from ..operators import webtext

    t = webtext.strip_html(F.col(html_col))
    hosts = F.filter(
        F.transform(
            webtext.extract_links(F.col(html_col)),
            lambda u: webtext.host_of(u),
        ),
        lambda h: h != "",
    )
    return page_stream.select(
        F.col(id_col),
        t.alias("text"),
        F.size(F.split(t, " ")).cast("long").alias("n_words"),
        hosts.alias("link_hosts"),
    )


def streaming_boilerplate_gate(
    page_stream: DataFrame,
    boiler_index: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time boilerplate strip against a FROZEN per-host
    template-line index (webquality.host_boilerplate_index): the index
    aggregates to one (host, array<line keys>) row per host — a
    |template|-sized static relation — and joins the stream on host
    (stream-static, stateless); line removal is then a pure array
    filter against the keys, so re-assembly never needs a per-doc
    groupBy (which an append stream would disallow). Same output
    contract as the batch host_boilerplate_removal (id, host, n_lines,
    n_kept, n_boiler, cleaned); streaming a corpus against the index
    its own batch elected reproduces the batch result exactly (pinned
    by TestStreamingBoilerplateGate). Same frozen-index shape as
    streaming_near_dedup: rebuild the index offline on a cadence, the
    stream never mutates it."""
    from ..operators.webquality import _lines_of

    keys_by_host = boiler_index.groupBy(
        F.col("_host").alias(host_col)
    ).agg(F.collect_list("_k").alias("_bkeys"))
    joined = page_stream.join(keys_by_host, host_col, "left")
    lines = _lines_of(F.col(text_col))
    kept = F.when(F.col("_bkeys").isNull(), lines).otherwise(
        F.filter(
            lines,
            lambda ln: ~F.array_contains(F.col("_bkeys"), F.xxhash64(ln)),
        )
    )
    return joined.select(
        F.col(id_col),
        F.col(host_col).alias("host"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_boiler"),
        F.array_join(kept, "\n").alias("cleaned"),
    )


def streaming_value_histogram(
    doc_stream: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: int = 16,
) -> DataFrame:
    """Live equi-width histogram of a value column per group — the
    streaming half of the recrawl drift monitor. A complete-mode
    streaming aggregation maintains (group, bucket, c) as documents
    arrive (state = occupied buckets per group, a bounded relation —
    NOT per-document state); each cadence the monitor scores the
    current histogram against the frozen baseline with
    sketches.psi_from_histograms (the c column renamed c_new), and the
    bucketing expression is SHARED with the batch side
    (sketches.value_histogram) so live and baseline buckets can never
    diverge. Stream ≡ batch pinned by TestStreamingPsiDrift: after the
    last micro-batch the scored output equals batch psi_drift over the
    same corpus exactly."""
    from ..operators.sketches import value_histogram

    return value_histogram(doc_stream, group_col, value_col, bucket_width)
