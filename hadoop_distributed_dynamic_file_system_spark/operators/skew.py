"""Skew & co-location utilities for the 100 TB design point.

Reference analogs:
- Map-side merge join over identically-partitioned, key-sorted inputs
  (mapred/join/CompositeRecordReader.java, package.html): the whole
  point of that framework is joining WITHOUT a shuffle because the
  data is pre-partitioned. Spark twin: bucketed tables → sort-merge
  join with zero Exchange (`write_bucketed` + `bucketed_join`).
- The reference had no skew story beyond "pick a better partitioner"
  (custom Partitioner, TotalOrderPartitioner sampling). Here: AQE
  skew-join splitting is on by default (session.py); `salted_join` /
  `salted_aggregate` cover the cases AQE can't re-plan (hash-agg on a
  hot key, non-AQE engines, deliberate layout control).
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "_salt"


# ------------------------------------------------------------- bucketed join
def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    location: str | None = None,
) -> None:
    """Persist as a bucketed+sorted table (saveAsTable — bucketing
    metadata lives in the session catalog). Two tables bucketed the
    same way join with NO shuffle and NO sort: the disk layout IS the
    shuffle, paid once at write time — exactly the reference's
    'identically partitioned, key-sorted sources' precondition.

    The write repartitions on the bucket columns first so each bucket
    lands in ONE file. Without it every write task emits a file per
    bucket it touches — files = tasks × buckets, the small-file
    explosion that kills NameNode/listing performance at 100 TB (the
    very pathology the reference's HadoopArchives tool exists to clean
    up, src/tools/HadoopArchives.java).

    `location` makes the table EXTERNAL at that path (generational
    layout — see enable_generational): DROP then keeps the files,
    which is what catalog-only generation swaps rely on."""
    if mode == "overwrite" and location is None:
        # A warehouse dir can outlive the (in-memory) catalog across
        # sessions; saveAsTable then raises LOCATION_ALREADY_EXISTS
        # even in overwrite mode. If the catalog does not know the
        # table, the leftover dir is an orphan — remove it (local
        # filesystems only; best-effort elsewhere).
        _remove_orphan_table_dir(df.sparkSession, table_name)

    def save(d):
        w = d.write.mode(mode)
        if location is not None:
            w = w.option("path", location)
        (w.bucketBy(num_buckets, *bucket_cols)
         .sortBy(*(sort_cols or bucket_cols))
         .saveAsTable(table_name))

    _aligned_bucket_write(df, num_buckets, bucket_cols, save)


def _remove_orphan_table_dir(spark, table_name: str) -> None:
    """Remove a warehouse directory the catalog no longer knows.

    The existence check and the deleted path MUST resolve in the SAME
    namespace saveAsTable will write to, or this deletes live data: an
    unqualified name resolves in the CURRENT database, whose managed
    location is `<warehouse>/<db>.db/<table>` for every database
    except `default` (`<warehouse>/<table>`). A mismatch here (e.g.
    checking `work.t` but rmtree'ing default's `<warehouse>/t`) would
    rmtree the data directory of a REGISTERED table."""
    import os
    import shutil
    from urllib.parse import urlparse

    if spark.catalog.tableExists(table_name):
        return
    if "." in table_name:
        db, bare = table_name.rsplit(".", 1)
        # strip an explicit catalog prefix (spark_catalog.db.t)
        db = db.split(".")[-1]
    else:
        db, bare = spark.catalog.currentDatabase(), table_name
    wh = urlparse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    )
    if wh.scheme not in ("file", ""):
        return  # best-effort: only local filesystems
    base = (
        wh.path
        if db == "default"
        else os.path.join(wh.path, f"{db.lower()}.db")
    )
    shutil.rmtree(os.path.join(base, bare.lower()), ignore_errors=True)


# Session confs are process-global: two concurrent aligned writes in
# one session would race the save/restore below and could leave the
# pins applied forever. One write at a time keeps restore correct
# (queries planned in OTHER threads during a write still see the
# pinned confs — inherent to session confs; both pins are
# conservative: they cost small-data coalescing, never correctness).
_ALIGNED_WRITE_LOCK = threading.Lock()


def _aligned_bucket_write(df, num_buckets, bucket_cols, save) -> None:
    """Shared alignment core of write_bucketed/append_bucketed. The
    repartition pins exactly num_buckets tasks, one per bucket — but
    the sortBy write plans a Sort ABOVE the alignment shuffle, and AQE
    then treats that shuffle as coalescible (the user-repartition
    protection applies only to a terminal repartition), silently
    merging partitions on small data so tasks straddle buckets and
    files = tasks × buckets again. Disable AQE partition coalescing
    for just this write: at scale the partitions exceed the advisory
    size and coalescing would be a no-op anyway — this only pins the
    invariant the repartition exists for."""
    df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    spark = df.sparkSession
    pins = {
        # AQE would coalesce the alignment shuffle on small data
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # When the SOURCE is the same-bucketed table (compact, a
        # read-extend-rewrite), the optimizer drops the repartition as
        # redundant against the table's bucketing — and then the
        # planner auto-DISABLES the bucketed scan for the bare
        # read-write query, leaving split-packed unaligned input.
        # Forcing the bucketed scan keeps that dropped repartition's
        # promise: one partition per source bucket.
        "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    }
    with _ALIGNED_WRITE_LOCK:
        prev = {k: spark.conf.get(k) for k in pins}
        for k, v in pins.items():
            spark.conf.set(k, v)
        try:
            save(df)
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


def append_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Append to an existing bucketed table keeping the layout live:
    saveAsTable(mode="append") with a bucketBy spec validates against
    the catalog's spec (a mismatch raises AnalysisException rather
    than silently corrupting the bucket layout — pinned in tests) and
    writes properly bucketed files, so later joins stay Exchange-free
    on the bucketed key. Each append adds at most one file per touched
    bucket; compact periodically with compact_bucketed when file
    counts grow — the HadoopArchives small-file discipline
    (src/tools/HadoopArchives.java). (Never write_bucketed(
    spark.table(t), t, ...): Spark rejects overwriting a table from
    its own scan.)"""
    _aligned_bucket_write(
        df, num_buckets, bucket_cols,
        lambda d: d.write.mode("append")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .saveAsTable(table_name),
    )


def bucket_spec(spark, table_name: str) -> tuple[list[str], int]:
    """(bucket columns, bucket count) of a bucketed catalog table,
    from DESCRIBE TABLE EXTENDED. Raises ValueError for an unbucketed
    table — callers that rewrite layouts must not guess a spec."""
    rows = {
        r.col_name: r.data_type
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {table_name}"
        ).collect()
    }
    if "Num Buckets" not in rows:
        raise ValueError(f"{table_name} is not a bucketed table")
    cols = [
        c.strip(" `")
        for c in rows["Bucket Columns"].strip("[]").split(",")
    ]
    return cols, int(rows["Num Buckets"])


# ------------------------------------------------- generational layout
# Zero-downtime compaction (round 11). The legacy swap (DROP managed +
# RENAME) deletes the old files, and a live streaming gate's analyzed
# plan holds stale listings of exactly those files — its next
# micro-batch dies on FAILED_READ (measured; see compact_bucketed's
# live-consumer contract). The generational layout removes the
# deletion from the swap: the table is EXTERNAL and ping-pongs between
# two sibling directories (`<path>__genA` / `<path>__genB`); a
# compaction writes the folded data into the OTHER directory, then
# swaps with two catalog-only ops (DROP external + RENAME), leaving
# the old generation's files on disk until the NEXT compaction
# reclaims that directory. A gate started before the swap keeps
# reading the retired generation — pre-fold semantics, correct
# because its tombstone anti-join is still armed (tombstones retire
# the same catalog-only way) — and picks up the fold at its next
# restart/fresh resolution. One-generation retention bounds disk at
# 2x index size; a gate running across TWO folds of the same index
# still fails-and-restarts (the documented legacy contract).
# This is the manual form of what table formats with MVCC snapshots
# (Delta/Iceberg) give for free; the reference analog is the
# rename-into-place commit of FileOutputCommitter — readers of the
# old attempt's files are never invalidated mid-read.

_GEN_SUFFIXES = ("__genA", "__genB")


def table_location(spark, table_name: str) -> str:
    """Table location URI from DESCRIBE TABLE EXTENDED."""
    return {
        r.col_name: r.data_type
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {table_name}"
        ).collect()
    }["Location"]


def generational_location(spark, table_name: str) -> str | None:
    """The table's location if it is in generational layout (path ends
    with a generation suffix), else None."""
    loc = table_location(spark, table_name).rstrip("/")
    return loc if loc.endswith(_GEN_SUFFIXES) else None


def _next_generation(loc: str) -> str:
    loc = loc.rstrip("/")
    a, b = _GEN_SUFFIXES
    return loc[: -len(a)] + (b if loc.endswith(a) else a)


def hadoop_fs(spark, location: str):
    """(FileSystem, Path) for a location URI through the same py4j
    Hadoop client FsShell ops use — any scheme the client knows
    (file://, hdfs://, s3a://...). The one construction site for the
    warehouse-side file ops below (delete, census, existence pins)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jpath.toUri(), spark.sparkContext._jsc.hadoopConfiguration()
    )
    return fs, jpath


def _delete_dir(spark, location: str) -> None:
    """Recursive delete through the Hadoop FileSystem API (any scheme
    the client knows) — reclaiming a retired generation directory."""
    fs, jpath = hadoop_fs(spark, location)
    fs.delete(jpath, True)


def enable_generational(spark, table_name: str) -> None:
    """One-time migration of a bucketed catalog table into the
    generational (zero-downtime-compaction) layout: rewrite into an
    EXTERNAL table at `<current_location>__genA` and swap. No-op if
    already generational.

    The migration itself is the LAST downtime-requiring rewrite: the
    old managed directory is deleted by the DROP, so run it at freeze
    time or in a quiescent window (the legacy live-consumer contract
    applies to this one call). Every compact_bucketed after it — and
    therefore every maintenance-actor fold — swaps catalog-only and
    never breaks a live gate. A later write_bucketed overwrite of the
    same name without `location` resets the table to managed layout;
    re-run this migration after a re-freeze.

    Crash recovery: the migration stages through the same
    `<table>__compact_tmp` as a compaction, so a crash between the
    DROP and the RENAME is the standard half-swap — the daemon's next
    tick (or any compact_bucketed call) completes the rename; then
    re-run the migration wrapper (tombstones.enable_generational) to
    finish the tombstone side, whose own crash windows self-heal at
    every tombstone entry point (tombstones._heal_swap)."""
    if generational_location(spark, table_name) is not None:
        return
    bucket_cols, num_buckets = bucket_spec(spark, table_name)
    gen_loc = table_location(spark, table_name).rstrip("/") + _GEN_SUFFIXES[0]
    tmp = f"{table_name}__compact_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _delete_dir(spark, gen_loc)
    write_bucketed(
        spark.table(table_name), tmp, bucket_cols,
        num_buckets=num_buckets, location=gen_loc,
    )
    spark.sql(f"DROP TABLE {table_name}")  # managed: deletes old files
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")


def bucket_file_census(spark, table_name: str) -> dict:
    """Per-bucket data-file census of a bucketed catalog table — the
    fragmentation signal compact_bucketed's cadence defers to: each
    append_bucketed batch adds up to one file per touched bucket, and
    after many batches the per-bucket file count taxes listing and
    open() the same way the reference's small-file pathology taxed
    the NameNode (src/tools/HadoopArchives.java exists for exactly
    this — and its accounting was NameNode-side, i.e., warehouse-side,
    never a local walk). Returns {n_buckets, n_files, buckets_touched,
    max_files_per_bucket}.

    Driver-side listing through Hadoop's FileSystem API (py4j), the
    same client FsShell ops use — so the census works against any
    scheme Spark's Hadoop client knows (file://, hdfs://, s3a://...),
    not just local dirs. `listFiles(recursive=True)` is a single
    RemoteIterator round-trip class op on HDFS and a paged LIST on
    object stores: bounded by file count, never reads data. The
    recursion also covers partitioned+bucketed layouts, where data
    files nest under partition subdirectories — a flat listing would
    silently report zero files there. The bucket id is parsed from
    Spark's bucketed file naming (`part-NNNNN-<uuid>_BBBBB.c000...` —
    the `_BBBBB` suffix IS the bucket). Raises ValueError for an
    unbucketed table (bucket_spec), for a scheme the Hadoop client
    cannot open, or when a non-empty table yields zero bucket-named
    data files — so a caller that gates on the census fails loudly
    instead of reading zeros."""
    import re
    from collections import Counter

    _, num_buckets = bucket_spec(spark, table_name)
    loc = table_location(spark, table_name)
    try:
        fs, jpath = hadoop_fs(spark, loc)
        it = fs.listFiles(jpath, True)
    except Exception as exc:  # unknown scheme / unreachable store
        raise ValueError(
            f"bucket_file_census cannot list {table_name} at {loc}: {exc}"
        ) from exc
    counts: Counter = Counter()
    n_seen = 0
    pat = re.compile(r"part-\d+-.+_(\d{5})\.")
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):  # _SUCCESS, _temporary, CRCs
            continue
        n_seen += 1
        m = pat.match(name)
        if m:
            counts[int(m.group(1))] += 1
    if n_seen and not counts:
        raise ValueError(
            f"{table_name} at {loc} holds {n_seen} data files but none "
            "carry Spark's bucketed-file suffix — layout not bucketed?"
        )
    return {
        "n_buckets": num_buckets,
        "n_files": sum(counts.values()),
        "buckets_touched": len(counts),
        "max_files_per_bucket": max(counts.values()) if counts else 0,
    }


def compact_bucketed(
    spark,
    table_name: str,
    sort_cols: list[str] | None = None,
    transform=None,
) -> None:
    """Rewrite a bucketed table in place to one file per bucket —
    the companion to append_bucketed: each append adds a file per
    touched bucket, and after many batches the per-bucket file count
    taxes listing and open() the same way the reference's small-file
    pathology taxed the NameNode (HadoopArchives exists for exactly
    this, src/tools/HadoopArchives.java). Run it off the ingest path
    on whatever cadence the file census suggests; the rewrite is one
    corpus-sized job, after which appends resume.

    The bucket spec is READ FROM THE CATALOG (bucket_spec), never
    passed by the caller: overwrite mode would not validate a wrong
    parameter, so a caller-supplied count could silently re-bucket
    the table and break every same-spec consumer.

    Staged through a temp table then swapped, because overwriting a
    table from its own scan would truncate the source mid-read. If a
    previous compaction crashed between the DROP and the RENAME (the
    data is intact in `<table>__compact_tmp`), this call detects the
    half-swap and completes the rename before doing anything else —
    re-running compact IS the recovery path.

    Live-consumer contract, MEASURED (round 11, pinned by
    tests/test_streaming.py test_live_gate_across_fired_maintenance_
    tick): a streaming gate probing the table (streaming_near_dedup
    index_mode="auto") holds its analyzed plan's resolved relations —
    stale file listings the swap invalidates but that neither
    same-session catalog invalidation nor an explicit refreshTable
    can reach — so in the LEGACY (managed) layout the gate's next
    micro-batch after the swap fails LOUDLY (FAILED_READ_FILE
    terminates the query; never a silent empty-index pass-through)
    and a restart from the same checkpoint replays that batch against
    the compacted table with exactly-once output. Schedule compaction
    in the ingest pipeline's quiet window, or restart affected gates
    after it — or migrate the table once with enable_generational,
    after which the swap is catalog-only, the retired generation's
    files stay on disk until the next compaction, and a live gate
    keeps running through the fold (pre-fold semantics until its next
    restart — pinned by test_live_gate_survives_generational_tick).

    `transform` (optional, DataFrame -> DataFrame) rewrites THROUGH a
    filter/projection — the hook retraction compaction uses to fold
    tombstones into the base in the same staged pass. It must not
    change the bucket columns."""
    tmp = f"{table_name}__compact_tmp"
    if spark.catalog.tableExists(tmp) and not spark.catalog.tableExists(
        table_name
    ):
        # a previous compact died mid-swap; the tmp table IS the data
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
        return
    bucket_cols, num_buckets = bucket_spec(spark, table_name)
    gen_loc = generational_location(spark, table_name)
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    src = spark.table(table_name)
    if transform is not None:
        src = transform(src)
    if gen_loc is not None:
        # generational: stage into the OTHER generation directory
        # (reclaiming it — this deletion retires the PREVIOUS
        # generation, one full fold after it stopped being current),
        # then swap catalog-only; the current generation's files
        # survive for gates already reading them.
        next_loc = _next_generation(gen_loc)
        _delete_dir(spark, next_loc)
        write_bucketed(
            src, tmp, bucket_cols,
            num_buckets=num_buckets, sort_cols=sort_cols,
            location=next_loc,
        )
    else:
        write_bucketed(
            src, tmp, bucket_cols,
            num_buckets=num_buckets, sort_cols=sort_cols,
        )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # file-level move keeps this metadata-cheap; ALTER TABLE RENAME on
    # a managed datasource table moves the directory for us
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")


def bucketed_join(
    spark, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables; plan should contain no Exchange
    on the bucketed key (assert via tests/test_plan_quality)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


# --------------------------------------------------------------- salted join
def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a salted key: the large (skewed) side scatters
    each hot key across `salt` shuffle partitions; the small side is
    replicated `salt`× via explode. Deterministic salt (xxhash64 of the
    whole row id-ish columns, not rand()) so retries reproduce.

    Use when a single join key carries an outsized share of rows AND
    AQE's skew splitting can't apply (e.g. the skewed side feeds an
    aggregation in the same stage)."""
    salt_col = F.pmod(
        F.xxhash64(*[F.col(c) for c in large.columns], F.monotonically_increasing_id()),
        F.lit(salt),
    ).cast("int")
    l_salted = large.withColumn(_SALT, salt_col)
    s_salted = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(s_salted, on=on + [_SALT], how=how).drop(_SALT)


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, Column]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial agg on
    (key, salt), final re-agg on key. Supports the decomposable
    aggregates (sum, count, min, max) — the same restriction the
    reference's Combiner had.

    `aggs` maps output name → (final_fn_name, partial_expr); e.g.
    {"cnt": ("sum", F.count("*")), "mx": ("max", F.max("v"))}.
    """
    salt_col = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int")
    partial = (
        df.withColumn(_SALT, salt_col)
        .groupBy(*key_cols, _SALT)
        .agg(*[expr.alias(f"_p_{name}") for name, (_fn, expr) in aggs.items()])
    )
    finals = [
        getattr(F, fn)(F.col(f"_p_{name}")).alias(name)
        for name, (fn, _expr) in aggs.items()
    ]
    return partial.groupBy(*key_cols).agg(*finals)
