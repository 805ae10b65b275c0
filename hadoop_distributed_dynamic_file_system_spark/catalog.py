"""Engine catalog: parquet-backed tables + per-table access heat.

The reference models data as an HDFS namespace whose NameNode tracks an
EWMA of file access *time* and adjusts replication dynamically
(reference: src/hdfs/org/apache/hadoop/hdfs/server/namenode/
FSDirectory.java:1341-1386 for the EWMA, FSNamesystem.java:4389-4560 for
the monitor). Here the namespace is a dict of parquet-backed DataFrames;
every `table()` call updates the same EWMA. Each `TableEntry` is the one
record of its table's heat and hot-set level: `hotset.HotSetManager`
reads them to decide, and `Catalog.set_level` is the only code that
asks for a cached copy or frees one. Registering a table is
metadata-only, like opening a file on the NameNode: `read_parquet` reads
one footer on the driver, its file listing decides the single-block
exemption, no Spark job runs, and the table's SQL view is created.

A promotion completes in the background, as the fork's replication
monitor raises a file's target and DataNodes copy blocks while readers
keep using the replicas that exist. When a table leaves level 0,
`set_level` queues a copy with an analyzed plan of its own; one fill
worker per catalog persists and fills queued copies one at a time, one
partition per one-task job, under the job group `hotset-fill-<table>`,
and exits when the queue is empty. `Catalog.table`
and the SQL view read the parquet table until the copy is filled, then
the worker switches both to the copy. Returning to level 0 switches
them back and frees the copy, or has the worker free it when a fill
still runs: freeing a copy while its fill job runs leaks blocks.

EWMA formula (FSDirectory.java:1365-1373, replicated exactly):
    new = (1 - alpha) * old + alpha * now
with access-time precision clamped to >= 30 s (FSDirectory.java:1352):
updates closer together than the precision are skipped.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
import weakref
from collections import deque
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference defaults: dfs.dynamic.alpha=0.5, precision clamp 30 s.
ALPHA = 0.5
PRECISION_MS = 30_000

# Hot-set levels: 0 = base (not cached) ≙ dfs.replication; 1..TOP are
# the fork's replication sets above it, higher = hotter. Every table
# above level 0 holds one cached copy at STORAGE; its level is only the
# policy's rank.
TOP = 2
STORAGE = StorageLevel.MEMORY_AND_DISK

# The fork's NameNode.allocationLog (NameNode.java:126): one record per
# level change, per capacity-triggered demotion pass and per fill event
# (queued, filled, dropped unfilled, failed).
allocation_log = logging.getLogger(f"{__package__}.allocation")


# Session confs that change what parquet schema inference returns
# (column types from the footer, merged columns, partition types).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)

# session -> {(path, conf values): (listing fingerprint, schema)}. Keyed
# by the session object, so a stopped or new session infers again.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _local(path: str) -> str | None:
    """The local file system path `path` names, or None for a non-local
    URI or a glob pattern."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    return url.path if url.scheme else path


def _listing(local: str) -> tuple | None:
    """(relative path, size, mtime_ns, inode) of every data file under
    `local`, the files Spark's file index reads (`_hidden` names are left
    out), or None when `local` does not exist or changes while it is
    listed. A single file lists as itself, with relative path '.'."""
    if os.path.isfile(local):
        files = [] if _hidden(os.path.basename(local)) else [local]
    elif os.path.isdir(local):
        files = [os.path.join(root, f) for root, _dirs, fs in os.walk(local) for f in fs]
    else:
        return None
    out = []
    try:
        for f in sorted(files):
            rel = os.path.relpath(f, local)
            if rel == "." or not any(_hidden(c) for c in rel.split(os.sep)):
                st = os.stat(f)
                out.append((rel, st.st_size, st.st_mtime_ns, st.st_ino))
    except FileNotFoundError:
        return None
    return tuple(out)


def _hidden(name: str) -> bool:
    """InMemoryFileIndex's rule for names it leaves out of a listing
    (HadoopFSUtils.shouldFilterOutPathName)."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return ((name.startswith("_") and "=" not in name) or name.startswith(".")
            or name.endswith("._COPYING_"))


def _footer_file(local: str, listing: tuple) -> str | None:
    """The one file whose footer Spark's schema inference reads with
    `mergeSchema` off: the first data file by path string (Java orders
    strings by UTF-16 unit). None where Spark could read another file: a
    relative path (the JVM resolves it against its own working
    directory), a listed summary file or `_`-prefixed directory, or no
    data file."""
    rels = [rel for rel, *_ in listing]
    if (not os.path.isabs(local) or not rels
            or any(c.startswith("_") for rel in rels for c in rel.split(os.sep))):
        return None
    first = min(rels, key=lambda rel: rel.encode("utf-16-be"))
    return local if first == "." else os.path.join(local, first)


def _footer_schema(spark: SparkSession, local: str, listing: tuple) -> StructType | None:
    """The data schema `spark.read.parquet` would infer, read on the
    driver with Spark's own footer reader and converter, so no job
    runs. None where the plain read must run: `mergeSchema` on, no
    single footer file (`_footer_file`), a footer column that is also a
    partition directory key, or any error reading the footer, which
    the plain read then raises in Spark's own words."""
    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    file = _footer_file(local, listing)
    if file is None:
        return None
    jvm = spark._jvm
    try:
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        jpath = jvm.org.apache.hadoop.fs.Path(jvm.java.io.File(file).toURI())
        files = jvm.java.util.ArrayList()
        files.add(jpath.getFileSystem(conf).getFileStatus(jpath))
        pff = getattr(getattr(jvm.org.apache.spark.sql.execution.datasources.parquet,
                              "ParquetFileFormat$"), "MODULE$")
        footers = pff.readParquetFootersInParallel(
            conf, jvm.org.apache.spark.api.python.PythonUtils.toSeq(files), False)
        schema = StructType.fromJson(
            json.loads(pff.readSchema(footers, spark._jsparkSession).get().json()))
    except Py4JError:  # Java-side failures included
        return None
    # a column stored in the files and named by a partition directory
    # keeps the partition's inferred type in the plain read
    keys = {unquote(c.split("=", 1)[0]).lower()
            for rel, *_ in listing for c in rel.split(os.sep)[:-1] if "=" in c}
    if keys & {f.name.lower() for f in schema.fields}:
        return None
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without its schema-inference job.

    A local path's schema is read from one parquet footer on the driver
    (`_footer_schema`) and kept per session under the path, the values
    of `_INFERENCE_CONFS` and a listing fingerprint of the files, so
    any added, removed or rewritten file reads it again. The table is
    then read with `spark.read.schema(...)`. A path that cannot be
    fingerprinted, or whose footer Spark could pick differently, takes
    the plain read, so Spark infers the schema or raises its own
    errors for it."""
    return _read(spark, path)[0]


def _read(spark: SparkSession, path: str) -> tuple[DataFrame, tuple | None]:
    """`read_parquet`, and the `_listing` it took (None: no listing)."""
    local = _local(path)
    fingerprint = None if local is None else _listing(local)
    if fingerprint is None:
        return spark.read.parquet(path), None
    key = (path, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    memo = _schemas.setdefault(spark, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path), fingerprint
    schema = _footer_schema(spark, local, fingerprint)
    df = spark.read.parquet(path) if schema is None else spark.read.schema(schema).parquet(path)
    memo[key] = (fingerprint, df.schema)
    return df, fingerprint


def _fill(copy: DataFrame) -> None:
    """Fill a persisted copy one partition at a time, each in a one-task
    job that returns no rows, so a fill holds at most one core. Spark's
    FIFO scheduler gives a freed core to an earlier job first, so a
    request submitted while a partition fills runs before the next
    partition does. (`rand() < 0` would not do: Spark folds it to false
    and scans nothing.)"""
    for _ in copy.where(F.spark_partition_id() < 0).toLocalIterator():
        pass


@dataclass(eq=False)
class _Copy:
    """A table's cached copy, from the promotion that queued it until it
    is freed. `state`: queued, filling or filled."""

    df: DataFrame = field(repr=False)
    queued_at: float
    state: str = "queued"


@dataclass
class TableEntry:
    name: str
    path: str
    df: DataFrame = field(repr=False)
    access_time_ewma_ms: float = 0.0
    access_count: int = 0
    single_block: bool = False  # exempt from the hot set, set by Catalog.register_path
    level: int = 0  # hot-set level, changed only by Catalog.set_level
    copy: _Copy | None = field(default=None, repr=False)  # while level > 0

    @property
    def cache_level(self) -> str | None:
        """The persist level of this entry's cached copy, if it has one;
        a copy that is still queued or filling counts."""
        return str(STORAGE) if self.copy is not None else None

    @property
    def read_df(self) -> DataFrame:
        """What reads of this table use: the copy once it is filled, else
        the parquet table."""
        copy = self.copy
        return copy.df if copy is not None and copy.state == "filled" else self.df


class Catalog:
    """Registry of named parquet tables and their SQL views, with
    access-EWMA tracking and the background fill of cached copies."""

    def __init__(self, spark: SparkSession, clock=None) -> None:
        self.spark = spark
        self._clock = clock or (lambda: time.time() * 1000.0)
        self._tables: dict[str, TableEntry] = {}
        # guards every entry's `copy`, the SQL views and the fill queue
        self._lock = threading.Lock()
        self._queue: deque[tuple[TableEntry, _Copy]] = deque()
        self._worker: threading.Thread | None = None

    # -- registration ------------------------------------------------
    def register_path(self, name: str, path: str) -> None:
        """Register `name` and point its SQL view at it, replacing any
        earlier table of that name. The new path is read first, so a path
        that cannot be read raises and leaves the earlier table as it
        was. The replaced entry then drops to level 0 while it is still
        registered, which frees its cached copy (the reference's delete
        hook, FSNamesystem.java:301-303). Single-block: one data file <=
        `spark.sql.files.openCostInBytes`, Spark's one-partition scans at
        parallelism >= 2 (maxSplitBytes)."""
        df, files = _read(self.spark, path)
        single_block = files is not None and len(files) == 1 and (
            files[0][1] <= self.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes())
        old = self._tables.get(name)
        if old is not None:
            self.set_level(old, 0)
        ent = TableEntry(name=name, path=path, df=df, single_block=single_block)
        with self._lock:
            self._tables[name] = ent
            df.createOrReplaceTempView(name)

    def names(self) -> list[str]:
        return sorted(self._tables)

    def entry(self, name: str) -> TableEntry:
        return self._tables[name]

    def entries(self) -> list[TableEntry]:
        return list(self._tables.values())

    # -- access path (the getBlockLocations analog) --------------------
    def table(self, name: str, track_access: bool = True) -> DataFrame:
        ent = self._tables[name]
        if track_access:
            self._touch(ent)
        with self._lock:
            return ent.read_df

    def _touch(self, ent: TableEntry) -> None:
        now = self._clock()
        # Precision clamp: skip updates within `PRECISION_MS` of the last
        # EWMA value (FSDirectory.java:1352 keeps precision <= 30 s).
        if ent.access_count > 0 and now - ent.access_time_ewma_ms < PRECISION_MS:
            ent.access_count += 1
            return
        if ent.access_count == 0:
            ent.access_time_ewma_ms = now
        else:
            ent.access_time_ewma_ms = (1.0 - ALPHA) * ent.access_time_ewma_ms + ALPHA * now
        ent.access_count += 1

    # -- the one persist point -------------------------------------------
    def set_level(self, ent: TableEntry, level: int) -> None:
        """Move a table to hot-set `level`. Leaving level 0 queues a copy
        for the fill worker; returning to it switches reads back to the
        parquet table and frees the copy, at once unless its fill still
        runs. A move between dynamic levels changes only the rank. The
        only code that asks for a cached copy or frees one."""
        if level == ent.level:
            return
        t0 = time.monotonic()
        allocation_log.info("%s: level %d -> %d (ewma %.0f ms)",
                            ent.name, ent.level, level, ent.access_time_ewma_ms)
        with self._lock:
            if not ent.level:
                # `ent.df.select("*")` would not do: Spark's cache lookup
                # still matches it to `ent.df`'s own relation (as it does
                # `alias` and `hint`), so reads of the parquet table would
                # be planned over the half-filled copy and fill it
                # themselves. A filter on a literal keeps a plan of its own.
                ent.copy = _Copy(ent.df.filter(F.lit(True)), t0)
                self._queue.append((ent, ent.copy))
                allocation_log.info("%s: fill queued in %.3f s, %d ahead", ent.name,
                                    time.monotonic() - t0, len(self._queue) - 1)
                if self._worker is None:
                    self._worker = threading.Thread(target=self._fill_loop,
                                                    name="hotset-fill", daemon=True)
                    self._worker.start()
            elif not level:
                copy, ent.copy = ent.copy, None  # None: its fill failed or was stopped
                state = copy.state if copy is not None else None
                if state == "filled":
                    ent.df.createOrReplaceTempView(ent.name)
                    copy.df.unpersist()
                elif state == "queued":
                    self._queue.remove((ent, copy))
                    self._dropped(ent.name, copy)
                # a filling copy is freed by the worker when its job ends
            ent.level = level

    # -- the fill worker ----------------------------------------------------
    def _fill_loop(self) -> None:
        """Persist and fill queued copies one at a time, then exit when
        the queue is empty. A copy whose entry let go of it while it
        filled, or whose fill raised, is freed once its job has ended; a
        fill that raised is logged at WARNING only if its copy was still
        wanted."""
        sc = self.spark.sparkContext
        while True:
            with self._lock:
                if not self._queue:
                    self._worker = None
                    return
                ent, copy = self._queue.popleft()
                copy.state = "filling"
            t0 = time.monotonic()
            error = None
            try:
                sc.setJobGroup(f"hotset-fill-{ent.name}", f"fill the cached copy of {ent.name}")
                copy.df.persist(STORAGE)
                _fill(copy.df)
            except Exception as exc:  # e.g. a write moved the files away
                error = exc
            with self._lock:
                wanted = ent.copy is copy
                if wanted and error is None:
                    copy.state = "filled"
                    if self._tables.get(ent.name) is ent:
                        copy.df.createOrReplaceTempView(ent.name)
                elif wanted:
                    ent.copy = None
            if not wanted:
                self._dropped(ent.name, copy)
            elif error is None:
                allocation_log.info("%s: copy filled in %.3f s, %.3f s after it was queued",
                                    ent.name, time.monotonic() - t0,
                                    time.monotonic() - copy.queued_at)
                continue
            else:
                allocation_log.warning("%s: copy fill failed after %.3f s; reads stay on "
                                       "parquet", ent.name, time.monotonic() - t0,
                                       exc_info=error)
            try:
                copy.df.unpersist()
            except Py4JError:  # the session stopped under the fill
                pass

    @staticmethod
    def _dropped(name: str, copy: _Copy) -> None:
        allocation_log.info("%s: copy dropped %.3f s after it was queued, before it "
                            "was filled", name, time.monotonic() - copy.queued_at)

    def fills_idle(self) -> bool:
        """No copy is queued or filling."""
        with self._lock:
            return self._worker is None

    def stop_fills(self) -> None:
        """Drop every queued copy and wait for a running fill to end."""
        with self._lock:
            while self._queue:
                ent, copy = self._queue.popleft()
                ent.copy = None
                self._dropped(ent.name, copy)
            worker = self._worker
        if worker is not None:
            worker.join()
