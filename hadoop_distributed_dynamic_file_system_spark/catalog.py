"""Engine catalog: parquet-backed tables + per-table access heat.

The reference models data as an HDFS namespace whose NameNode tracks an
EWMA of file access *time* and adjusts replication dynamically
(reference: src/hdfs/org/apache/hadoop/hdfs/server/namenode/
FSDirectory.java:1341-1386 for the EWMA, FSNamesystem.java:4389-4560 for
the monitor). Here the namespace is a dict of parquet-backed DataFrames;
every `table()` call updates the same EWMA. Each `TableEntry` is the one
record of its table's heat and hot-set level: `hotset.HotSetManager`
reads them to decide, and `Catalog.set_level` is the only code that
persists or unpersists a table. Registering a table is metadata-only,
like opening a file on the NameNode: `read_parquet` reads one footer on
the driver, its file listing decides the single-block exemption, and no
Spark job runs.

EWMA formula (FSDirectory.java:1365-1373, replicated exactly):
    new = (1 - alpha) * old + alpha * now
with access-time precision clamped to >= 30 s (FSDirectory.java:1352):
updates closer together than the precision are skipped.
"""

from __future__ import annotations

import json
import logging
import os
import time
import weakref
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
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
# level change and per capacity-triggered demotion pass.
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


@dataclass
class TableEntry:
    name: str
    path: str
    df: DataFrame = field(repr=False)
    access_time_ewma_ms: float = 0.0
    access_count: int = 0
    single_block: bool = False  # exempt from the hot set, set by Catalog.register_path
    level: int = 0  # hot-set level, changed only by Catalog.set_level

    @property
    def cache_level(self) -> str | None:
        """The persist level of this entry's cached copy, if it has one."""
        return str(STORAGE) if self.level else None


class Catalog:
    """Registry of named parquet tables with access-EWMA tracking."""

    def __init__(self, spark: SparkSession, clock=None) -> None:
        self.spark = spark
        self._clock = clock or (lambda: time.time() * 1000.0)
        self._tables: dict[str, TableEntry] = {}

    # -- registration ------------------------------------------------
    def register_path(self, name: str, path: str) -> None:
        """Register `name`, replacing any earlier table of that name. The
        new path is read first, so a path that cannot be read raises and
        leaves the earlier table as it was. The replaced entry then drops
        to level 0 while it is still registered, which frees its cached
        copy (the reference's delete hook, FSNamesystem.java:301-303).
        Single-block: one data file <= `spark.sql.files.openCostInBytes`,
        Spark's one-partition scans at parallelism >= 2 (maxSplitBytes)."""
        df, files = _read(self.spark, path)
        single_block = files is not None and len(files) == 1 and (
            files[0][1] <= self.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes())
        old = self._tables.get(name)
        if old is not None:
            self.set_level(old, 0)
        self._tables[name] = TableEntry(name=name, path=path, df=df, single_block=single_block)

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
        return ent.df

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
        """Move a table to hot-set `level`. Leaving level 0 persists the
        table at `STORAGE`, returning to it unpersists it; a move between
        dynamic levels changes only the rank. The only code that persists
        or unpersists a catalog table."""
        if level == ent.level:
            return
        if not ent.level:
            ent.df.persist(STORAGE)
        elif not level:
            ent.df.unpersist()
        allocation_log.info("%s: level %d -> %d (ewma %.0f ms)",
                            ent.name, ent.level, level, ent.access_time_ewma_ms)
        ent.level = level
