"""Engine catalog: parquet-backed tables + per-table access heat.

The reference models data as an HDFS namespace whose NameNode tracks an
EWMA of file access *time* and adjusts replication dynamically
(reference: src/hdfs/org/apache/hadoop/hdfs/server/namenode/
FSDirectory.java:1341-1386 for the EWMA, FSNamesystem.java:4389-4560 for
the monitor). Here the namespace is a dict of parquet-backed DataFrames;
every `table()` call updates the same EWMA, which `hotset.HotSetManager`
uses to promote/demote cache levels.

EWMA formula (FSDirectory.java:1365-1373, replicated exactly):
    new = (1 - alpha) * old + alpha * now
with access-time precision clamped to >= 30 s (FSDirectory.java:1352):
updates closer together than the precision are skipped.
"""

from __future__ import annotations

import os
import time
import weakref
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

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
DEFAULT_ALPHA = 0.5
DEFAULT_PRECISION_MS = 30_000


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


def _listing(path: str) -> tuple | None:
    """(relative path, size, mtime_ns, inode) of every file under a
    local `path`, or None when the path cannot be fingerprinted: a
    non-local URI, a glob pattern, or a path that does not exist or
    changes while it is listed."""
    url = urlparse(path)
    if url.scheme not in ("", "file") or any(c in path for c in "*?[{"):
        return None
    local = url.path if url.scheme else path
    if os.path.isfile(local):
        files = [local]
    elif os.path.isdir(local):
        files = [os.path.join(root, f) for root, _dirs, fs in os.walk(local) for f in fs]
    else:
        return None
    out = []
    try:
        for f in sorted(files):
            st = os.stat(f)
            out.append((os.path.relpath(f, local), st.st_size, st.st_mtime_ns, st.st_ino))
    except FileNotFoundError:
        return None
    return tuple(out)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers each schema once per session.

    Plain schema inference reads the footers in a Spark job on every
    call. The inferred schema is kept per session under the path, the
    values of `_INFERENCE_CONFS` and a listing fingerprint of the files,
    so any added, removed or rewritten file infers again. A path that
    cannot be fingerprinted takes the plain read, so Spark raises its
    own errors for it."""
    fingerprint = _listing(path)
    if fingerprint is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    memo = _schemas.setdefault(spark, {})
    hit = memo.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = (fingerprint, df.schema)
    return df


@dataclass
class TableEntry:
    name: str
    path: str
    access_time_ewma_ms: float = 0.0
    access_count: int = 0
    num_partitions: int = 1
    cache_level: str | None = None  # managed by hotset.HotSetManager
    df: DataFrame | None = field(default=None, repr=False)


class Catalog:
    """Registry of named parquet tables with access-EWMA tracking."""

    def __init__(
        self,
        spark: SparkSession,
        alpha: float = DEFAULT_ALPHA,
        precision_ms: int = DEFAULT_PRECISION_MS,
        clock=None,
    ) -> None:
        self.spark = spark
        self.alpha = alpha
        self.precision_ms = precision_ms
        self._clock = clock or (lambda: time.time() * 1000.0)
        self._tables: dict[str, TableEntry] = {}

    # -- registration ------------------------------------------------
    def register_path(self, name: str, path: str) -> None:
        self._tables[name] = TableEntry(name=name, path=path)

    def register_dir(self, sf_dir: str, names=TPCH_TABLES, as_views: bool = False) -> None:
        """Register every `<name>.parquet` under a testdata dir."""
        for name in names:
            p = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(p):
                self.register_path(name, p)
                if as_views:
                    # registration is not an access — don't heat the EWMA
                    self.table(name, track_access=False).createOrReplaceTempView(name)

    def names(self) -> list[str]:
        return sorted(self._tables)

    def entry(self, name: str) -> TableEntry:
        return self._tables[name]

    # -- access path (the getBlockLocations analog) --------------------
    def table(self, name: str, track_access: bool = True) -> DataFrame:
        ent = self._tables[name]
        if ent.df is None:
            ent.df = read_parquet(self.spark, ent.path)
            # counted on the JVM: df.rdd would build a Python RDD wrapper
            ent.num_partitions = ent.df._jdf.queryExecution().toRdd().getNumPartitions()
        if track_access:
            self._touch(ent)
        return ent.df

    def _touch(self, ent: TableEntry) -> None:
        now = self._clock()
        # Precision clamp: skip updates within `precision_ms` of the last
        # EWMA value (FSDirectory.java:1352 keeps precision <= 30 s).
        if ent.access_count > 0 and now - ent.access_time_ewma_ms < self.precision_ms:
            ent.access_count += 1
            return
        if ent.access_count == 0:
            ent.access_time_ewma_ms = now
        else:
            ent.access_time_ewma_ms = (
                (1.0 - self.alpha) * ent.access_time_ewma_ms + self.alpha * now
            )
        ent.access_count += 1

    # -- convenience ---------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """Run SQL against registered views (register_dir(as_views=True))."""
        return self.spark.sql(query)
