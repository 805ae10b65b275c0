"""Engine facade: session + catalog + hot-set manager wired together.

The reference's user experience: point the client at a filesystem,
every `open` updates access heat in the NameNode and the
DynamicReplicationMonitor adjusts replication behind the scenes
(FSNamesystem.getBlockLocations → FSDirectory.unprotectedSetTimes →
allocateReplication; SURVEY §3.4). The Engine mirrors that: every
`table()` access updates the catalog EWMA and gives the hot-set
manager its promotion/demotion hook — queries just use DataFrames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .catalog import TPCH_TABLES, Catalog
from .hotset import HotSetManager
from .session import get_spark


class Engine:
    def __init__(self, data_dir: str | None = None, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()
        self.catalog = Catalog(self.spark)
        self.hotset = HotSetManager(self.catalog)
        if data_dir:
            for name in TPCH_TABLES:
                path = os.path.join(data_dir, f"{name}.parquet")
                if os.path.exists(path):
                    self.register(name, path)

    # -- the getBlockLocations-shaped access path ----------------------
    def table(self, name: str) -> DataFrame:
        """Read a registered table; updates access EWMA and runs the
        hot-set promotion/demotion pass (the reference's per-open
        dynamic-replication hook). A promotion only queues the fill of a
        cached copy: this read, and every read until the copy is filled,
        scans parquet."""
        df = self.catalog.table(name)
        self.hotset.on_access(name)
        return df

    def sql(self, query: str) -> DataFrame:
        """SQL over the registered views; a promoted table's view reads
        its cached copy once the copy is filled."""
        return self.spark.sql(query)

    def register(self, name: str, path: str) -> None:
        """(Re-)register a parquet table and its SQL view, both made by
        `Catalog.register_path`. Registration is not an access: it does not
        heat the table, and it launches no Spark job. A path that cannot
        be read raises and leaves the earlier table of that name as it
        was."""
        self.catalog.register_path(name, path)

    def heat_report(self) -> list[dict]:
        """Per-table access heat + current cache level; the changes
        themselves go to `catalog.allocation_log`."""
        out = []
        for name in self.catalog.names():
            e = self.catalog.entry(name)
            out.append(
                {
                    "table": name,
                    "accesses": e.access_count,
                    "ewma_ms": e.access_time_ewma_ms,
                    "level": e.level,
                    "cached_as": e.cache_level,
                }
            )
        return sorted(out, key=lambda r: -r["ewma_ms"])

    def stop(self) -> None:
        """Drop queued fills, wait for a running one, stop the session."""
        self.catalog.stop_fills()
        self.spark.stop()
