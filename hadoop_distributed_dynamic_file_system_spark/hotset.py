"""Hot-set manager: the fork's dynamic-replication policy as Spark
cache-level management.

Reference (the repo's one novel contribution):
- FSNamesystem.java:4389-4560 `DynamicReplicationMonitor` — per-
  replication-level file sets (`replicationSets`, levels
  minDynamicReplication+1..maxDynamicReplication, :4397,4415) with the
  minimum-access-time file of each set tracked (:4399).
- Promotion: on read, `allocateReplication` (:4425) inserts the file
  into the HIGHEST set whose current minimum EWMA access time it
  exceeds (`insertFileIntoNewSet` :4488-4530); single-block files are
  exempt (:4427-4431).
- Demotion: when used capacity > `capacityUsedPercentTop`, each set is
  sorted by access time and the colder HALF demoted one level
  (:4452-4484).
- Heat = EWMA of access TIME: new = (1-alpha)*old + alpha*now
  (FSDirectory.java:1365-1373), precision clamped to >=30s (:1352).
- State deliberately non-durable (FSDirectory.java:482-495): restart
  resets replication and sets together.

Spark translation: replication levels → persist levels (higher
replication ≙ more redundant/faster re-read). Promotion persists a
table's DataFrame at the level's StorageLevel; demotion re-persists
one level down. "Capacity" = fraction of used storage memory from the
SparkContext status tracker (injectable for tests). State lives only
in this object — non-durable, like the reference.

Defaults mirror the fork: alpha=0.5, top=80%, and the level ladder has
base + 2 dynamic levels (the reference's min=3..max=6 ladder maps onto
the meaningful Spark storage tiers).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.storagelevel import StorageLevel

from .catalog import Catalog

logger = logging.getLogger(__name__)

# level 0 = base (not cached) ≙ dfs.replication; higher = hotter
DEFAULT_LEVELS = [None, StorageLevel.DISK_ONLY, StorageLevel.MEMORY_AND_DISK]
DEFAULT_TOP_PERCENT = 80.0  # dfs.dynamic.top
SINGLE_PARTITION_EXEMPT = True  # single-block exemption, :4427-4431


@dataclass
class _Set:
    """One replication set: member → EWMA access time."""

    members: dict[str, float] = field(default_factory=dict)

    def min_access(self) -> float | None:
        return min(self.members.values()) if self.members else None


class HotSetManager:
    def __init__(
        self,
        catalog: Catalog,
        levels: list[StorageLevel | None] | None = None,
        top_percent: float = DEFAULT_TOP_PERCENT,
        usage_fn=None,
    ) -> None:
        self.catalog = catalog
        self.levels = levels if levels is not None else list(DEFAULT_LEVELS)
        self.top_percent = top_percent
        self._usage_fn = usage_fn or self._storage_memory_used_percent
        # sets[i] exists for dynamic levels 1..max (0 is the base pool)
        self.sets: dict[int, _Set] = {i: _Set() for i in range(1, len(self.levels))}
        self.level_of: dict[str, int] = {}

    # -- capacity ------------------------------------------------------
    def _storage_memory_used_percent(self) -> float:
        sc = self.catalog.spark.sparkContext
        try:
            mem = sc._jsc.sc().getExecutorMemoryStatus()
            total = used = 0
            it = mem.iterator()
            while it.hasNext():
                kv = it.next()
                max_mem, rem_mem = kv._2()._1(), kv._2()._2()
                total += max_mem
                used += max_mem - rem_mem
            return 100.0 * used / total if total else 0.0
        except Exception:
            # reading 0 % disables demotion, so the failure must show
            logger.warning("storage memory probe failed; reading capacity as 0%",
                           exc_info=True)
            return 0.0

    # -- the getBlockLocations hook ------------------------------------
    def on_access(self, table: str) -> None:
        """allocateReplication (FSNamesystem.java:4425): called on every
        table access, after the catalog EWMA update."""
        ent = self.catalog.entry(table)
        if SINGLE_PARTITION_EXEMPT and ent.num_partitions <= 1:
            return  # single-block exemption
        if self._usage_fn() > self.top_percent:
            self.demote_cold_halves()
            return
        self._try_promote(table, ent.access_time_ewma_ms)

    def _try_promote(self, table: str, ewma: float) -> None:
        """insertFileIntoNewSet (:4488-4530): join the HIGHEST set whose
        minimum access time this table's EWMA exceeds; empty sets accept
        anyone at the next level above the table's current one."""
        current = self.level_of.get(table, 0)
        for lvl in range(len(self.levels) - 1, current, -1):
            s = self.sets[lvl]
            m = s.min_access()
            if m is None or ewma > m:
                self._move(table, current, lvl, ewma)
                return
        # stays put; refresh its EWMA within its set
        if current > 0:
            self.sets[current].members[table] = ewma

    def demote_cold_halves(self) -> None:
        """The capacity-pressure path (:4452-4484): in every set, demote
        the colder half (by access time) one level down."""
        for lvl in sorted(self.sets, reverse=True):
            s = self.sets[lvl]
            if not s.members:
                continue
            ordered = sorted(s.members.items(), key=lambda kv: kv[1])
            cold = ordered[: len(ordered) // 2]
            for table, ewma in cold:
                self._move(table, lvl, lvl - 1, ewma)

    # -- mechanics ------------------------------------------------------
    def _move(self, table: str, frm: int, to: int, ewma: float) -> None:
        if frm == to:
            return
        if frm > 0:
            self.sets[frm].members.pop(table, None)
        if to > 0:
            self.sets[to].members[table] = ewma
        self.level_of[table] = to
        self._apply_storage(table, to)

    def _apply_storage(self, table: str, level: int) -> None:
        ent = self.catalog.entry(table)
        df = self.catalog.table(table, track_access=False)
        storage = self.levels[level]
        if ent.cache_level is not None:
            df.unpersist()
        if storage is not None:
            df.persist(storage)
        ent.cache_level = str(storage) if storage is not None else None

    def levels_snapshot(self) -> dict[int, list[str]]:
        return {lvl: sorted(s.members) for lvl, s in self.sets.items()}
