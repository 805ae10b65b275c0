"""Hot-set manager: the fork's dynamic-replication policy as Spark
cache-level management.

Reference (the repo's one novel contribution):
- FSNamesystem.java:4389-4560 `DynamicReplicationMonitor` — per-
  replication-level file sets (`replicationSets`, levels
  minDynamicReplication+1..maxDynamicReplication, :4397,4415), ranked
  by each inode's live access time (:4399).
- Promotion: on read, `allocateReplication` (:4425) inserts the file
  into the HIGHEST set whose current minimum EWMA access time it
  exceeds (`insertFileIntoNewSet` :4488-4530); single-block files are
  exempt (:4427-4431).
- Demotion: when used capacity > `capacityUsedPercentTop`, each set is
  sorted by access time and the colder HALF demoted one level
  (:4452-4484).
- Delete/overwrite unhooks a file from its set (:301-303).
- Heat = EWMA of access TIME: new = (1-alpha)*old + alpha*now
  (FSDirectory.java:1365-1373), precision clamped to >=30s (:1352).
- State deliberately non-durable (FSDirectory.java:482-495): restart
  resets replication and sets together.

Spark translation: the replication sets are hot-set levels 1..
`catalog.TOP` above the base level 0. A level is the policy's rank:
every table above level 0 holds one cached copy at `catalog.STORAGE`,
asked for when it leaves level 0 and freed when it returns, so a move
between dynamic levels re-reads nothing. As in the fork, where a raised
replication target is met by DataNodes in the background, a promotion
only queues the copy: the catalog's fill worker fills it off the
request path and reads switch to it once it is filled, so the capacity
probe sees a copy grow while it fills. Unlike the fork, a demotion
from level 2 to 1 frees no storage (there it drops a replica); a probe
still above `top` makes the next read run another pass, whose 1 → 0
moves free memory. The manager is policy only: each level's
members and minimum EWMA are derived from the catalog entries, which
hold every table's live heat and level, at the moment it decides;
`Catalog.set_level` carries out and logs each move. Re-registering a
table sends its old entry to level 0 (the delete hook). "Capacity" =
fraction of used storage memory from the SparkContext status tracker
(injectable for tests). State lives only in the catalog — non-durable,
like the reference. Defaults mirror the fork: alpha=0.5, top=80%.
Single-block (exempt) = one data file no larger than
`spark.sql.files.openCostInBytes`, taken from the file listing.
"""

from __future__ import annotations

import logging

from .catalog import TOP, Catalog, TableEntry, allocation_log

logger = logging.getLogger(__name__)

TOP_PERCENT = 80.0  # dfs.dynamic.top


class HotSetManager:
    def __init__(self, catalog: Catalog, usage_fn=None) -> None:
        self.catalog = catalog
        self._usage_fn = usage_fn or self._storage_memory_used_percent

    @property
    def level_of(self) -> dict[str, int]:
        """Table → hot-set level, for every table above level 0."""
        return {e.name: e.level for e in self.catalog.entries() if e.level}

    def _members(self, level: int) -> list[TableEntry]:
        return [e for e in self.catalog.entries() if e.level == level]

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
        if ent.single_block:
            return  # single-block exemption (:4427-4431), decided at registration
        usage = self._usage_fn()
        if usage > TOP_PERCENT:
            allocation_log.info("storage %.1f%% used > %.0f%%: demoting cold halves",
                                usage, TOP_PERCENT)
            self.demote_cold_halves()
            return
        # insertFileIntoNewSet (:4488-4530): join the HIGHEST level whose
        # minimum EWMA this table's exceeds; an empty level accepts anyone
        for lvl in range(TOP, ent.level, -1):
            coldest = min((e.access_time_ewma_ms for e in self._members(lvl)), default=None)
            if coldest is None or ent.access_time_ewma_ms > coldest:
                self.catalog.set_level(ent, lvl)
                return

    def demote_cold_halves(self) -> None:
        """The capacity-pressure path (:4452-4484): in every level, demote
        the colder half (by access time) one level down."""
        for lvl in range(TOP, 0, -1):
            ordered = sorted(self._members(lvl), key=lambda e: e.access_time_ewma_ms)
            for ent in ordered[: len(ordered) // 2]:
                self.catalog.set_level(ent, lvl - 1)
