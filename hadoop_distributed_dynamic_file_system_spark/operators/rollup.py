"""Incremental rollup maintenance: continuous-aggregate semantics on
plain DataFrames.

A 100 TB pipeline never recomputes its dashboards from raw events — it
maintains rollup tables and folds each new delta in. That only works
if every measure is RE-AGGREGATABLE: sums and counts add, min/max
fold, and distinct-counts merge ONLY as sketches (HLL unions are
associative; exact distinct sets are not mergeable without reshipping
the keys). This module keeps the rollup schema honest about that:
distinct measures live as Datasketches HLL binary columns
(`hll_sketch_agg`), merged with `hll_union_agg`, estimated only at
read time.

The reference's analog is the chained-job pattern (aggregate per
increment, then reduce the increments — e.g. the multi-job flows in
src/examples/org/apache/hadoop/examples/), reborn as algebra on
partial-aggregate tables.

Scale notes: a delta merge shuffles ONLY rollup rows (dims ×
sketch-size), never raw events; the merged table is again a valid
input to the same merge — the operator is closed under composition,
so hourly→daily→monthly chains are just repeated calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rollup_events(
    events: DataFrame,
    dims: list,
    sum_cols: dict[str, str],
    count_alias: str = "cnt",
    distinct_sketches: dict[str, str] | None = None,
) -> DataFrame:
    """One rollup increment: group `events` by `dims`, producing
    additive partials — counts, sums (`{out: in_col}`), and HLL
    sketches for distinct measures (`{out: in_col}`)."""
    aggs = [F.count("*").alias(count_alias)]
    for out, col in sum_cols.items():
        aggs.append(F.sum(col).alias(out))
    for out, col in (distinct_sketches or {}).items():
        aggs.append(F.hll_sketch_agg(col).alias(out))
    return events.groupBy(*dims).agg(*aggs)


def merge_rollups(
    a: DataFrame,
    b: DataFrame,
    dims: list[str],
    sum_cols: list[str],
    count_alias: str = "cnt",
    sketch_cols: list[str] | None = None,
) -> DataFrame:
    """Fold two rollup increments into one: counts and sums add,
    sketches union. The result is schema-identical to the inputs, so
    merges chain (delta after delta) and cascade (hour→day→month)."""
    u = a.unionByName(b)
    aggs = [F.sum(count_alias).alias(count_alias)]
    for c in sum_cols:
        aggs.append(F.sum(c).alias(c))
    for c in sketch_cols or []:
        aggs.append(F.hll_union_agg(c).alias(c))
    return u.groupBy(*dims).agg(*aggs)
