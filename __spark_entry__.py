"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in hadoop_distributed_dynamic_file_system_spark/;
this module is the thin driver-facing shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_distributed_dynamic_file_system_spark import queries as _q  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import queries_llm as _qllm  # noqa: E402,F401

# The round driver's oracle checks the FIRST 50 entries of queries().
# ROTATION INVARIANT: there are more registered queries (227) than
# window slots (50), so the window is rebuilt each round by STALENESS —
# never-driver-checked queries first, then any query that was ever
# driver-red until it re-earns green, then oldest-last-green (ties
# alphabetical). 50 slots x 5 rounds = 250 >= 227, so every registered
# query gets a fresh driver row at least every FIVE rounds (K grew
# from 4 to 5 when the registry passed 200); tools/check.py still runs
# ALL entries locally every round at sf0.01 AND sf0.1. Regenerate the
# list below with tools/rotation.py from the CORRECTNESS_r*.json union.
#
# CAPACITY POLICY (decided round 11, per the r10 VERDICT ask): the
# registry is CAPPED at 250 net — the exact 50x5 ceiling. New queries
# are admitted only for genuinely new capabilities (a lifecycle leg or
# operator with no existing driver coverage), not variations of
# covered shapes; when the cap is reached, admission requires retiring
# or merging a redundant early query in the same commit. K stays 5 —
# raising it would trade staleness for headroom we don't need under
# the cap. tools/rotation.py asserts len(registry) <= 250.
#
# Round-12 window (regenerated by tools/rotation.py after
# CORRECTNESS_r11 landed 50/50 green; 0 never-checked, 0 red): the
# remaining r7-stale cohort leads (mojibake_stats — displaced from
# the r11 window by its late slot-1 insertion — through
# web_graph_pipeline), then the oldest r8-green rows
# (aggregate_dsl ... ngram_jaccard). Max staleness after this window
# runs is r8. All 228 registry entries are green in the local gate at
# sf0.01 AND sf0.1 on this tree (tools/check.py full sweeps, r12).
_PRIORITY: list[str] = [
    "mojibake_stats",
    "moment_stats_merge",
    "multi_signal_components",
    "near_dedup_kept",
    "orc_roundtrip",
    "pii_redaction",
    "profile_customer",
    "q11_important_stock",
    "q12_priority_lines",
    "q20_excess_stock_suppliers",
    "q2_min_cost_supplier",
    "q6_forecast_revenue",
    "quality_scores",
    "quantile_histogram_merge",
    "registrable_domains",
    "registrable_domains_psl",
    "repetition_ratio",
    "reservoir_per_lang",
    "robots_rep_gate",
    "robots_url_gate",
    "schema_evolution_read",
    "skew_salted_agg",
    "skew_salted_join",
    "snapshot_diff",
    "snapshot_mean_drift",
    "snapshot_psi_drift",
    "url_normalized_dedup",
    "web_graph_pipeline",
    "aggregate_dsl",
    "ann_ivf_pq",
    "anti_join",
    "asof_attribution",
    "cm_user_counts",
    "components_distributed",
    "count_min_grid",
    "daily_locf_snapshot",
    "dedup_exact",
    "dup_ngram_fraction",
    "events_hourly",
    "field_selection",
    "grep_count",
    "grouping_sets_revenue",
    "heavy_hitter_events",
    "incremental_near_dedup",
    "join_expr_outer",
    "jpeg_ahash_roundtrip",
    "lm_quality_buckets",
    "lsh_bucket_stats",
    "minhash_lsh_pairs",
    "ngram_jaccard",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return _q.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _ordered(src: dict) -> dict:
    # Priority names not (yet) registered are skipped rather than
    # fatal: the oracle dict legitimately lacks non-SQL-expressible
    # entries, and a name may land in _PRIORITY a commit before its
    # implementation. tests/test_entry.py pins that queries() itself
    # has no such gaps at release time.
    out = {n: src[n] for n in _PRIORITY if n in src}
    out.update((n, v) for n, v in src.items() if n not in out)
    return out


def _releasing(fn: Callable) -> Callable:
    """Release the PREVIOUS query's engine-internal persists on entry.

    The driver runs all 50 checked queries in one SparkSession and never
    calls our hygiene hooks; by the time query N+1 is constructed, query
    N's result has been collected, so its tracked persists are dead
    weight (round 2 measured ~2× uniform inflation from exactly this
    accumulation). Releasing at construction time of the next query is
    safe — nothing tracked is still referenced by an un-acted plan."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from hadoop_distributed_dynamic_file_system_spark import cache

        cache.release_all()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: _releasing(f) for n, f in _ordered(dict(_q.QUERIES)).items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases)."""
    return _ordered(dict(_q.ORACLE))
