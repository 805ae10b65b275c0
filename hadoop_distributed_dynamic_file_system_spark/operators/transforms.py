"""Per-record transforms: tokenize / regex / inverse / KV parse / chains.

Reference surfaces:
- TokenCountMapper (src/mapred/org/apache/hadoop/mapred/lib/
  TokenCountMapper.java) — tokenize line, emit (word, 1); the WordCount
  kernel.
- RegexMapper (mapred/lib/RegexMapper.java:57) — emit regex group
  matches; Grep example chains it with sum + sort-desc
  (examples/Grep.java:57-84).
- InverseMapper (mapred/lib/InverseMapper.java) — emit (v, k).
- KeyValueLineRecordReader (mapred/KeyValueTextInputFormat.java) —
  split each line at the FIRST separator; a line with no separator is
  all key, empty value.
- ChainMapper/ChainReducer (mapred/lib/ChainMapper.java:50-75) —
  [MAP+ / REDUCE MAP*] pipelines; in Spark, plain function composition
  that Catalyst collapses into one stage.

All built-ins — no Python UDFs in any hot path.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spread for compute-heavy narrow pipelines
    (opt guide §2.5 "input skew: one huge unsplittable file … fix at
    the source if you can; otherwise repartition immediately after the
    read"): when the source yields fewer partitions than the session's
    parallelism — a single-row-group parquet fixture, one gzip member,
    a tiny dimension — the per-row kernel downstream (the 8-salt md5
    minhash, winnowing window mins) runs on ONE core while the rest
    idle. Pay one row-preserving round-robin shuffle to spread it.

    A real at-scale scan already carries >= parallelism partitions, so
    this is a NO-OP exactly where the extra shuffle would be corpus-
    sized — the condition, not a constant, makes it safe to leave on.
    Batch-only: never call on a streaming relation (micro-batch plans
    must stay stateless projections), and never upstream of a plan
    whose Exchange count is pinned.

    Cost/precision caveats (ADVICE r11): the partition probe via
    df.rdd forces one analysis+physical-planning pass of the upstream
    plan even when the result is a no-op — call this once per batch
    entry point, not inside loops; and on a POST-SHUFFLE input the
    probe reads the static spark.sql.shuffle.partitions, not AQE's
    runtime-coalesced count, so it can see "enough" partitions that
    AQE later collapses (conservative: it declines to add an exchange,
    never adds a corpus-sized one)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if target <= 1:
        return df  # nothing to spread onto; skip the plan-compile probe
    try:
        current = df.rdd.getNumPartitions()  # plan-only, no job
    except Exception:
        return df
    return df.repartition(target) if current < target else df


def tokenize(df: DataFrame, line_col: str, word_col: str = "word") -> DataFrame:
    """Whitespace tokenize + explode; drops empty tokens (StringTokenizer
    semantics in TokenCountMapper)."""
    return (
        df.select(F.explode(F.split(F.col(line_col), r"\s+")).alias(word_col))
        .filter(F.col(word_col) != "")
    )


def word_count(df: DataFrame, line_col: str) -> DataFrame:
    """WordCount: the reference's canonical job (examples/WordCount.java)."""
    return (
        tokenize(df, line_col)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def grep(df: DataFrame, line_col: str, pattern: str, group: int = 0) -> DataFrame:
    """Grep example (examples/Grep.java:57-84): count regex matches,
    sort descending by count. regexp_extract_all emits every match per
    line like RegexMapper's while-find loop."""
    matches = df.select(
        F.explode(
            F.regexp_extract_all(F.col(line_col), F.lit(pattern), F.lit(group))
        ).alias("match")
    )
    return (
        matches.groupBy("match")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("match"))
    )


def inverse(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """InverseMapper: swap key and value columns."""
    return df.select(F.col(value_col).alias(key_col + "_v"), F.col(key_col))


def parse_kv_line(
    df: DataFrame, line_col: str, sep: str = "\t",
    key_name: str = "key", value_name: str = "value",
) -> DataFrame:
    """KeyValueLineRecordReader: split at FIRST separator; no separator
    → whole line is key, value empty (reference edge case)."""
    line = F.col(line_col)
    idx = F.instr(line, sep)
    return df.select(
        F.when(idx > 0, F.substring_index(line, sep, 1)).otherwise(line).alias(key_name),
        F.when(idx > 0, F.expr(f"substring({line_col}, instr({line_col}, '{sep}') + {len(sep)})"))
        .otherwise(F.lit("")).alias(value_name),
    )


def chain(*stages: Callable[[DataFrame], DataFrame]) -> Callable[[DataFrame], DataFrame]:
    """ChainMapper/ChainReducer analog: compose DataFrame transforms.
    Catalyst collapses adjacent projections — the per-link overhead the
    reference paid (serialize between chained mappers) doesn't exist."""
    def run(df: DataFrame) -> DataFrame:
        return reduce(lambda acc, f: f(acc), stages, df)
    return run
