"""Scan-time record filters (SequenceFileInputFilter family).

Reference: src/mapred/org/apache/hadoop/mapred/
SequenceFileInputFilter.java — RegexFilter (:103) keeps records whose
key matches a regex; PercentFilter (:148) keeps every f-th record;
MD5Filter (:198) keeps records whose MD5(key) mod f == 0 (deterministic
hash-bucket sampling).

All compile to Catalyst filters, so they push down past projections and
(for simple predicates) into the parquet scan — at 100 TB a sampling
filter should reduce IO, not just rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def regex_filter(df: DataFrame, key_col: str, pattern: str) -> DataFrame:
    """RegexFilter: keep rows whose key matches `pattern`."""
    return df.filter(F.col(key_col).rlike(pattern))


def percent_filter(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """PercentFilter: keep every `frequency`-th record.

    The reference filters on record sequence number; a DataFrame has no
    stable row order at scale, so the deterministic analog filters on
    the key ordinal: keep rows where key % f == 0.
    """
    return df.filter((F.col(key_col).cast("bigint") % frequency) == 0)


def md5_bucket(key: Column, num_hex_digits: int = 4) -> Column:
    """Integer bucket from the leading hex digits of md5(key): one
    built-in base conversion (`conv(hex,16,10)`); the DuckDB oracle
    lacks conv and spells the same value as per-digit strpos
    arithmetic — values agree, engines differ in idiom.
    4 digits = 65536 buckets."""
    h = F.md5(key.cast("string"))
    return F.conv(F.substring(h, 1, num_hex_digits), 16, 10).cast("long")


def md5_filter(df: DataFrame, key_col: str, frequency: int) -> DataFrame:
    """MD5Filter: keep rows where md5-hash-bucket(key) % f == 0."""
    return df.filter(md5_bucket(F.col(key_col)) % frequency == 0)
