"""Field-selection operator: `cut`-style projection/reordering of
separator-delimited fields.

Reference: src/mapred/org/apache/hadoop/mapred/lib/
FieldSelectionMapReduce.java:45-58 (spec syntax) and :182-249 (the
selector). Spec is ``keyFields:valueFields`` where each side is a
comma-separated list of 0-indexed field specs: ``n`` (one field),
``n-m`` (closed range), ``n-`` (open range to end of record). Fields
are produced by splitting the line on a separator (default tab,
`mapred.data.field.separator`); selected fields are re-joined with the
same separator. Fields referenced past the end of a short record are
skipped (reference behavior).

Spark-first: everything compiles to `split` / `slice` / `concat` /
`array_join` — pure Catalyst expressions, whole-stage codegen, no UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldRange:
    start: int  # 0-indexed, inclusive
    end: int | None  # inclusive; None = open-ended


def parse_field_spec_list(spec: str) -> list[FieldRange]:
    """Parse one side of the spec: ``0-2,4,5-`` → ranges."""
    out: list[FieldRange] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "-" in part:
            s, e = part.split("-", 1)
            start = int(s) if s else 0
            end = int(e) if e else None
            out.append(FieldRange(start, end))
        else:
            n = int(part)
            out.append(FieldRange(n, n))
    return out


def parse_field_spec(spec: str) -> tuple[list[FieldRange], list[FieldRange]]:
    """Parse the full ``keySpec:valueSpec`` string."""
    if ":" in spec:
        k, v = spec.split(":", 1)
    else:
        k, v = spec, ""
    return parse_field_spec_list(k), parse_field_spec_list(v)


def _ranges_to_array(fields: Column, ranges: list[FieldRange]) -> Column:
    """Concatenate the selected slices of the split-field array."""
    pieces = []
    for r in ranges:
        if r.end is None:
            # slice length capped by array size; negative size not allowed
            length = F.greatest(F.size(fields) - F.lit(r.start), F.lit(0))
            pieces.append(F.slice(fields, r.start + 1, length))
        else:
            pieces.append(F.slice(fields, r.start + 1, r.end - r.start + 1))
    if not pieces:
        return F.array().cast("array<string>")
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]


def select_fields(
    df: DataFrame,
    line_col: str,
    spec: str,
    sep: str = "\t",
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """FieldSelectionMapReduce as a projection: line → (key, value).

    The split lands in a bound column first so key and value slices
    read the same array (inline, the split would run once per side)."""
    key_ranges, value_ranges = parse_field_spec(spec)
    fields = F.col("_fields")
    return df.withColumn(
        "_fields", F.split(F.col(line_col), re.escape(sep), -1)
    ).select(
        F.array_join(_ranges_to_array(fields, key_ranges), sep).alias(key_name),
        F.array_join(_ranges_to_array(fields, value_ranges), sep).alias(value_name),
    )
