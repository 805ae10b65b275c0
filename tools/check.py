"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() twin on
the same sf dir, compares row count, sorted column names, and values
(exact for ints/strings/timestamps, tiny-tolerance report for floats so
we can see whether rounding discipline held).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v):
    """Type-tagged canonical form.

    The driver's value-hash is type-sensitive (Arrow-level): DuckDB
    sum(BIGINT) -> HUGEINT surfaces as Decimal while Spark emits int64,
    and a bare str(v) would canonicalize both to the same text — the
    exact class of mismatch round 1 shipped four times. Tag every cell
    with a type prefix so Decimal(42) != int 42 here too.
    """
    if v is None:
        return "∅"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return f"i:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # driver-unknown float canon; we demand near-exactness and report diffs
        return f"f:{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (bytes, bytearray)):  # Spark binary -> bytearray, DuckDB -> bytes
        return f"b:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def arrow_type_class(t):
    """Coarse Arrow-type class for schema comparison.

    The driver hashes Arrow-level values, so DuckDB HUGEINT (which
    surfaces as decimal128(38,0) at the Arrow layer) must NOT be
    conflated with Spark's int64 — duckdb's Python fetchall() converts
    HUGEINT to plain int, which is exactly the blind spot that let the
    round-4 `bpe_pair_counts` oracle bug pass locally and fail at the
    driver. We therefore compare per-column type CLASSES from the two
    Arrow schemas: decimal vs int vs float etc. Widths inside a class
    (int32/int64, float32/float64, timestamp tz) are normalized because
    the driver demonstrably tolerates those (green temporal rows).
    """
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_class(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def spark_type_class(dt):
    """Map a Spark DataType to the same class space as arrow_type_class."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # both surface as Arrow timestamp[us] (tz presence normalized
        # away in arrow_type_class — driver-green temporal rows show
        # the driver tolerates tz/ntz)
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_class(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.NullType):
        return "null"
    return dt.simpleString()


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon_cell(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def nonscalar_cols(spark_df):
    """Columns the driver's value-hash cannot canonicalize.

    The driver sorts results via pandas ``sort_values`` → factorize,
    which raises ``TypeError: unhashable type: 'list'`` on any
    Array/Map/Struct cell — the exact failure that kept
    ``jl_projection`` and ``int8_quantized_embeddings`` red in r5
    while this local gate (whose canon_cell handles lists) passed
    them. Any registered query must emit scalar-only output; digest
    arrays with posexplode / concat_ws before returning.
    """
    from pyspark.sql import types as T

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def compare(name, spark_df, duck_tbl):
    """Compare a Spark DataFrame against a DuckDB Arrow table.

    duck_tbl is a pyarrow.Table (fetch_arrow_table), NOT fetchall()
    rows — the Python fetch path collapses HUGEINT to int and hides
    the decimal128-vs-int64 class the driver's Arrow-level hash fails.
    """
    bad = nonscalar_cols(spark_df)
    if bad:
        return [
            f"non-scalar output column(s) {bad}: the driver's hash "
            "path cannot canonicalize Array/Map/Struct cells — "
            "posexplode or concat_ws them to scalars"
        ]
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = [c.lower() for c in duck_tbl.schema.names]
    duck_rows = [
        tuple(d[c] for c in duck_tbl.schema.names) for d in duck_tbl.to_pylist()
    ]
    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"schema: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems
    d_types = {
        c.lower(): arrow_type_class(duck_tbl.schema.field(i).type)
        for i, c in enumerate(duck_tbl.schema.names)
    }
    s_types = {f.name.lower(): spark_type_class(f.dataType) for f in spark_df.schema.fields}
    for c in sorted(s_cols):
        if s_types[c] != d_types[c] and "null" not in (s_types[c], d_types[c]):
            problems.append(
                f"type[{c}]: spark={s_types[c]} duck(arrow)={d_types[c]}"
                " (driver hashes Arrow types — CAST the oracle)"
            )
    if problems:
        return problems
    if len(s_rows) != len(duck_rows):
        problems.append(f"rowcount: spark={len(s_rows)} duck={len(duck_rows)}")
    sc, s_canon = canon_rows(s_cols, s_rows)
    dc, d_canon = canon_rows(d_cols, duck_rows)
    if s_canon != d_canon:
        sset, dset = set(s_canon), set(d_canon)
        only_s = list(sset - dset)[:3]
        only_d = list(dset - sset)[:3]
        problems.append(f"values differ; cols={sc}")
        for r in only_s:
            problems.append(f"  spark-only: {r}")
        for r in only_d:
            problems.append(f"  duck-only : {r}")
    return problems


def oracle_runner(con, texts):
    """`run(text)` -> the Arrow table of oracle SQL `text` on `con`. A
    text that occurs more than once in `texts` runs once: its result is
    kept until `run` has returned it that many times; no other result is
    kept."""
    left = Counter(texts)
    kept = {}

    def run(text):
        tbl = kept.pop(text, None)
        if tbl is None:
            tbl = con.execute(text).fetch_arrow_table()
        left[text] -= 1
        if left[text] > 0:
            kept[text] = tbl
        return tbl

    return run


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    oracle = oracle_runner(con, [oracles[n] for n in qs if n in oracles and (not only or n in only)])
    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                bad = nonscalar_cols(df)
                if bad:
                    n_fail += 1
                    print(
                        f"  ✗ {name}: rows-only but non-scalar output "
                        f"column(s) {bad} (registry contract: scalar-only)"
                    )
                    continue
                cnt = df.count()
                print(f"  ~ {name}: rows-only check, {cnt} rows ({time.time()-t0:.1f}s)")
                n_skip += 1
                continue
            duck_tbl = oracle(oracles[name])
            problems = compare(name, df, duck_tbl)
            if problems:
                n_fail += 1
                print(f"  ✗ {name} ({time.time()-t0:.1f}s)")
                for p in problems:
                    print(f"      {p}")
            else:
                n_pass += 1
                print(f"  ✓ {name}: {duck_tbl.num_rows} rows ({time.time()-t0:.1f}s)")
        except Exception:
            n_fail += 1
            print(f"  ✗ {name}: EXCEPTION")
            traceback.print_exc(limit=5)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
