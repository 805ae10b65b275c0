"""Data-model mapping: the reference's type system → Spark SQL types.

Reference (SURVEY §1.3): Writable classes (src/core/org/apache/hadoop/
io/*), Record I/O DDL records (src/core/org/apache/hadoop/record/), and
dynamic wrappers (ObjectWritable/GenericWritable/MapWritable). Spark's
StructType is the direct analog of a Record I/O record; parquet
replaces SequenceFile as the container (SURVEY §1.4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Writable class → Spark DataType (SURVEY §1.3 table, verified against
# src/core/org/apache/hadoop/io/*.java)
WRITABLE_TO_SPARK: dict[str, T.DataType] = {
    "BooleanWritable": T.BooleanType(),
    "ByteWritable": T.ByteType(),
    "IntWritable": T.IntegerType(),
    "VIntWritable": T.IntegerType(),  # zig-zag varint = storage detail
    "LongWritable": T.LongType(),
    "VLongWritable": T.LongType(),
    "FloatWritable": T.FloatType(),
    "DoubleWritable": T.DoubleType(),
    "Text": T.StringType(),  # io/Text.java:47 (UTF-8)
    "UTF8": T.StringType(),  # deprecated legacy string
    "MD5Hash": T.BinaryType(),  # 16-byte digest
    "BytesWritable": T.BinaryType(),
    "NullWritable": T.NullType(),
}


def array_of(element: str) -> T.ArrayType:
    """ArrayWritable(element class) analog."""
    return T.ArrayType(WRITABLE_TO_SPARK[element])


def map_writable() -> T.MapType:
    """MapWritable (heterogeneous runtime-typed) — modelled as a string
    map; truly dynamic unions should become structs of nullable fields
    (SURVEY §1.3 ObjectWritable row)."""
    return T.MapType(T.StringType(), T.StringType())


def record(fields: dict[str, T.DataType | str]) -> T.StructType:
    """Record I/O DDL analog: a `class { ... }` block compiles to a
    StructType the way rcc compiled it to a Java/C++ record
    (record/compiler/*). Values may be Writable class names or Spark
    DataTypes; nest records for nested classes, `vector<T>` ≙
    array_of, `map<K,V>` ≙ MapType, `buffer` ≙ BinaryType."""
    out = []
    for name, t in fields.items():
        dtype = WRITABLE_TO_SPARK[t] if isinstance(t, str) else t
        out.append(T.StructField(name, dtype, nullable=True))
    return T.StructType(out)


# KV-pair dataset: the fundamental abstraction (SURVEY §1.1) — a job's
# (key class, value class) declaration as a two-column schema.
def kv_schema(key_class: str, value_class: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("key", WRITABLE_TO_SPARK[key_class], nullable=False),
            T.StructField("value", WRITABLE_TO_SPARK[value_class], nullable=True),
        ]
    )


# --------------------------------------------------------------- wire forms
# Record I/O's pluggable archives (record/CsvRecordInput.java,
# CsvRecordOutput.java, XmlRecordInput.java, XmlRecordOutput.java): the
# same DDL record serialized as CSV or XML text instead of binary.
# Spark-first: the built-in to_csv/from_csv and to_xml/from_xml
# expressions ARE those archives — JVM-side, codegen'd, schema-driven —
# so a record's wire form is one Column expression, not a custom
# serializer class per record type.

def record_to_csv(*cols, options: dict[str, str] | None = None):
    """CsvRecordOutput analog: serialize record fields to one CSV line.
    Pass columns (or a single struct column) in field order."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if len(cols) == 1 and isinstance(cols[0], Column):
        struct = cols[0]
    else:
        struct = F.struct(*cols)
    return F.to_csv(struct, options or {})


def record_from_csv(col, schema: T.StructType | str, options: dict[str, str] | None = None):
    """CsvRecordInput analog: parse a CSV line back into the DDL record
    (a struct column; `.select("rec.*")` flattens it)."""
    from pyspark.sql import functions as F

    return F.from_csv(col, schema if isinstance(schema, str) else schema.simpleString(),
                      options or {})


def record_to_xml(*cols, row_tag: str = "record",
                  options: dict[str, str] | None = None):
    """XmlRecordOutput analog: serialize record fields to one XML
    element whose children are the fields."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if len(cols) == 1 and isinstance(cols[0], Column):
        struct = cols[0]
    else:
        struct = F.struct(*cols)
    return F.to_xml(struct, dict(options or {}, rowTag=row_tag))


def record_from_xml(col, schema: T.StructType, row_tag: str = "record",
                    options: dict[str, str] | None = None):
    """XmlRecordInput analog: parse the XML element back to the record."""
    from pyspark.sql import functions as F

    return F.from_xml(col, schema, dict(options or {}, rowTag=row_tag))
