"""Driver-facing query inventory: each SURVEY.md §2 capability as a
(spark_fn, oracle_sql) pair over the testdata tables.

Conventions that make the DuckDB hash-compare deterministic:
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded (sum→2dp, avg/stddev→6dp) so engine-
  order summation noise (~1e-10 relative) can't flip the value hash;
- timestamp-returning queries pin the session timezone to UTC;
- rankings always carry a unique tiebreak column.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cache import tracked_persist
from .catalog import read_parquet

from .operators import aggregate as agg_ops
from .operators import fieldsel, joins, sampling, sort, transforms
from .sources import text as text_src

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read nanos as long and floor-truncate to micros —
    the same truncation DuckDB applies, so oracles agree exactly."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if dict(e.dtypes).get("ts") == "bigint":
        # TIMESTAMP_NTZ via pure arithmetic: no session/host timezone
        # participates (timestamp_micros() would yield LTZ, whose
        # Python collection renders in the *driver host* timezone).
        e = e.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    return e


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # Duplicate registrations are a silent-overwrite bug (round 6
        # nearly shipped a new query shadowing round 3's
        # source_overlap_matrix — the old query would have vanished
        # from the registry without any test noticing).
        if name in QUERIES:
            raise ValueError(f"query {name!r} registered twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


# =====================================================================
# Aggregation family (SURVEY §2.4)
# =====================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                                                                            AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE)            AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               AS DECIMAL(18,6))), 2) AS DOUBLE)            AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → groupBy → 8 aggregates.

    The reference computes this shape with a combiner + sort-based
    reduce (mapred/lib/LongSumReducer.java, aggregate/*); here Catalyst
    plans partial+final hash aggregation after one shuffle on the
    2-value group key, with the shipdate filter pushed to parquet.
    Money sums go through per-term DECIMAL casts: double summation
    order differs between engines and flips the rounded cent at scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = "decimal(18,6)"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(dec)), 2)
            .cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price.cast(dec)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum((disc_price * (1 + F.col("l_tax"))).cast(dec)), 2)
            .cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "aggregate_dsl",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) AS BIGINT)      AS sum_qty,
           max(l_orderkey)                      AS max_okey,
           min(l_orderkey)                      AS min_okey,
           max(l_linestatus)                    AS max_status,
           min(l_linestatus)                    AS min_status,
           round(sum(l_extendedprice), 2)       AS sum_price,
           count(DISTINCT l_partkey)            AS uniq_parts,
           least(count(DISTINCT l_suppkey), 5)  AS uniq_supp_bounded
    FROM lineitem GROUP BY l_returnflag
    """,
)
def aggregate_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-function ValueAggregator registry driven by descriptor
    strings (ValueAggregatorBaseDescriptor.java:33-47 DSL analog)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.aggregate(
        li,
        ["l_returnflag"],
        [
            "LongValueSum:sum_qty:l_quantity",
            "LongValueMax:max_okey:l_orderkey",
            "LongValueMin:min_okey:l_orderkey",
            "StringValueMax:max_status:l_linestatus",
            "StringValueMin:min_status:l_linestatus",
            "DoubleValueSum:sum_price:l_extendedprice",
            "UniqValueCount:uniq_parts:l_partkey",
            "UniqValueCount~5:uniq_supp_bounded:l_suppkey",
        ],
    )
    return out.withColumn("sum_price", F.round("sum_price", 2))


@query(
    "value_histogram",
    """
    SELECT l_returnflag,
           count(*)                          AS hist_num_items,
           min(n)                            AS hist_min,
           quantile_cont(n, 0.5)             AS hist_median,
           max(n)                            AS hist_max,
           round(avg(n), 6)                  AS hist_mean,
           round(stddev_pop(n), 6)           AS hist_stddev
    FROM (
      SELECT l_returnflag, l_quantity AS item, count(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) GROUP BY l_returnflag
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram report (ValueHistogram.java:76-134): stats over
    per-item counts; exact interpolated median (see operators.aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.histogram_report(li, ["l_returnflag"], "l_quantity")
    return out.withColumn("hist_mean", F.round("hist_mean", 6)).withColumn(
        "hist_stddev", F.round("hist_stddev", 6)
    )


@query(
    "histogram_detail",
    """
    SELECT l_returnflag, l_quantity AS item, count(*) AS item_count
    FROM lineitem GROUP BY l_returnflag, l_quantity
    """,
)
def histogram_detail_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram detailed (item, count) list (ValueHistogram.java:168)."""
    return agg_ops.histogram_detail(_t(spark, sf_dir, "lineitem"), ["l_returnflag"], "l_quantity")


# =====================================================================
# Transform family (SURVEY §2.3, §2.8)
# =====================================================================

@query(
    "wordcount",
    r"""
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents
    ) WHERE word <> '' GROUP BY word
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount (examples/WordCount.java, TokenCountMapper): the
    reference's canonical job, as tokenize→explode→count."""
    return transforms.word_count(_t(spark, sf_dir, "documents"), "text")


@query(
    "grep_count",
    r"""
    SELECT match, count(*) AS cnt FROM (
      SELECT unnest(regexp_extract_all(text, '\bs[a-z]+', 0)) AS match FROM documents
    ) GROUP BY match ORDER BY cnt DESC, match ASC
    """,
)
def grep_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep (examples/Grep.java:57-84): regex extract-all → count →
    sort desc; RegexMapper + LongSumReducer + sort-by-count job chain."""
    return transforms.grep(_t(spark, sf_dir, "documents"), "text", r"\bs[a-z]+")


@query(
    "field_selection",
    """
    SELECT  o_orderkey::VARCHAR || '|' || o_orderstatus                      AS key,
            o_orderpriority || '|' || o_custkey::VARCHAR || '|' ||
            strftime(o_orderdate, '%Y-%m-%d')                                AS value
    FROM orders
    """,
)
def field_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FieldSelectionMapReduce spec '0,1:3,2,4-' over synthesized
    '|'-separated lines (FieldSelectionMapReduce.java:182-249)."""
    o = _t(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderpriority"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ).alias("line")
    )
    return fieldsel.select_fields(lines, "line", "0,1:3,2,4-", sep="|")


@query(
    "kv_parse",
    """
    SELECT key, count(*) AS cnt, CAST(sum(length(value)) AS BIGINT) AS sum_len FROM (
      SELECT CASE WHEN strpos(line, chr(9)) > 0
                  THEN substr(line, 1, strpos(line, chr(9)) - 1) ELSE line END AS key,
             CASE WHEN strpos(line, chr(9)) > 0
                  THEN substr(line, strpos(line, chr(9)) + 1) ELSE '' END      AS value
      FROM (SELECT lang || chr(9) || source || chr(9) || n_chars::VARCHAR AS line
            FROM documents)
    ) GROUP BY key
    """,
)
def kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyValueLineRecordReader: split at FIRST tab; later tabs stay in
    the value (KeyValueTextInputFormat.java semantics)."""
    d = _t(spark, sf_dir, "documents")
    lines = d.select(
        F.concat_ws("\t", F.col("lang"), F.col("source"), F.col("n_chars").cast("string")).alias("line")
    )
    kv = transforms.parse_kv_line(lines, "line", "\t")
    return kv.groupBy("key").agg(
        F.count("*").alias("cnt"), F.sum(F.length("value")).alias("sum_len")
    )


# =====================================================================
# Join family (SURVEY §2.5)
# =====================================================================

def _kv_sources(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Three KV sources with overlapping-but-different key sets, the
    TestDatamerge.java:77-160 fixture shape mapped onto testdata."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.select(F.col("c_custkey").alias("k"), F.col("c_name").alias("v"))
    b = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .select(F.col("o_custkey").alias("k"), F.col("n").cast("string").alias("v"))
    )
    c = cust.filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("v")
    )
    return {"a": a, "b": b, "c": c}


_KV_SQL = {
    "a": "SELECT c_custkey AS k, c_name AS v FROM customer",
    "b": "SELECT o_custkey AS k, count(*)::VARCHAR AS v FROM orders GROUP BY o_custkey",
    "c": "SELECT c_custkey AS k, c_mktsegment AS v FROM customer WHERE c_acctbal > 0",
}


@query(
    "join_expr_inner",
    f"""
    SELECT a.k AS k, a.v AS v0, b.v AS v1, c.v AS v2
    FROM ({_KV_SQL['a']}) a
    JOIN ({_KV_SQL['b']}) b ON a.k = b.k
    JOIN ({_KV_SQL['c']}) c ON a.k = c.k
    """,
)
def join_expr_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite join language: inner(a,b,c) — emit iff all sources
    have the key (InnerJoinRecordReader.java:30,41; Parser.java grammar)."""
    srcs = _kv_sources(spark, sf_dir)
    return joins.compile_join_expr("inner(tbl(a),tbl(b),tbl(c))", srcs.__getitem__)


@query(
    "join_expr_outer",
    f"""
    SELECT coalesce(a.k, b.k) AS k, a.v AS v0, b.v AS v1
    FROM ({_KV_SQL['a']}) a
    FULL OUTER JOIN ({_KV_SQL['b']}) b ON a.k = b.k
    """,
)
def join_expr_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """outer(a,b): full outer with NULL absent slots
    (OuterJoinRecordReader.java:30,41; TupleWritable absent bits)."""
    srcs = _kv_sources(spark, sf_dir)
    return joins.compile_join_expr("outer(tbl(a),tbl(b))", srcs.__getitem__)


@query(
    "join_expr_override",
    f"""
    SELECT coalesce(a.k, b.k) AS k, coalesce(b.v, a.v) AS v0
    FROM ({_KV_SQL['a']}) a
    FULL OUTER JOIN ({_KV_SQL['b']}) b ON a.k = b.k
    """,
)
def join_expr_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """override(a,b): rightmost source defining the key wins
    (OverrideRecordReader.java:36,49 — 'prefer newer source')."""
    srcs = _kv_sources(spark, sf_dir)
    return joins.compile_join_expr("override(tbl(a),tbl(b))", srcs.__getitem__)


@query(
    "revenue_per_nation",
    """
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 4-way join + agg. Dimension sides (customer,
    nation) are broadcast — no shuffle touches lineitem except the
    final group-by; at 100 TB only the fact-fact join (lineitem⋈orders)
    shuffles, on the shared orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi — additive surface (SURVEY §2.5 'missing' row)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return joins.semi_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@query(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti — additive surface."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return joins.anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


# =====================================================================
# Sort / top-k family (SURVEY §2.6)
# =====================================================================

@query(
    "secondary_sort",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
)
def secondary_sort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort (examples/SecondarySort.java): partition by the
    natural key, order values within the group; rank makes the order
    observable to the hash compare."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    return sort.secondary_sort(o, ["o_custkey"], ["o_orderdate", "o_orderkey"], "rn")


@query(
    "total_order_sort",
    """
    SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders
    """,
)
def total_order_sort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TotalOrderPartitioner-style global sort with a materialized
    total-order rank. Uses sort.global_rank — range shuffle +
    per-partition index + broadcast prefix-sum of partition counts —
    so the checked artifact itself is the scale-safe plan (no
    single-task WindowExec)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return sort.global_rank(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], "rank")


@query(
    "top_k",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (per-partition heaps), the
    scalable form of the reference's single-reducer head idiom."""
    o = _t(spark, sf_dir, "orders")
    return sort.top_k(o, 10, F.desc("o_totalprice"), F.asc("o_orderkey")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "top_k_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def top_k_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return sort.top_k_per_group(
        o, ["o_custkey"], 3, [F.desc("o_totalprice"), F.asc("o_orderkey")], "rk"
    )


@query(
    "sort_key_spec",
    """
    SELECT line, row_number() OVER (ORDER BY f2n DESC, f1, line) AS rank FROM (
      SELECT line,
             coalesce(try_cast(regexp_extract(string_split(line, ' ')[2],
                      '^\\s*(-?\\d+\\.?\\d*)', 1) AS DOUBLE), 0.0) AS f2n,
             string_split(line, ' ')[1] AS f1
      FROM (SELECT o_orderstatus || ' ' || o_totalprice::VARCHAR || ' ' ||
                   o_orderkey::VARCHAR AS line FROM orders)
    )
    """,
)
def sort_key_spec_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyFieldBasedComparator: Unix `sort -k2,2nr -k1,1` over
    space-separated lines (KeyFieldBasedComparator.java:35,57-94)."""
    o = _t(spark, sf_dir, "orders")
    lines = o.select(
        F.concat_ws(
            " ",
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
            F.col("o_orderkey").cast("string"),
        ).alias("line")
    )
    cols = sort.key_spec_sort_columns("line", "-k2,2nr -k1,1", sep=" ")
    return sort.global_rank(lines, [*cols, F.asc("line")], "rank")


# =====================================================================
# Sampling filters (SURVEY §2.1 SequenceFileInputFilter)
# =====================================================================

@query(
    "percent_filter",
    """
    SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)
def percent_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kept = sampling.percent_filter(li, "l_orderkey", 10)
    return kept.agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price")
    )


@query(
    "md5_filter",
    """
    SELECT count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS sum_qty FROM (
      SELECT *,
        ((((strpos('0123456789abcdef', substr(md5(l_orderkey::VARCHAR), 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(l_orderkey::VARCHAR), 2, 1)) - 1)) * 16
         + (strpos('0123456789abcdef', substr(md5(l_orderkey::VARCHAR), 3, 1)) - 1)) * 16
         + (strpos('0123456789abcdef', substr(md5(l_orderkey::VARCHAR), 4, 1)) - 1)) AS bucket
      FROM lineitem
    ) WHERE bucket % 16 = 0
    """,
)
def md5_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD5Filter (SequenceFileInputFilter.java:198): deterministic
    hash-bucket sampling, portable md5-hex-digit arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    kept = sampling.md5_filter(li, "l_orderkey", 16)
    return kept.agg(
        F.count("*").alias("cnt"), F.sum(F.col("l_quantity").cast("long")).alias("sum_qty")
    )


# =====================================================================
# Set operations (SURVEY §2.7)
# =====================================================================

@query(
    "set_ops",
    """
    SELECT k, 'both' AS tag FROM (
      SELECT DISTINCT o_custkey AS k FROM orders
      INTERSECT
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000
    )
    UNION ALL
    SELECT k, 'only_big_bal' AS tag FROM (
      SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000
      EXCEPT
      SELECT DISTINCT o_custkey AS k FROM orders
    )
    """,
)
def set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except (distinct via UniqApp idiom §2.7)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 1000).select(
        F.col("c_custkey").alias("k")
    )
    both = o.intersect(c).withColumn("tag", F.lit("both"))
    only = c.exceptAll(o).distinct().withColumn("tag", F.lit("only_big_bal"))
    return both.unionByName(only)


@query(
    "rollup_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via rollup — the §2.4 'missing in the
    reference' row (no grouping-sets anywhere in MapReduce; users ran
    one job per level). One pass, Catalyst expands the grouping sets."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n",
        )
    )


@query(
    "cube_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations via cube — like rollup_revenue a
    §2.4 'missing in the reference' additive row, but cube also emits
    the (ALL, linestatus) slice a rollup skips. Still one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n",
        )
    )


# =====================================================================
# SQL surface + MapFile-style lookup (SURVEY §1.4, §7 step 10)
# =====================================================================

_Q3_SQL = """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


@query("sql_order_revenue", _Q3_SQL)
def sql_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: all tables registered as views, the query
    text IS the plan (identical string runs on the DuckDB oracle).
    TPC-H Q3 shape — two selective pushed filters + 3-way join + agg;
    customer broadcasts, the lineitem⋈orders shuffle carries only
    post-filter rows. Each revenue term is cast to DECIMAL before the
    sum: double summation order differs between engines and flips the
    last cent at round-to-2dp boundaries (seen at sf0.1)."""
    _utc(spark)
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


@query(
    "point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey IN (42, 4242, 42424)
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapFile.Reader.get analog (io/MapFile.java): keyed random lookup
    becomes a pushed IN-filter over (sorted) parquet — row-group min/max
    stats prune everything else, the columnar twin of MapFile's sparse
    index."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey").isin(42, 4242, 42424)).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


# =====================================================================
# TPC-H derived shapes: subquery / outer-agg coverage the MapReduce
# reference expressed as chained jobs (data_join + custom reducers);
# Catalyst plans them as single DAGs with semi/anti joins.
# =====================================================================

@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with an inequality — planned
    as a LEFT SEMI join on the equi-key with the date comparison as a
    residual condition (one shuffle on orderkey; no subquery re-scan
    per row, which is what the reference's per-record lookups did)."""
    _utc(spark)
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with a residual predicate, then
    a two-level aggregation (count over null-extended rows, histogram
    of the counts). The second groupBy shuffles only (c_count, 1) pairs."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    j = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q18_large_orders",
    """
    SELECT c_name, o_orderkey, CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery. The subquery
    aggregates lineitem once (partial agg map-side), keeps only the
    qualifying keys, and semi-joins them back — the re-aggregation then
    runs on the filtered stream. customer is broadcast-sized here; at
    100 TB the c_custkey join falls back to shuffle and stays correct."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big_keys = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big_keys, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "o_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).cast("double").alias("sum_qty"))
    )


@query(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#15' AND p_type NOT LIKE 'MEDIUM%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN (anti join; the key side is non-null so
    null-aware semantics coincide) + count(DISTINCT) under groupBy —
    Catalyst expands the distinct into a two-phase aggregate, so the
    distinct set is partial-deduplicated map-side before the shuffle."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15") & (~F.col("p_type").like("MEDIUM%"))
    ).select("p_partkey", "p_brand", "p_type")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 2) AS DOUBLE)
           AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#12'
      AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 6)
                        FROM lineitem WHERE l_partkey = p_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-avg subquery (avg quantity of
    THIS part) gating each row. Decorrelated as a window avg over
    partitionBy(l_partkey) on the brand-filtered stream — one shuffle,
    no per-part re-scan, no self-join. The brand filter commutes with
    the per-part avg because it constrains the part, not the lineitem,
    so filtering first shrinks the shuffle by the brand selectivity.
    The threshold is rounded to 6dp in both engines so double avg
    summation-order noise cannot flip the comparison."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    brand_li = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        brand_li.withColumn("qty_thr", F.round(0.2 * F.avg("l_quantity").over(w), 6))
        .filter(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")) / 7.0, 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "q21_sole_fault_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
    GROUP BY s_name
    """,
)
def q21_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (receipt/commit dates absent from this schema, so
    l_returnflag='R' stands in as the fault marker): for finished orders,
    suppliers who were the ONLY one to return items on a multi-supplier
    order. Correlated EXISTS -> left-semi self-join on orderkey with the
    supplier inequality as residual; NOT EXISTS -> left-anti. Both
    shuffle on l_orderkey, so AQE can reuse the exchange; nation is a
    broadcast dim."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    faulted = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        faulted.join(o, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "q22_dormant_customers",
    """
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (SELECT round(avg(c_acctbal), 6) FROM customer
                       WHERE c_acctbal > 0.0
                         AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-09-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nationkey stands in for the phone country code;
    every synthetic customer has SOME order, so dormancy = no order
    since 2000-09-01): above-average-balance customers in selected
    countries with no recent order. The global scalar avg is a 1-row
    aggregate broadcast-crossed into the stream; the NOT EXISTS is a
    left-anti join against orders filtered by the pushed date predicate
    and projected to o_custkey only."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    thr = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.round(F.avg("c_acctbal"), 6).alias("bal_thr"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-09-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("bal_thr"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("totacctbal"),
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE revenue view + scalar-max subquery over the
    same view. The revenue aggregate (small: one row per supplier) is
    persisted so the max branch and the equality filter read it once
    instead of re-scanning lineitem; the max is a broadcast 1-row cross
    join. Equality on a rounded decimal-sum-derived double is exact in
    both engines (decimal summation is order-independent)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    rev = tracked_persist(rev, eager=False)
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# =====================================================================
# Heterogeneous inputs / UDAF / bad records / pipe (SURVEY §2.1, §2.3,
# §2.10, §3.3)
# =====================================================================

@query(
    "multi_input_union",
    """
    SELECT c_name AS name, c_nationkey AS nationkey, round(c_acctbal, 2) AS bal,
           NULL::BIGINT AS suppkey, 'customer' AS source
    FROM customer
    UNION ALL
    SELECT s_name, s_nationkey, NULL, s_suppkey, 'supplier' FROM supplier
    """,
)
def multi_input_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultipleInputs (mapred/lib/MultipleInputs.java:43-65): per-path
    readers → tagged union; columns absent from a source become NULLs
    (DelegatingInputFormat + TupleWritable absent slots)."""
    readers = {
        "customer": lambda s: _t(s, sf_dir, "customer").select(
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nationkey"),
            F.round("c_acctbal", 2).alias("bal"),
        ),
        "supplier": lambda s: _t(s, sf_dir, "supplier").select(
            F.col("s_name").alias("name"),
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
        ),
    }
    return text_src.multiple_inputs(spark, readers).select(
        "name", "nationkey", "bal", "suppkey", "source"
    )


@query(
    "udaf_geomean",
    """
    SELECT l_returnflag,
           round(exp(avg(ln(l_extendedprice))), 4) AS geomean_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UserDefinedValueAggregatorDescriptor analog (mapred/lib/aggregate/
    UserDefinedValueAggregatorDescriptor.java): a user aggregation
    function plugged into the grouped-agg surface. Arrow-batched
    GROUPED_AGG pandas UDF — the 100 TB path for custom aggregates the
    built-in F.* can't express (geometric mean here as the example)."""
    from .operators.udaf import count_agg, geomean

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(geomean("l_extendedprice"), 4).alias("geomean_price"),
        count_agg("l_extendedprice").alias("n"),
    )


@query(
    "bad_records_skip",
    """
    SELECT count(*) AS good, round(sum(price), 2) AS sum_price FROM (
      SELECT try_cast(
        CASE WHEN o_orderkey % 7 = 0 THEN 'garbage' ELSE o_totalprice::VARCHAR END
        AS DOUBLE) AS price
      FROM orders
    ) WHERE price IS NOT NULL
    """,
)
def bad_records_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkipBadRecords analog (mapred/SkipBadRecords.java:51): corrupt
    records are skipped, not fatal. Spark-first: PERMISSIVE parse via
    try_cast — a null, not an exception, per bad record; the job keeps
    its throughput (no task re-execution binary search needed)."""
    o = _t(spark, sf_dir, "orders")
    dirty = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("garbage"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("raw")
    )
    parsed = dirty.select(F.col("raw").try_cast("double").alias("price"))
    return parsed.filter(F.col("price").isNotNull()).agg(
        F.count("*").alias("good"), F.round(F.sum("price"), 2).alias("sum_price")
    )


@query(
    "crash_skip",
    """
    SELECT count(*) AS good, CAST(sum(text_len) AS BIGINT) AS sum_len FROM (
      SELECT length(text) AS text_len FROM documents WHERE doc_id % 97 <> 0
    )
    """,
)
def crash_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SkipBadRecords crash-skip (mapred/SkipBadRecords.java:51,
    SortedRanges.java): user map code that RAISES on certain records is
    not fatal — the batch is bisected to isolate the crashing rows,
    which land in a quarantine column; the survivors keep flowing. The
    oracle is the equivalent filter, because the crash predicate here
    is deterministic (doc_id % 97 == 0 → the user fn raises)."""
    from .operators import skipbad

    def user_fn(pdf):
        if (pdf["doc_id"] % 97 == 0).any():
            raise ValueError("poison record")
        return pdf.assign(text_len=pdf["text"].str.len())[["doc_id", "text_len"]]

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clean, _quarantine = skipbad.split_skipped(
        skipbad.map_with_skip(d, user_fn, "doc_id bigint, text_len bigint")
    )
    return clean.agg(
        F.count("*").alias("good"), F.sum("text_len").alias("sum_len")
    )


@query(
    "pipe_translate",
    """
    SELECT upper(text) AS line, count(*) AS cnt
    FROM documents GROUP BY upper(text)
    """,
)
def pipe_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadoop Streaming parity (PipeMapper, contrib/streaming/.../
    PipeMapper.java:35,83): documents.text piped through an external
    `tr 'a-z' 'A-Z'` process, one exec per partition, stdout split at
    the first tab (none here → whole line is the key). The oracle is
    upper() — documents text is ASCII, so tr and upper() agree."""
    from . import pipe as pipe_mod

    d = _t(spark, sf_dir, "documents").select("text")
    piped = pipe_mod.pipe(d, "tr 'a-z' 'A-Z'")
    return piped.groupBy(F.col("key").alias("line")).agg(F.count("*").alias("cnt")).select(
        "line", "cnt"
    )


# =====================================================================
# Events: log-analysis family (Logalyzer / DBCountPageView shapes)
# =====================================================================

@query(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch aggregation over the events table (the
    batch twin of the Structured Streaming operator)."""
    e = _events(spark, sf_dir)
    # hour bucket via NTZ part extraction — date_trunc would coerce
    # NTZ→LTZ and pick up the driver host's timezone on collection
    hour = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)")
    return e.groupBy(hour.alias("hour"), "event_type").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@query(
    "sessionization",
    """
    SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events FROM (
      SELECT user_id, session_id, count(*) AS n_events FROM (
        SELECT user_id, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                      > 1800000000 THEN 1 ELSE 0 END AS is_new
          FROM events
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap → cumulative session id → two-level agg.
    One shuffle on user_id; the windows reuse the same partitioning."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # micros-since-epoch from NTZ via pure arithmetic (unix_micros only
    # accepts LTZ and would reintroduce timezone semantics)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    gap = us - F.lag(us).over(w)
    sessions = (
        e.withColumn("is_new", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events")
    )


# =====================================================================
# Temporal joins & window-frame analytics
# =====================================================================

@query(
    "asof_attribution",
    """
    SELECT l.user_id, l.event_id, r.view_event,
           epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
    FROM (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase') l
    ASOF JOIN (SELECT user_id, ts, max(event_id) AS view_event
               FROM events WHERE event_type = 'view'
               GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→view attribution as an AS-OF join (operators/temporal.py):
    each purchase picks the user's single most recent at-or-before view.
    The right side is pre-aggregated to one row per (user, ts) so both
    engines resolve equal-timestamp duplicates identically. One shuffle
    on user_id (union both event streams, window scan per user); the
    matched view's timestamp travels inside the right-payload struct as
    epoch micros, so the gap is pure long arithmetic."""
    from .operators import temporal

    e = _events(spark, sf_dir)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    left = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", us.alias("purchase_us"))
    )
    right = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event"))
        .withColumn("view_us", us)
    )
    joined = temporal.asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts", how="inner"
    )
    return joined.select(
        "user_id",
        "event_id",
        "view_event",
        (F.col("purchase_us") - F.col("view_us")).alias("gap_us"),
    )


@query(
    "interval_window_count",
    """
    WITH iv AS (
      SELECT o_orderkey AS iv_key,
             datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS start_day
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    ),
    pt AS (
      SELECT datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day
      FROM orders
    )
    SELECT iv_key, count(*) AS n_in_window
    FROM pt JOIN iv ON pt.day >= iv.start_day AND pt.day <= iv.start_day + 7
    GROUP BY iv_key
    """,
)
def interval_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via coarse-bucket equi-join
    (operators/temporal.py::interval_join): how many orders land inside
    the 7-day window opened by each of the top-20 orders by price. The
    inequality join never runs as a nested loop — intervals explode to
    the (span/bucket + 1) buckets they cover and the range predicate is
    a residual filter on the bucket equi-match. At sf the 20-row
    interval side is also broadcast by Catalyst, which is the right
    call; the bucketing is what keeps a BILLION-interval side joinable."""
    from .operators import temporal

    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    iv = (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select(
            F.col("o_orderkey").alias("iv_key"),
            day.alias("start_day"),
            (day + F.lit(7)).alias("end_day"),
        )
    )
    pt = o.select(day.alias("day"))
    return (
        temporal.interval_join(pt, iv, "day", "start_day", "end_day", bucket_width=8)
        .groupBy("iv_key")
        .agg(F.count("*").alias("n_in_window"))
    )


@query(
    "user_rolling_stats",
    """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
    FROM events
    """,
)
def user_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame analytics over the event log: 3-event moving average
    (bounded ROWS frame), running total (unbounded frame), and
    inter-event gap (lag) — all three windows share ONE partitioning
    (user_id) and ordering, so Catalyst plans a single exchange + sort
    and evaluates the frames in one Window operator."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-2, Window.currentRow)), 6)
        .alias("mavg3"),
        F.round(
            F.sum("value").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("cum_value"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


# =====================================================================
# TPC-H shapes, round 2 widening: multi-dim snowflake joins, CASE-ratio
# aggregates, disjunctive pushdown, top-k-after-agg
# =====================================================================

@query(
    "q5_local_supplier",
    """
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper (region-constrained local-supplier volume): the
    c_nationkey = s_nationkey condition links the two dimension legs
    through the fact table. Plan: lineitem⋈orders shuffles on orderkey
    (the only big exchange); supplier, customer, nation⋈region are
    broadcast; the local-supplier equality is a residual on broadcast
    attributes, so it costs nothing extra at 100 TB."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nr = n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between a nation pair, both
    directions): the disjunctive nation-pair predicate is a residual on
    two broadcast nation copies. The supplier/customer nation filters
    could each be pushed as semi-joins, but the pair condition couples
    them, so it evaluates after both broadcasts — still zero extra
    shuffle; lineitem⋈orders on orderkey is again the only exchange."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
        | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'PROMO'
    ) GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (market share of one supplier nation inside a region's
    PROMO-part market, per year): conditional-aggregate ratio. Sums run
    in DECIMAL so both engines are order-insensitive-exact; the ratio
    divides as double, rounded 6dp. part/supplier/customer/nation/
    region all broadcast; the part filter prunes lineitem FIRST (the
    join with the filtered part is the cheapest reduction)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("volume", vol)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume"))
                      .otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q14_promo_revenue",
    """
    SELECT round(
             100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue percentage in one month): single
    conditional-ratio aggregate, no GROUP BY — partial aggregation
    reduces every partition to two decimals before one tiny exchange.
    The month filter is pushed into the lineitem scan; part broadcasts
    only (p_partkey, p_type)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("volume", vol)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", F.col("volume"))
                        .otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q19_discounted_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
         (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
          AND l_quantity BETWEEN 1 AND 11)
      OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
          AND l_quantity BETWEEN 10 AND 20)
      OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
          AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (disjunctive predicates): the OR of three
    brand/size/quantity conjunctions is a join residual, but its
    part-only implication (brand IN (..) AND size <= 15) is factored
    out and PUSHED into the part scan before the broadcast — Catalyst
    does not derive this factorization on its own, and at 100 TB it is
    the difference between broadcasting all parts and 3 brands' worth."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
            & (F.col("p_size") >= 1) & (F.col("p_size") <= 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    disj = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(disj)
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, revenue, n_name FROM (
      SELECT c_custkey, c_name,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
             n_name
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, n_name
    ) ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (top returned-item customers in a quarter): group-by
    with carried dimension attributes, then top-k BY THE AGGREGATE —
    plans as TakeOrderedAndProject over the agg, i.e. per-partition
    heaps, never a global sort. c_custkey tiebreaks so the cut is
    deterministic in both engines."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


# =====================================================================
# Sketch aggregates (accuracy-contract checked), pivot/unpivot,
# grouping sets
# =====================================================================

@query(
    "sketch_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_bounds
    FROM events GROUP BY event_type
    """,
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-user sketch per event type, checked against its
    accuracy contract (operators/sketches.py): the oracle pins the
    EXACT count and asserts the estimate lands within tolerance. At
    100 TB the sketch aggregates map-side and ships O(kB) registers
    per group where exact distinct ships every key."""
    from .operators import sketches

    e = _events(spark, sf_dir).select("event_type", "user_id")
    return sketches.distinct_sketch(
        e, ["event_type"], "user_id", rsd=0.02, tolerance=0.10
    )


@query(
    "sketch_median_value",
    """
    SELECT event_type, TRUE AS in_bracket
    FROM events GROUP BY event_type
    """,
)
def sketch_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median of event value per type, contract-checked
    rank-wise: the GK estimate must land between the exact p45 and p55
    values (rank error <= n/accuracy guarantees it). The estimate
    itself is not hash-compared — GK merge states are not canonical
    across engines; the bracket predicate is."""
    from .operators import sketches

    e = _events(spark, sf_dir).select("event_type", "value")
    return sketches.quantile_sketch_bracketed(
        e, ["event_type"], "value", prob=0.5, bracket=0.05, accuracy=10000
    )


@query(
    "pivot_event_matrix",
    """
    SELECT user_id % 10 AS cohort,
           count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view'     THEN 1 END) AS view
    FROM events GROUP BY user_id % 10
    """,
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long event log -> wide per-cohort type-count matrix. The
    explicit value list matters at scale: without it Spark runs an
    extra distinct-values job AND the output schema becomes
    data-dependent; with it the pivot is a single partial-agg pass,
    exactly as cheap as the CASE-sum spelling the oracle uses."""
    e = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        e.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", types)
        .count()
    )
    return wide.select(
        "cohort", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@query(
    "unpivot_measures",
    """
    SELECT metric, CAST(round(sum(CAST(val AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM (
      SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
    ) GROUP BY metric
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measures -> long (metric, value) stream,
    aggregated. Spark's unpivot is a zero-shuffle row-expansion (each
    input row emits 3), so the only exchange is the 3-group final agg;
    the oracle's UNION ALL spelling would SCAN the table three times."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    ).withColumn("metric", F.regexp_replace(F.col("metric"), "^l_", ""))
    return long.groupBy("metric").agg(
        F.round(F.sum(F.col("val").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total")
    )


@query(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (flag-only, status-only, grand total) with
    a grouping_id disambiguator — the general form behind the
    rollup/cube queries. One shuffle; Spark expands the sets with a
    single Expand operator feeding one partial agg."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
                 AS gid,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "reservoir_per_lang",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: 5 docs per language by
    smallest md5(doc_id) (curation.reservoir_sample) — the reproducible
    replacement for a true reservoir, identical in any engine and
    under any partitioning/retry."""
    from .operators import curation

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    return curation.reservoir_sample(d, "lang", "doc_id", k=5)


@query(
    "daily_locf_snapshot",
    """
    WITH grid AS (
      SELECT user_id, d.d AS day,
             epoch_us(TIMESTAMP '2024-01-01 00:00:00') + d.d * 86400000000
               AS g_us
      FROM (SELECT DISTINCT user_id FROM events)
      CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS d) d
    ),
    obs AS (
      SELECT user_id, epoch_us(ts) AS o_us, max(value) AS value
      FROM events GROUP BY user_id, epoch_us(ts)
    )
    SELECT g.user_id, CAST(g.day AS BIGINT) AS day, r.value AS last_value
    FROM grid g ASOF LEFT JOIN obs r
      ON g.user_id = r.user_id AND g.g_us >= r.o_us
    """,
)
def daily_locf_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill / downsample: one row per (user, day-of-January) with
    the user's last event value carried forward (null before their
    first event) — operators/temporal.py::resample_locf, i.e. a
    generated grid + backward as-of join. The observation stream is
    deduped per (user, instant) first so both engines resolve
    equal-timestamp ties identically."""
    from .operators import temporal

    e = _events(spark, sf_dir)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    obs = (
        e.select("user_id", us.alias("o_us"), "value")
        .groupBy("user_id", "o_us")
        .agg(F.max("value").alias("value"))
    )
    epoch0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    day_us = 86_400_000_000
    filled = temporal.resample_locf(
        obs, "user_id", "o_us", start=epoch0, end=epoch0 + 29 * day_us,
        step=day_us, grid_col="g_us",
    )
    return filled.select(
        "user_id",
        ((F.col("g_us") - epoch0) / day_us).cast("long").alias("day"),
        F.col("value").alias("last_value"),
    )


def _zorder_oracle() -> str:
    from .operators.layout import zorder_sql

    z = zorder_sql(["user_id % 256", "event_id % 256"], bits=8)
    return f"""
    SELECT event_id, CAST({z} AS BIGINT) AS zval
    FROM events WHERE event_id < 500
    """


@query("zorder_codes", _zorder_oracle())
def zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) codes for 2-D layout clustering
    (operators/layout.py): interleaved bits of two bucketized
    dimensions, computed as pure shift/mask arithmetic inside codegen.
    The clustering write path (cluster_by_zorder) range-partitions on
    this value so min/max stats bound BOTH dimensions per file."""
    from .operators import layout

    e = _events(spark, sf_dir).filter(F.col("event_id") < 500)
    z = layout.zorder_value(
        [F.col("user_id") % 256, F.col("event_id") % 256], bits=8
    )
    return e.select("event_id", z.cast("long").alias("zval"))


@query(
    "price_quantity_stats",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_discount), 6) AS discount_stddev,
           round(var_samp(l_quantity), 6) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
)
def price_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: correlation, sample
    covariance, stddev, variance — all single-pass mergeable aggregates
    (sum/sum-of-squares/cross-products partials), so they combine
    map-side exactly like the simple sums; one small exchange of the
    moment tuples per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
        .alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4)
        .alias("qty_price_covar"),
        F.round(F.stddev_samp("l_discount"), 6).alias("discount_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@query(
    "decile_histogram",
    """
    SELECT decile, count(*) AS n_orders,
           CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
           CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi
    FROM (
      SELECT o_totalprice,
             CAST(least(floor(((row_number() OVER (ORDER BY o_totalprice,
                          o_orderkey) - 1) * 10) / count(*) OVER ()), 9)
                  AS BIGINT) AS decile
      FROM orders
    ) GROUP BY decile
    """,
)
def decile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (ntile analog) WITHOUT a global window:
    global_rank (range shuffle + per-partition index + offset join)
    assigns the total-order rank, decile = rank*10/count. The oracle
    spells it as the single-task row_number ntile — same numbers, but
    the checked Spark artifact is the scale-safe plan."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    ranked = sort.global_rank(
        o, [F.col("o_totalprice"), F.col("o_orderkey")], rank_col="rank"
    )
    total = ranked.agg(F.count("*").alias("__n"))
    return (
        ranked.join(F.broadcast(total))
        .withColumn(
            "decile",
            F.least(F.floor((F.col("rank") - 1) * 10 / F.col("__n")),
                    F.lit(9).cast("long")),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
        )
    )


# =====================================================================
# TPC-H completion: Q3/Q6/Q12 on the native schema; Q2/Q9/Q11/Q20 via a
# DERIVED partsupp (the testdata ships no partsupp table, so both
# engines build the identical deterministic relation: each part paired
# with exactly 4 suppliers by key arithmetic — O(|part|) rows like real
# TPC-H partsupp (4·|part|), not a filtered cross product whose
# cardinality would grow quadratically in the dims at scale)
# =====================================================================

_SQL_PS = """
  ps AS (
    SELECT ps_partkey, ps_suppkey,
           ((ps_partkey * 31 + ps_suppkey * 17) % 1000) + 1 AS ps_supplycost,
           ((ps_partkey * 7 + ps_suppkey * 13) % 9999) + 1 AS ps_availqty
    FROM (
      SELECT p_partkey AS ps_partkey,
             (p_partkey * 11 + i) % (SELECT count(*) FROM supplier)
               AS ps_suppkey
      FROM part, range(4) t(i)
    )
  )
"""

# |supplier| per sf_dir — a pure dim count; memoized so repeated
# _partsupp calls (q2/q9/q11/q20 all build it) don't each run a
# driver-side count job.
# keyed by (sf_dir, supplier.parquet mtime): regenerated testdata at
# the same path must invalidate the memoized count or _partsupp would
# pair against a stale supplier universe while the oracle recounts live
_N_SUP_CACHE: dict[tuple, int] = {}


def _sup_cache_key(sf_dir: str) -> tuple:
    import os as _os

    path = _os.path.join(sf_dir, "supplier.parquet")
    try:
        mtime = _os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # non-local path (hdfs://, s3a://): fall back to dir key
    return (sf_dir, mtime)


def _partsupp(
    spark: SparkSession,
    sf_dir: str,
    parts: DataFrame | None = None,
    suppliers: DataFrame | None = None,
) -> DataFrame:
    """The derived partsupp relation (matches _SQL_PS exactly): each
    part paired with 4 suppliers chosen by key arithmetic
    (ps_suppkey = (p_partkey·11 + i) % |supplier|, i ∈ 0..3), with
    integer-arithmetic supplycost/availqty. The per-i offsets 0..3 are
    distinct mod ANY |supplier| ≥ 4, so the 4 suppliers per part are
    always distinct (the earlier i·37 stride silently collided whenever
    |supplier| divided 37·d, e.g. 37 or 74 suppliers).
    Cardinality-faithful to real TPC-H partsupp — exactly 4·|part|
    rows, so at sf100 the relation is ~80M rows, not the ~4×10¹² a
    %-filtered cross product would produce. |supplier| is a driver-side
    dim count, memoized per sf_dir and always over the FULL supplier
    table so the pairing is stable under caller-side filters.

    `parts` lets callers pass a PRE-FILTERED part frame: ps rows are a
    pure function of p_partkey, so generating from the filtered set is
    exact. `suppliers` restricts pairs to the given supplier keys via a
    broadcast semi-join (pairing itself is unchanged)."""
    p = (parts if parts is not None
         else _t(spark, sf_dir, "part")).select("p_partkey")
    ck = _sup_cache_key(sf_dir)
    n_sup = _N_SUP_CACHE.get(ck)
    if n_sup is None:
        n_sup = _t(spark, sf_dir, "supplier").count()
        _N_SUP_CACHE[ck] = n_sup
    i = F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("i")
    ps = (
        p.select("p_partkey", i)
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 11 + F.col("i")) % F.lit(n_sup))
            .alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 1000 + 1)
            .alias("ps_supplycost"),
            ((F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 13) % 9999 + 1)
            .alias("ps_availqty"),
        )
    )
    if suppliers is not None:
        keys = suppliers.select("s_suppkey").distinct()
        ps = ps.join(
            F.broadcast(keys), ps["ps_suppkey"] == keys["s_suppkey"], "semi"
        )
    return ps


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (top unshipped orders by revenue; o_orderpriority
    stands in for the absent o_shippriority): both date filters push
    into their scans, customer broadcasts, and the top-10 cut runs as
    TakeOrderedAndProject over the aggregated stream."""
    _utc(spark)
    cutoff = F.lit("1996-03-15 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate —
    every predicate pushes to parquet, the agg is one partial+final
    pair, zero joins. The benchmark's floor for scan efficiency."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                      .cast("decimal(18,6)")), 2
            ).cast("double").alias("revenue")
        )
    )


@query(
    "q12_priority_lines",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_linestatus stands in for the absent
    l_shipmode): conditional CASE counts split one pass by a joined
    attribute — the fact-fact join on orderkey is the only exchange
    besides the 2-group final agg."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q2_min_cost_supplier",
    f"""
    WITH {_SQL_PS.strip()}
    SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND p_size = 15 AND p_type = 'STANDARD'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT min(ps_supplycost) FROM ps, supplier, nation, region
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (cheapest EUROPE supplier per qualifying part): the
    correlated min-subquery is decorrelated as a window min over
    partitionBy(ps_partkey) on the region-filtered ps stream — one
    shuffle on partkey, no per-part re-scan. The part filter then
    prunes before the window via the same broadcast join."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    eu_ps = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eu_ps.withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name"), F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost")
    )


@query(
    "q9_product_profit",
    f"""
    WITH {_SQL_PS.strip()}
    SELECT nation, o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                    - ps_supplycost * l_quantity AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice, l_discount, ps_supplycost, l_quantity
      FROM part, supplier, lineitem, ps, orders, nation
      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (profit per nation-year over parts matching a name
    pattern; the derived ps supplies the cost side): lineitem joins ps
    on the COMPOSITE (partkey, suppkey) key — ps is dim-sized here so
    it broadcasts; at true TPC-H scale partsupp shuffles on the same
    composite key the join needs, still one exchange."""
    _utc(spark)
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    # ps is a pure function of its keys, so deriving it from the
    # red-filtered part set is exact and ~6x smaller
    ps = _partsupp(spark, sf_dir, parts=p)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit_term = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit_term), 2).cast("double").alias("profit"))
    )


@query(
    "q11_important_stock",
    f"""
    WITH {_SQL_PS.strip()},
    national AS (
      SELECT ps_partkey, ps_supplycost, ps_availqty
      FROM ps, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_5'
    )
    SELECT ps_partkey,
           CAST(sum(ps_supplycost * ps_availqty) AS BIGINT) AS stock_value
    FROM national
    GROUP BY ps_partkey
    HAVING sum(ps_supplycost * ps_availqty) >
           (SELECT sum(ps_supplycost * ps_availqty) * 0.001 FROM national)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (parts whose stock value exceeds a fraction of one
    nation's total): the global scalar is a 1-row aggregate broadcast
    into the HAVING comparison. Integer cost×qty keeps both engines
    exact, so the threshold cut has no float boundary."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5").select(
        "n_nationkey"
    )
    s_nat = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    national = _partsupp(spark, sf_dir, suppliers=s_nat).select(
        "ps_partkey", (F.col("ps_supplycost") * F.col("ps_availqty")).alias("__v")
    )
    national = tracked_persist(national, eager=False)
    total = national.agg(F.sum("__v").alias("__total"))
    return (
        national.groupBy("ps_partkey")
        .agg(F.sum("__v").alias("stock_value"))
        .join(F.broadcast(total))
        .filter(F.col("stock_value") > F.col("__total") * 0.001)
        .select("ps_partkey", "stock_value")
    )


@query(
    "q20_excess_stock_suppliers",
    f"""
    WITH {_SQL_PS.strip()}
    SELECT s_name FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_9'
      AND s_suppkey IN (
        SELECT ps_suppkey FROM ps
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_brand LIKE 'Brand#1%')
          AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          )
      )
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (suppliers holding excess stock of a brand's parts):
    the correlated per-(part,supplier) shipped-quantity subquery is
    decorrelated into ONE grouped aggregate of the year's lineitem,
    inner-joined back on the composite key; the IN chains become
    left-semi joins. No per-row subquery execution anywhere."""
    _utc(spark)
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").like("Brand#1%")
    ).select("p_partkey")
    ps = _partsupp(spark, sf_dir, parts=p)
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    qualifying = (
        ps.join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("__qty"))
        .select("ps_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9").select(
        "n_nationkey"
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name")
    )


@query(
    "json_props_stats",
    """
    SELECT event_type,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
             AS avg_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing: the events.props JSON column parsed
    with a TYPED from_json schema (JVM/codegen path — no per-row Python,
    no schema inference job) and aggregated per event type. At scale
    the typed parse matters twice: malformed rows become nulls instead
    of failures, and Catalyst prunes the parse to the single accessed
    field."""
    e = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k bigint")["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "profile_customer",
    """
    SELECT 'c_custkey' AS column_name,
           count(*) - count(c_custkey) AS null_cnt,
           count(DISTINCT c_custkey) AS n_distinct,
           CAST(min(c_custkey) AS VARCHAR) AS min_val,
           CAST(max(c_custkey) AS VARCHAR) AS max_val
    FROM customer
    UNION ALL
    SELECT 'c_name', count(*) - count(c_name), count(DISTINCT c_name),
           CAST(min(c_name) AS VARCHAR), CAST(max(c_name) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', count(*) - count(c_nationkey),
           count(DISTINCT c_nationkey),
           CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', count(*) - count(c_mktsegment),
           count(DISTINCT c_mktsegment),
           CAST(min(c_mktsegment) AS VARCHAR), CAST(max(c_mktsegment) AS VARCHAR)
    FROM customer
    """,
)
def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE scan (operators/profiling.py): null
    counts, distinct counts, min/max for four customer columns, stacked
    to a per-column record. The oracle's UNION-ALL spelling scans the
    table once per column — the operator's single-agg + stack shape is
    the 100 TB difference."""
    from .operators import profiling

    c = _t(spark, sf_dir, "customer")
    return profiling.profile(
        c, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )


@query(
    "winsorized_values",
    """
    WITH bounds AS (
      SELECT event_type,
             round(quantile_cont(value, 0.01), 6) AS lo,
             round(quantile_cont(value, 0.99), 6) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(sum(CASE WHEN value < lo THEN 1
                         WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped,
           round(sum(CASE WHEN value < lo THEN lo
                          WHEN value > hi THEN hi ELSE value END), 2)
             AS clipped_sum
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
)
def winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (curation.winsorize): per-type p01/p99 clipping,
    summarized. Exact linear-interpolated percentiles agree between
    Spark's percentile() and DuckDB's quantile_cont, rounded 6dp
    before the comparison so the clip boundary is bit-identical."""
    from .operators import curation

    e = _events(spark, sf_dir).select("event_type", "value")
    w = curation.winsorize(e, "event_type", "value", lo=0.01, hi=0.99)
    return w.groupBy("event_type").agg(
        F.sum(F.abs(F.col("clip_side"))).alias("n_clipped"),
        F.round(F.sum("clipped_value"), 2).alias("clipped_sum"),
    )


@query(
    "regression_price_qty",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares (price ~ quantity): regr_* aggregates are
    the same mergeable moment tuples as corr/covar — map-side partials,
    one tiny exchange; no iterative fitting for 1-D OLS."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6)
        .alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@query(
    "trailing_hour_sum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
             AS hour_sum
    FROM events
    """,
)
def trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frames elsewhere): per event,
    the user's value total over the trailing hour BY TIMESTAMP — the
    frame width is a time distance, not a row count, so co-timed
    bursts aggregate together regardless of how many rows they span.
    Ordering is epoch micros (a long), making the frame arithmetic
    engine-portable; same single exchange + sort as any user window."""
    e = _events(spark, sf_dir)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
    )


@query(
    "incremental_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (operators/rollup.py): the
    hourly rollup is built as TWO increments (events before Jan 20 ≡
    the standing table; the rest ≡ the day's delta) folded with
    merge_rollups — and the oracle is the DIRECT full-range rollup, so
    the incremental path's equivalence to recomputation IS the checked
    property. Only rollup rows shuffle in the merge, never raw
    events."""
    from .operators import rollup as ru

    e = _events(spark, sf_dir)
    hour = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)")
    e = e.withColumn("hour", hour)
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp_ntz")
    standing = ru.rollup_events(
        e.filter(F.col("ts") < cut), ["hour", "event_type"],
        {"sum_value": "value"},
    )
    delta = ru.rollup_events(
        e.filter(F.col("ts") >= cut), ["hour", "event_type"],
        {"sum_value": "value"},
    )
    merged = ru.merge_rollups(
        standing, delta, ["hour", "event_type"], ["sum_value"]
    )
    return merged.select(
        "hour", "event_type", "cnt", F.round("sum_value", 2).alias("sum_value")
    )


@query(
    "sketch_rollup_distinct",
    """
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_bounds
    FROM events GROUP BY event_type
    """,
)
def sketch_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollups: per-(type, day) HLL sketches
    unioned up to per-type estimates — the ONLY way distinct survives
    pre-aggregation (exact sets don't merge). Contract-checked like
    the other sketches: the unioned estimate must land within 5% of
    the exact distinct (Datasketches HLL, lgK=12, typical error
    well under 2%)."""
    from .operators import rollup as ru

    e = _events(spark, sf_dir).withColumn("day", F.expr("day(ts)"))
    daily = ru.rollup_events(
        e, ["event_type", "day"], {}, distinct_sketches={"users_sk": "user_id"}
    )
    merged = (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("users_sk").alias("users_sk"))
        .withColumn("est", F.hll_sketch_estimate("users_sk"))
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_bounds"),
    )


@query(
    "time_weighted_avg",
    """
    WITH s0 AS (
      SELECT user_id, ts, avg(value) AS value
      FROM events GROUP BY user_id, ts
    ),
    s AS (
      SELECT user_id, ts, value,
             time_bucket(INTERVAL '1 day', ts) AS bucket_start,
             lead(ts) OVER (
               PARTITION BY user_id, time_bucket(INTERVAL '1 day', ts)
               ORDER BY ts
             ) AS nxt
      FROM s0
    ),
    h AS (
      SELECT *, CAST(coalesce(epoch_us(nxt) - epoch_us(ts), 0) AS DOUBLE)
                  AS hold
      FROM s
    )
    SELECT user_id, bucket_start,
           CAST(round(CASE WHEN sum(hold) > 0
                           THEN sum(value * hold) / sum(hold)
                           ELSE avg(value) END, 6) AS DOUBLE) AS twa,
           count(*) AS n_samples
    FROM h GROUP BY user_id, bucket_start
    """,
)
def time_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's metric per day
    (operators/temporal.time_weighted_avg): burst-invariant rollup over
    irregular samples — the hypertable-rollup classic a plain avg()
    gets wrong. Duplicate (user, ts) samples are pre-averaged so the
    hold-time attribution is engine-deterministic (same pre-aggregation
    the ASOF oracle needs)."""
    from .operators.temporal import time_weighted_avg

    _utc(spark)
    e = (
        _events(spark, sf_dir)
        .groupBy("user_id", "ts")
        .agg(F.avg("value").alias("value"))
    )
    return time_weighted_avg(e, ["user_id"], "ts", "value", bucket="1 day")
