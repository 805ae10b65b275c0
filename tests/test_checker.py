"""Regression tests for the local correctness gate itself.

Round 4 shipped a driver-red cell (`bpe_pair_counts`) because
tools/check.py fetched DuckDB results via fetchall(), which collapses
HUGEINT (Arrow decimal128) to plain Python int — so the local gate
passed what the driver's Arrow-level hash failed. These tests pin the
fixed behavior: the checker must FAIL on the pre-fix oracle shape
(uncast integer sum) and pass on the cast form.
"""

import duckdb
import pytest

from tools.check import arrow_type_class, compare, oracle_runner, spark_type_class
from tools.lint_oracles import SUSPECT_TYPES


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


class TestArrowTypeGate:
    def test_uncast_sum_flagged_as_decimal_vs_int(self, spark, duck):
        """The exact r4 failure: DuckDB sum(BIGINT) -> HUGEINT ->
        decimal128 at the Arrow layer, Spark emits int64. fetchall()
        would hide this; the Arrow fetch must not."""
        sdf = spark.createDataFrame([("ab", 10)], "pair string, cnt long")
        tbl = duck.execute(
            "SELECT 'ab' AS pair, sum(x) AS cnt FROM (SELECT CAST(10 AS BIGINT) x) GROUP BY 1"
        ).fetch_arrow_table()
        problems = compare("prefix_bpe_shape", sdf, tbl)
        assert problems, "checker must flag uncast integer sum (decimal vs int)"
        assert any("type[cnt]" in p and "decimal" in p for p in problems)

    def test_cast_sum_passes(self, spark, duck):
        sdf = spark.createDataFrame([("ab", 10)], "pair string, cnt long")
        tbl = duck.execute(
            "SELECT 'ab' AS pair, CAST(sum(x) AS BIGINT) AS cnt"
            " FROM (SELECT CAST(10 AS BIGINT) x) GROUP BY 1"
        ).fetch_arrow_table()
        assert compare("cast_ok", sdf, tbl) == []

    def test_value_mismatch_still_caught(self, spark, duck):
        sdf = spark.createDataFrame([("ab", 11)], "pair string, cnt long")
        tbl = duck.execute(
            "SELECT 'ab' AS pair, CAST(10 AS BIGINT) AS cnt"
        ).fetch_arrow_table()
        assert any("values differ" in p for p in compare("val", sdf, tbl))

    def test_type_class_maps_agree_on_common_types(self, spark, duck):
        sdf = spark.createDataFrame(
            [(1, 1.5, "x", True)], "a long, b double, c string, d boolean"
        )
        tbl = duck.execute(
            "SELECT CAST(1 AS BIGINT) a, CAST(1.5 AS DOUBLE) b, 'x' c, true d"
        ).fetch_arrow_table()
        assert compare("types", sdf, tbl) == []
        for f, at in zip(sdf.schema.fields, tbl.schema):
            assert spark_type_class(f.dataType) == arrow_type_class(at.type)


class TestNonScalarGate:
    """Round 5's red-cell class: the driver's pandas sort_values →
    factorize hash path raises on Array/Map/Struct cells, while the
    local canon_cell happily canonicalizes lists — the second
    consecutive local/driver canonicalization divergence. The checker
    must now reject any registered query emitting non-scalar columns,
    exactly the pre-fix jl_projection / int8_quantized_embeddings
    shape."""

    def test_array_output_flagged(self, spark, duck):
        sdf = spark.createDataFrame(
            [(1, [0.5, 0.25])], "vec_id long, jl array<double>"
        )
        tbl = duck.execute(
            "SELECT CAST(1 AS BIGINT) vec_id, [0.5, 0.25] AS jl"
        ).fetch_arrow_table()
        problems = compare("prefix_jl_shape", sdf, tbl)
        assert problems and any("non-scalar" in p for p in problems)

    def test_struct_and_map_output_flagged(self, spark, duck):
        sdf = spark.createDataFrame(
            [((1, 2), {"a": 1})],
            "s struct<x:long,y:long>, m map<string,long>",
        )
        assert any("non-scalar" in p for p in compare("structs", sdf, None))

    def test_scalarized_form_passes(self, spark, duck):
        """posexplode'd (vec_id, idx, value) — the fixed shape."""
        sdf = spark.createDataFrame(
            [(1, 0, 0.5), (1, 1, 0.25)], "vec_id long, idx int, value double"
        )
        tbl = duck.execute(
            "SELECT vec_id, CAST(idx AS INTEGER) idx, value FROM ("
            "  SELECT CAST(1 AS BIGINT) vec_id,"
            "         unnest(range(0, 2)) AS idx,"
            "         unnest([CAST(0.5 AS DOUBLE), CAST(0.25 AS DOUBLE)]) AS value)"
        ).fetch_arrow_table()
        assert compare("jl_fixed", sdf, tbl) == []

    def test_lint_flags_list_oracle(self, duck):
        """The pre-fix oracle (list projection) must be statically
        flagged by lint_oracles' SUSPECT_TYPES."""
        desc = duck.execute(
            "DESCRIBE SELECT [1.0, 2.0] AS jl"
        ).fetchall()
        assert any(
            any(s in t.upper() for s in SUSPECT_TYPES) for _, t, *_ in desc
        ), "DESCRIBE of a list projection must be flagged"

    def test_no_registered_query_emits_nonscalar(self, spark):
        """The 161-query schema sweep the r5 judge ran by hand, as a
        permanent test: every queries() entry must build to a
        scalar-only schema at sf0.001."""
        import __spark_entry__ as entrymod
        from tools.check import nonscalar_cols

        bad = {}
        for name, fn in entrymod.queries().items():
            df = fn(spark, "/root/testdata/sf0.001")
            cols = nonscalar_cols(df)
            if cols:
                bad[name] = cols
        assert bad == {}, f"non-scalar outputs registered: {bad}"


class TestOracleLint:
    def test_lint_flags_prefix_oracle(self, duck):
        """The pre-fix bpe_pair_counts projection must be flagged."""
        desc = duck.execute(
            "DESCRIBE SELECT sum(x) AS cnt FROM (SELECT CAST(1 AS BIGINT) x)"
        ).fetchall()
        assert any(
            any(s in t.upper() for s in SUSPECT_TYPES) for _, t, *_ in desc
        ), "DESCRIBE of an uncast BIGINT sum must show HUGEINT"

    def test_all_registered_oracles_clean(self):
        from tools.lint_oracles import lint

        assert lint("/root/testdata/sf0.001") == 0


class TestOracleRunner:
    def test_shared_text_runs_once_and_is_released(self):
        """An oracle text shared by several registry entries runs once per
        sweep; its result is dropped after its last entry, and an
        unshared result is never kept."""
        runs = []

        class Con:
            def execute(self, text):
                runs.append(text)
                return duckdb.execute(text)

        a, b = "SELECT 1 AS x", "SELECT 2 AS x"
        run = oracle_runner(Con(), [a, b, a, a])
        assert [run(t)["x"][0].as_py() for t in (a, b, a, a)] == [1, 2, 1, 1]
        assert runs == [a, b]
        run(a)  # a fourth use of `a` was not announced: it runs again
        assert runs == [a, b, a]
