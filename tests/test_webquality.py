"""Web-corpus quality heuristics (operators/webquality.py): Gopher
rules, repetition stats, C4 line filters, global line dedup, DSIR."""

import pytest
from pyspark.sql import functions as F

from hadoop_distributed_dynamic_file_system_spark.operators import webquality as wq


class TestGopherQuality:
    def test_metrics_hand_computed(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat with that dog and the fish")],
            "doc_id long, text string",
        )
        r = wq.gopher_quality(df, "doc_id", "text", min_words=5).collect()[0]
        assert r.n_words == 12
        assert r.mean_word_len == round(38 / 12, 6)
        assert r.alpha_frac == 1.0
        assert r.stop_hits == 4  # the, with, that, and
        assert r.passes

    def test_bullet_and_ellipsis_lines(self, spark):
        df = spark.createDataFrame(
            [(1, "- one bullet\n* two bullet\nplain line...\nplain again")],
            "doc_id long, text string",
        )
        r = wq.gopher_quality(df, "doc_id", "text", min_words=1).collect()[0]
        assert r.bullet_frac == 0.5
        assert r.ellipsis_frac == 0.25

    def test_symbol_ratio_counts_hash_and_ellipsis(self, spark):
        df = spark.createDataFrame(
            [(1, "a # b ... c #")], "doc_id long, text string"
        )
        r = wq.gopher_quality(df, "doc_id", "text", min_words=1).collect()[0]
        # 2 '#' + 1 '...' over 6 words
        assert r.symbol_ratio == 0.5
        assert not r.passes  # symbol ratio >= 0.1

    def test_word_count_bounds(self, spark):
        df = spark.createDataFrame(
            [(1, "the and that with " * 20), (2, "the and")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.passes for r in
               wq.gopher_quality(df, "doc_id", "text", min_words=50).collect()}
        assert out[1] and not out[2]


class TestRepetitionStats:
    def test_duplicate_line_fractions(self, spark):
        df = spark.createDataFrame(
            [(1, "aa bb\naa bb\ncc dddd")], "doc_id long, text string"
        )
        r = wq.duplicate_line_stats(df, "doc_id", "text").collect()[0]
        assert r.n_lines == 3
        assert r.dup_line_frac == round(1 / 3, 6)
        # repeat chars: 5 of (5+5+7)
        assert r.dup_line_char_frac == round(5 / 17, 6)

    def test_top_ngram_tiebreak_smallest(self, spark):
        # 'b c' and 'a b' both appear twice; min gram wins
        df = spark.createDataFrame(
            [(1, "a b c a b c")], "doc_id long, text string"
        )
        r = wq.top_ngram_char_fraction(df, "doc_id", "text", n=2).collect()[0]
        assert r.top_gram == "a b"
        assert r.top_char_frac == round(2 * 3 / 11, 6)

    def test_dup_ngram_char_fraction(self, spark):
        # trigram 'a b c' occurs twice (chars 5 each), others once
        df = spark.createDataFrame(
            [(1, "a b c a b c")], "doc_id long, text string"
        )
        r = wq.dup_ngram_char_fraction(df, "doc_id", "text", n=3).collect()[0]
        # grams: 'a b c'x2, 'b c a', 'c a b' -> dup chars 5 / total 20
        assert r.dup_char_frac == 0.25

    def test_doc_without_ngrams_absent(self, spark):
        df = spark.createDataFrame(
            [(1, "only two"), (2, "a b c d e")], "doc_id long, text string"
        )
        ids = {r.doc_id for r in
               wq.top_ngram_char_fraction(df, "doc_id", "text", n=3).collect()}
        assert ids == {2}


class TestC4LineFilters:
    def test_short_and_badword_lines_drop(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five\nshort line\nbad javascript line here now")],
            "doc_id long, text string",
        )
        r = wq.c4_line_filters(
            df, "doc_id", "text", min_words_per_line=5, badwords=("javascript",)
        ).collect()[0]
        assert (r.n_lines, r.n_kept) == (3, 1)
        assert r.cleaned == "one two three four five"

    def test_terminal_punct_rule(self, spark):
        df = spark.createDataFrame(
            [(1, "a proper sentence ends here.\nno terminal punct here")],
            "doc_id long, text string",
        )
        r = wq.c4_line_filters(
            df, "doc_id", "text", min_words_per_line=3,
            require_terminal_punct=True,
        ).collect()[0]
        assert r.n_kept == 1 and r.cleaned.endswith(".")

    def test_all_dropped_yields_empty_string(self, spark):
        df = spark.createDataFrame([(1, "x\ny")], "doc_id long, text string")
        r = wq.c4_line_filters(df, "doc_id", "text").collect()[0]
        assert r.n_kept == 0 and r.cleaned == ""


class TestLineDedupGlobal:
    def test_first_occurrence_wins_across_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "shared line\nunique one"), (2, "shared line\nunique two")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               wq.line_dedup_global(df, "doc_id", "text").collect()}
        assert out[1].cleaned == "shared line\nunique one"
        assert out[2].cleaned == "unique two"
        assert out[2].n_lines == 2 and out[2].n_kept == 1

    def test_within_doc_repeats_collapse_and_order_kept(self, spark):
        df = spark.createDataFrame(
            [(1, "z last\na first\nz last")], "doc_id long, text string"
        )
        r = wq.line_dedup_global(df, "doc_id", "text").collect()[0]
        assert r.cleaned == "z last\na first"  # position order, not sort

    def test_fully_duplicate_doc_empties(self, spark):
        df = spark.createDataFrame(
            [(1, "only line"), (2, "only line")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in
               wq.line_dedup_global(df, "doc_id", "text").collect()}
        assert out[2].n_kept == 0 and out[2].cleaned == ""


class TestDsirImportance:
    def test_target_docs_score_higher(self, spark):
        target_text = "spark shuffle partition broadcast " * 5
        other_text = "cat dog fish bird mouse " * 5
        df = spark.createDataFrame(
            [(1, target_text), (2, other_text), (3, target_text)],
            "doc_id long, text string",
        )
        target = df.filter("doc_id = 1")
        out = {r.doc_id: r.avg_llr for r in
               wq.dsir_importance(df, "doc_id", "text", target).collect()}
        assert out[1] > out[2] and out[3] > out[2]
        assert out[1] == out[3]  # identical text, identical score

    def test_plan_broadcasts_models(self, spark):
        df = spark.createDataFrame(
            [(i, f"word{i} common") for i in range(20)],
            "doc_id long, text string",
        )
        plan = wq.dsir_importance(
            df, "doc_id", "text", df.limit(5)
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def _flagged(self, spark):
        # doc 4's NULL tag must count as non-target in both forms, and
        # the non-target vocabulary leaves buckets unseen in the target
        df = spark.createDataFrame(
            [(1, "spark shuffle spark partition", "t"),
             (2, "cat dog fish bird", "o"),
             (3, "broadcast shuffle join", "t"),
             (4, "mouse cat spark", None)],
            "doc_id long, text string, tag string",
        )
        return df, F.col("tag") == "t"

    def _flagged_inputs(self, spark, sf_dir):
        # the toy frame, then the fixture corpus: it activates far more
        # buckets, most of them unseen in a one-source target subset,
        # so the unseen-target floor carries most of the weights
        import os

        yield self._flagged(spark)
        df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        yield df, F.col("source") == df.select("source").first()[0]

    def test_fused_weights_equal_two_pass(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark import cache

        try:
            for df, flag in self._flagged_inputs(spark, sf_dir):
                fused = wq.dsir_bucket_weights(df, "text", target_flag=flag)
                twopass = wq.dsir_bucket_weights(df, "text", df.filter(flag))
                assert sorted(fused.select("b", "w").collect()) == sorted(
                    twopass.select("b", "w").collect()
                )
        finally:
            cache.release_all()

    def test_fused_importance_equals_two_pass(self, spark, sf_dir):
        from hadoop_distributed_dynamic_file_system_spark import cache

        cols = ["doc_id", "n_tokens", "avg_llr"]
        try:
            for df, flag in self._flagged_inputs(spark, sf_dir):
                fused = wq.dsir_importance(df, "doc_id", "text", target_flag=flag)
                twopass = wq.dsir_importance(df, "doc_id", "text", df.filter(flag))
                assert sorted(fused.select(cols).collect()) == sorted(
                    twopass.select(cols).collect()
                )
        finally:
            cache.release_all()

    def test_exactly_one_target_form(self, spark):
        df, flag = self._flagged(spark)
        for fn, args in ((wq.dsir_bucket_weights, ("text",)),
                         (wq.dsir_importance, ("doc_id", "text"))):
            with pytest.raises(ValueError, match="exactly one"):
                fn(df, *args)
            with pytest.raises(ValueError, match="exactly one"):
                fn(df, *args, df.filter(flag), target_flag=flag)


class TestEmptyDocRobustness:
    def test_gopher_handles_empty_and_whitespace_docs(self, spark):
        """Zero-word docs must yield NULL ratio metrics and
        passes=false — under ANSI mode a plain `/` raised
        DIVIDE_BY_ZERO mid-scan (regression)."""
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "the and that with ok doc here")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               wq.gopher_quality(df, "doc_id", "text", min_words=1).collect()}
        assert out[1].n_words == 0 and out[1].mean_word_len is None
        assert out[1].passes is False and out[2].passes is False
        assert out[3].passes is True

    def test_duplicate_line_stats_all_empty_lines(self, spark):
        df = spark.createDataFrame(
            [(1, "\n\n"), (2, "a\nb\na")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in
               wq.duplicate_line_stats(df, "doc_id", "text").collect()}
        assert out[1].dup_line_char_frac is None  # zero line chars
        assert out[1].dup_line_frac == round(2 / 3, 6)  # 3 empty lines
        assert out[2].dup_line_frac == round(1 / 3, 6)


class TestScriptProfile:
    def test_hand_computed_fractions(self, spark):
        from hadoop_distributed_dynamic_file_system_spark.operators import textnorm

        # 10 chars: 4 letters, 2 digits, 2 spaces, 1 non-ascii, 1 punct
        df = spark.createDataFrame(
            [(1, "ab cd 12é!"), (2, "")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in textnorm.script_profile(df, "doc_id", "text").collect()}
        r = out[1]
        assert r.n_chars == 10
        assert r.letter_frac == 0.4
        assert r.digit_frac == 0.2
        assert r.space_frac == 0.2
        assert r.nonascii_frac == 0.1
        assert r.other_frac == 0.1
        assert 2 not in out
