"""Engine facade + CLI surface (the bin/hadoop analog)."""

import json
import os

from hadoop_distributed_dynamic_file_system_spark import cli
from hadoop_distributed_dynamic_file_system_spark.engine import Engine


class TestEngine:
    def test_table_access_updates_heat(self, spark, sf_dir):
        eng = Engine(data_dir=sf_dir, spark=spark, hot_set=True)
        eng.table("orders")
        eng.table("orders")
        eng.table("nation")
        rep = {r["table"]: r for r in eng.heat_report()}
        assert rep["orders"]["accesses"] == 2
        assert rep["nation"]["accesses"] == 1
        assert rep["lineitem"]["accesses"] == 0
        spark.catalog.clearCache()

    def test_sql_over_registered_views(self, spark, sf_dir):
        eng = Engine(data_dir=sf_dir, spark=spark, hot_set=False)
        n = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
        assert n == 25


class TestCli:
    def test_fs_roundtrip(self, spark, tmp_path, capsys):
        d = str(tmp_path / "x")
        assert cli.main(["fs", "-mkdir", d]) == 0
        assert cli.main(["fs", "-test", d]) == 0
        (tmp_path / "x" / "f.txt").write_text("hello")
        assert cli.main(["fs", "-ls", d]) == 0
        out = capsys.readouterr().out
        assert "f.txt" in out
        assert cli.main(["fs", "-stat", d + "/f.txt"]) == 0
        assert json.loads(capsys.readouterr().out)["length"] == 5
        assert cli.main(["fs", "-rmr", d]) == 0
        assert cli.main(["fs", "-test", d]) == 1

    def test_wordcount_job(self, spark, tmp_path):
        src = tmp_path / "in.txt"
        src.write_text("b a a\na b a\n")
        out = str(tmp_path / "out")
        assert cli.main(["wordcount", str(src), out]) == 0
        merged = {}
        import glob

        for p in glob.glob(out + "/part-*"):
            for line in open(p).read().splitlines():
                w, c = line.split("\t")
                merged[w] = int(c)
        assert merged == {"a": 4, "b": 2}

    def test_streaming_job_mapper_only(self, spark, tmp_path):
        src = tmp_path / "in.txt"
        src.write_text("x1\nx2\n")
        out = str(tmp_path / "sout")
        assert cli.main(
            ["streaming", "-input", str(src), "-output", out,
             "-mapper", "tr 'x' 'y'"]
        ) == 0
        import glob

        lines = set()
        for p in glob.glob(out + "/part-*"):
            lines.update(open(p).read().splitlines())
        assert lines == {"y1\t", "y2\t"}  # key<TAB>value, empty values

    def test_streaming_combiner_runs_map_side(self, spark, tmp_path):
        # -combiner (StreamJob.java:251-284): visible because the
        # combiner command rewrites the mapper's output keys
        src = tmp_path / "in.txt"
        src.write_text("a1\nc2\n")
        out = str(tmp_path / "cout")
        assert cli.main(
            ["streaming", "-input", str(src), "-output", out,
             "-mapper", "cat", "-combiner", "tr 'ac' 'bd'"]
        ) == 0
        import glob

        lines = set()
        for p in glob.glob(out + "/part-*"):
            lines |= {l.split("\t")[0] for l in open(p).read().splitlines()}
        assert lines == {"b1", "d2"}

    def test_streaming_keyfield_partitioner_coalesces_key_prefix(
        self, spark, tmp_path
    ):
        # all keys share field1 "a" -> KeyFieldBasedPartitioner with
        # numKeyFieldsForPartition=1 must route every record to the SAME
        # reducer process even across 8 reduce partitions; the reducer
        # prints its record count, so exactly one non-empty line appears
        src = tmp_path / "in.txt"
        src.write_text("".join(f"a\t{i}\tv\n" for i in range(6)))
        out = str(tmp_path / "pout")
        assert cli.main(
            ["streaming", "-input", str(src), "-output", out,
             "-mapper", "cat", "-numKeyFields", "2",
             "-reducer", "awk 'END {if (NR>0) print NR}'",
             "-partitioner", "KeyFieldBasedPartitioner",
             "-numKeyFieldsForPartition", "1",
             "-numReduceTasks", "8"]
        ) == 0
        import glob

        lines = []
        for p in glob.glob(out + "/part-*"):
            lines += [l for l in open(p).read().splitlines() if l.strip("\t")]
        assert [l.split("\t")[0] for l in lines] == ["6"]

    def test_streaming_inputreader_xml_records(self, spark, tmp_path):
        src = tmp_path / "in.xml"
        src.write_text("<r>a</r>junk<r>b</r>")
        out = str(tmp_path / "xout")
        assert cli.main(
            ["streaming", "-input", str(src), "-output", out,
             "-mapper", "cat",
             "-inputreader", "StreamXmlRecordReader,begin=<r>,end=</r>"]
        ) == 0
        import glob

        lines = set()
        for p in glob.glob(out + "/part-*"):
            lines |= {l.split("\t")[0] for l in open(p).read().splitlines()}
        assert lines == {"<r>a</r>", "<r>b</r>"}

    def test_streaming_kv_inputformat_and_seqfile_output(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark.sources.sequencefile import (
            read_sequence_file,
        )

        src = tmp_path / "in.txt"
        src.write_text("k1\tv1\nk2\tv2\n")
        out = str(tmp_path / "sqout")
        assert cli.main(
            ["streaming", "-input", str(src), "-output", out,
             "-mapper", "cat",
             "-inputformat", "KeyValueTextInputFormat",
             "-outputformat", "SequenceFileOutputFormat"]
        ) == 0
        got = {(r.key, r.value) for r in read_sequence_file(spark, out).collect()}
        assert got == {("k1", "v1"), ("k2", "v2")}

    def test_heat_report_cli(self, spark, sf_dir, capsys):
        assert cli.main(
            ["heat", sf_dir, "SELECT count(*) FROM nation", "SELECT 1"]
        ) == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
        assert {r["table"] for r in lines} >= {"nation", "orders"}
        spark.catalog.clearCache()

    def test_maintain_cli(self, spark, capsys):
        import shutil

        from hadoop_distributed_dynamic_file_system_spark.operators import (
            dedup,
        )
        from pyspark.sql import functions as F

        t = "t_cli_maint"
        for x in (t, t + "__tombstones", t + "__compact_tmp"):
            spark.sql(f"DROP TABLE IF EXISTS {x}")
            shutil.rmtree(f"spark-warehouse/{x}", ignore_errors=True)
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "an entirely different sentence about storage layers"),
            ],
            "doc_id long, text string",
        )
        try:
            dedup.freeze_band_index_attributed(
                corpus, "doc_id", "text", t, num_buckets=8
            )
            dedup.retract_from_band_index(
                spark, t,
                corpus.filter(F.col("doc_id") == 1).select("doc_id"),
                "doc_id",
            )
            # dry-run: decision reported, tombstones untouched
            assert cli.main(["maintain", t, "--dry-run"]) == 0
            rec = json.loads(capsys.readouterr().out.splitlines()[-1])
            assert rec["action"] == "would_compact"
            assert spark.catalog.tableExists(t + "__tombstones")
            # real tick compacts; a second table that errors flips the
            # exit code but does not block the healthy one
            assert cli.main(["maintain", t, "t_cli_maint_missing"]) == 1
            recs = [
                json.loads(l) for l in capsys.readouterr().out.splitlines()
            ]
            assert [r["action"] for r in recs] == ["compacted", "error"]
            assert not spark.catalog.tableExists(t + "__tombstones")
        finally:
            for x in (t, t + "__tombstones", t + "__compact_tmp"):
                spark.sql(f"DROP TABLE IF EXISTS {x}")
            spark.catalog.clearCache()

    def test_fs_text_decodes_sequencefile(self, spark, tmp_path, capsys):
        path = str(tmp_path / "seqt")
        spark.sparkContext.parallelize([("a", "1"), ("b", "2")], 1).saveAsSequenceFile(path)
        import glob

        part = sorted(glob.glob(path + "/part-*"))[0]
        assert cli.main(["fs", "-text", part]) == 0
        out = capsys.readouterr().out
        assert "a\t1" in out and "b\t2" in out

    def test_fsck_cli(self, spark, tmp_path, sf_dir, capsys):
        import glob
        import os

        table = str(tmp_path / "t")
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
            .repartition(2).write.parquet(table)
        assert cli.main(["fsck", table]) == 0
        assert "Status: HEALTHY" in capsys.readouterr().out
        # truncated data file exits nonzero and names the corrupt file
        victim = glob.glob(table + "/part-*.parquet")[0]
        with open(victim, "r+b") as f:
            f.truncate(100)
        assert cli.main(["fsck", table]) == 1
        assert "CORRUPT" in capsys.readouterr().out

    def test_distcp_cli(self, spark, tmp_path, capsys):
        (tmp_path / "s").mkdir()
        (tmp_path / "s" / "a").write_text("abc")
        assert cli.main(["distcp", str(tmp_path / "s"), str(tmp_path / "d")]) == 0
        assert "copied=1" in capsys.readouterr().out
        assert (tmp_path / "d" / "a").read_text() == "abc"


class TestSqlExport:
    def test_export_sql_runs_on_duckdb(self, tmp_path, capsys):
        # the exported twin is genuinely cross-engine: run it in DuckDB
        assert cli.main(["export-sql", "q1_pricing_summary", "-o", str(tmp_path)]) == 0
        sql = (tmp_path / "q1_pricing_summary.sql").read_text()
        assert "sum_qty" in sql  # aliased like the Spark side
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
        )
        rows = con.execute(sql).fetchall()
        assert len(rows) >= 4  # returnflag/linestatus groups

    def test_export_sql_all_and_unknown(self, tmp_path, capsys):
        assert cli.main(["export-sql", "-o", str(tmp_path)]) == 0
        import glob

        assert len(glob.glob(str(tmp_path / "*.sql"))) >= 40
        assert cli.main(["export-sql", "no_such_query"]) == 2


class TestBenchRoundInference:
    def test_lifecycle_aware_round(self, tmp_path):
        # driver lifecycle: CORRECTNESS_r{N} lands BEFORE its bench
        # run, BENCH_r{N} after — so cor>ben means close-of-round N,
        # cor==ben means a mid-round run of N+1 (ADVICE r7)
        import bench

        d = str(tmp_path)
        assert bench.infer_round(d) == 1  # fresh repo: first round
        (tmp_path / "CORRECTNESS_r07.json").write_text("{}")
        (tmp_path / "BENCH_r07.json").write_text("{}")
        assert bench.infer_round(d) == 8  # mid-round 8
        (tmp_path / "CORRECTNESS_r08.json").write_text("{}")
        assert bench.infer_round(d) == 8  # close of round 8
        (tmp_path / "BENCH_r08.json").write_text("{}")
        assert bench.infer_round(d) == 9  # round 9 begins
        assert bench.infer_round(d, forced_round=3) == 3  # override

    def test_lifecycle_phase_in_default_label(self, tmp_path):
        # ADVICE r8: two unlabeled runs of the same round must not
        # share a label across lifecycle phases — the phase rides in
        # the inferred label so a close-of-round re-run keeps the
        # mid-round history rows.
        import bench

        d = str(tmp_path)
        assert bench.infer_phase(d) == "mid"  # fresh repo
        (tmp_path / "CORRECTNESS_r08.json").write_text("{}")
        assert bench.infer_phase(d) == "close"
        (tmp_path / "BENCH_r08.json").write_text("{}")
        assert bench.infer_phase(d) == "mid"  # round 9 working runs

    def test_malformed_cpu_count_falls_back(self, monkeypatch):
        # the count is read after the timed work: a bad value must not
        # raise and lose the finished record
        import bench

        for bad in ("", "eight", "0", "-4"):
            monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
            assert bench.cpu_count() == (os.cpu_count() or 8)
        monkeypatch.delenv("SPARK_GRAFT_CPUS")
        assert bench.cpu_count() == (os.cpu_count() or 8)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
        assert bench.cpu_count() == 6

    def test_history_csv_always_has_header(self, tmp_path):
        # ADVICE r8: an empty existing file, or a (round,label) filter
        # that removes every line, must still produce a headered CSV
        import bench

        hist = str(tmp_path / "h.csv")
        (tmp_path / "h.csv").write_text("")  # exists but empty
        bench.update_history(hist, 9, "r09-mid-inferred", {"q": 1.0})
        lines = open(hist).read().splitlines()
        assert lines[0] == "round,query,seconds,label"
        assert lines[1] == "9,q,1.0,r09-mid-inferred"
        # same (round,label) re-run replaces its own rows only, and
        # the header survives even when the filter drops every line
        bench.update_history(hist, 9, "r09-mid-inferred", {"q": 2.0})
        lines = open(hist).read().splitlines()
        assert lines == ["round,query,seconds,label", "9,q,2.0,r09-mid-inferred"]
        # a different label coexists; the other round's rows persist
        bench.update_history(hist, 9, "r09-final", {"q": 3.0})
        lines = open(hist).read().splitlines()
        assert lines[0] == "round,query,seconds,label"
        assert set(lines[1:]) == {"9,q,2.0,r09-mid-inferred", "9,q,3.0,r09-final"}


class TestBenchStdoutLine:
    FIELDS = {"metric": "headline_queries_total_wall", "value": 1.0,
              "queries": {}, "io": {}, "round_label": "r13"}

    def test_packs_slowest_prefix_under_budget(self, capsys):
        import bench

        timings = {f"entry_{i:03d}": round(0.1 + i * 0.037, 3) for i in range(150)}
        line = bench.stdout_line(self.FIELDS, timings)
        assert len(line) <= bench.STDOUT_BUDGET
        got = list(json.loads(line)["queries"])
        slowest = sorted(timings, key=lambda k: -timings[k])
        assert got == slowest[:len(got)] and len(got) > bench.STDOUT_FLOOR
        assert list(json.loads(line)) == list(self.FIELDS)
        assert capsys.readouterr().err == ""

    def test_oversized_io_block_warns(self, capsys):
        import bench

        fields = {**self.FIELDS, "io": {"pad": "x" * 2000}}
        timings = {f"entry_{i:03d}": float(i) for i in range(150)}
        line = bench.stdout_line(fields, timings)
        assert len(json.loads(line)["queries"]) == bench.STDOUT_FLOOR
        err = capsys.readouterr().err
        assert f"stdout line is {len(line)} chars" in err


class TestShippedScripts:
    def test_streaming_file_ships_mapper_script(self, spark, tmp_path):
        # Hadoop Streaming -file: the mapper is a LOCAL script referenced
        # by basename, shipped to tasks via addFile
        script = tmp_path / "upmap.py"
        script.write_text(
            "#!/usr/bin/env python3\n"
            "import sys\n"
            "for line in sys.stdin:\n"
            "    print(line.strip().upper())\n"
        )
        src = tmp_path / "in.txt"
        src.write_text("ab\ncd\n")
        out = str(tmp_path / "fout")
        assert cli.main([
            "streaming", "-input", str(src), "-output", out,
            "-mapper", "upmap.py", "-file", str(script),
        ]) == 0
        import glob

        lines = set()
        for p in glob.glob(out + "/part-*"):
            lines |= {l.split("\t")[0] for l in open(p).read().splitlines()}
        assert lines == {"AB", "CD"}

    def test_ship_and_pipe_nonzero_exit_fails_task(self, spark, tmp_path):
        from hadoop_distributed_dynamic_file_system_spark import pipe as pipe_mod

        bad = tmp_path / "bad.sh"
        bad.write_text("#!/bin/sh\ncat >/dev/null\nexit 3\n")
        df = spark.createDataFrame([("x",)], "line string").coalesce(1)
        import pytest as _pytest

        with _pytest.raises(Exception, match="exited 3"):
            pipe_mod.ship_and_pipe(df, "bad.sh", [str(bad)]).collect()
