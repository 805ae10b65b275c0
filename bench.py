"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query materializes via the `noop` sink (full execution, no
driver-side collection cost). JVM/session startup is excluded; the
value is the sum of per-query wall times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_distributed_dynamic_file_system_spark.session import get_spark  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import measure  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import queries as q  # noqa: E402
from hadoop_distributed_dynamic_file_system_spark import queries_llm  # noqa: E402,F401  (registers)
from hadoop_distributed_dynamic_file_system_spark.measure import materialize  # noqa: E402

# Headline set: one per operator family, weighted toward shuffle-heavy
# shapes where the 100 TB design actually shows.
HEADLINE = [
    "q1_pricing_summary",
    "wordcount",
    "revenue_per_nation",
    "join_expr_override",
    "secondary_sort",
    "total_order_sort",
    "top_k_per_group",
    "value_histogram",
    "md5_filter",
    "events_hourly",
    "sessionization",
    "set_ops",
    "q17_small_qty_revenue",
    "q21_sole_fault_supplier",
    "q5_local_supplier",
    "q19_discounted_revenue",
    "q9_product_profit",
    "decile_histogram",
    # temporal family
    "asof_attribution",
    "daily_locf_snapshot",
    "user_rolling_stats",
    # LLM-pipeline family
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard",
    "ann_brute_force",
    "lang_id",
    "token_counts",
    "pii_redaction",
    "contamination",
    "dedup_components",
    "sequence_packing",
    "edit_distance_verify",
    "tfidf_top_terms",
    # round-3 additions
    "repetition_ratio",
    "sharded_term_lookup",
    "source_overlap_matrix",
    "media_roundtrip",
    "wav_roundtrip",
    "time_weighted_avg",
    # round-4 additions
    "winnow_fingerprints",
    "unigram_lm_scores",
    "dup_ngram_fraction",
    "incremental_near_dedup",
    "semantic_dedup",
    "lm_quality_buckets",
    "bpe_pair_counts",
    "source_curation_report",
    # round-5 additions: the previously-unbenched heavy shapes, so the
    # contract-then-solve CC win and the PQ scoring cost are tracked
    # round-over-round, not just in SCALING/STRESS
    "multi_signal_components",
    "winnow_overlap",
    "ann_ivf_pq",
    "pq_codes",
    # round-5 web-quality family (one per plan shape: zero-shuffle
    # projection, line-key winner election, broadcast-model scoring)
    "gopher_quality_flags",
    "line_dedup_corpus",
    "dsir_importance_scores",
    "span_dedup_cleaned",
    "classifier_source_recovery",
    "bigram_lm_scores",
    "web_curation_pipeline",
    "image_ahash_roundtrip",
    "audio_fingerprint_roundtrip",
    "video_metadata_roundtrip",
    "warc_url_extract",
    "bpe_encode_tokens",
    # round-5 late additions: codec-tier crawl ingest, chunking,
    # lexical retrieval, and the iterative link-graph ranker
    "warc_gzip_members",
    "doc_chunks",
    "bm25_retrieval",
    # link_graph_rank (plain) is NOT benched: it is the w=1 special
    # case of the weighted power iteration below, and two variants of
    # the same loop cost ~12s of wall that measures iteration-count ×
    # fixed local-mode overhead twice (VERDICT-r5 "what's wrong #2").
    # Plain PageRank stays oracle-checked in the registry and
    # STRESS-measured per-edge (tools/stress.py).
    "normalized_corpus",
    "kn_bigram_lm_scores",
    "char_entropy_scores",
    "oov_rate_top_vocab",
    "jl_projection",
    "ngram_containment",
    "int8_quantized_embeddings",
    "ann_int8_topk",
    "training_order_shuffle",
    "script_profile",
    "normalized_dedup",
    "crawl_to_chunks_pipeline",
    "ann_ivf_int8",
    "link_graph_rank_weighted",
    # round-6 additions: corpus-fit diagnostic, hybrid lexical+dense
    # fusion, the two-stage re-rank serving shape, host-level gating
    "zipf_slope",
    "hybrid_rrf_retrieval",
    "ann_two_stage_rerank",
    "host_quality_rollup",
    "scd2_user_state",
    "kmv_source_overlap",
    "mixing_token_plan",
    "png_ahash_roundtrip",
    "gif_ahash_roundtrip",
    "kmv_incremental_distinct",
    # round-6 web-text family: HTML extraction, URL canonical dedup,
    # eTLD+1 rollup, benchmark decontamination removal
    "html_text_extract",
    "html_host_links",
    "url_normalized_dedup",
    "registrable_domains",
    "decontaminated_corpus",
    "host_boilerplate_cleaned",
    "bm25_incremental_stats",
    "domain_capped_sample",
    "anchor_text_terms",
    "registrable_domains_psl",
    "web_graph_pipeline",
    "robots_url_gate",
    "curriculum_order",
    "fuzzy_decontaminated",
    "contrastive_negatives",
    "in_domain_negatives",
    # round-6 training-prep family: FIM objective transform,
    # padding-bounded batch assignment, code/prose routing,
    # quality-aware dedup keeper
    "fim_transform",
    "length_bucketed_batches",
    "code_prose_flags",
    "cluster_best_keeper",
    "robots_rep_gate",
    "orc_roundtrip",
    # round-6 formats/ops/skew wave
    "mojibake_stats",
    "snapshot_diff",
    "moment_stats_merge",
    "schema_evolution_read",
    "csv_roundtrip",
    "skew_salted_join",
    "skew_salted_agg",
    "incremental_recompute",
    "quantile_histogram_merge",
    "classifier_auc",
    "snapshot_psi_drift",
    "bpe_fertility_by_lang",
    "snapshot_mean_drift",
    # round-7 additions: the lossy-DCT decode roundtrip (closes the
    # REAL_DECODE gate) and the LSH bucket census diagnostic
    "jpeg_ahash_roundtrip",
    "lsh_bucket_stats",
    # round-8 additions: driver-oracle pin for the disjoint-band
    # hamming join (previously pytest-only) and its pre-flight census
    "hamming_near_pairs",
    "hamming_bucket_stats",
    # round-9 addition: the 100 TB incremental-dedup path (frozen band
    # index as a bucketed catalog table, sort-merge probe) priced next
    # to its broadcast twin incremental_near_dedup
    "incremental_dedup_bucketed",
    "incremental_dedup_extended",
    "ann_ivf_extended",
    # round-9: the embedding twin of the frozen-index gates — day-2
    # SemDeDup probing the served IVF inverted lists
    "incremental_semantic_dedup",
    # round-9: the day-2 DELETE leg — attributed index + tombstone
    # retraction, priced so the broadcast-anti overhead per probe shows
    "dedup_retraction",
    "dedup_attribution",
    # round-9: vector-store erasure — tombstoned IVF serve priced next
    # to the plain indexed serve inside ann_ivf_extended
    "ann_retraction",
    # round-9: the MONITOR leg — the ops census an operator runs to
    # schedule compaction; priced so the cadence call stays cheap
    "index_health",
    # round-9: RESURRECTION (retract -> re-add clears tombstones);
    # cost shape = dedup_retraction + one batch-sized extend
    "dedup_resurrection",
    # round-10: the DAEMON leg — census + fired compaction + the
    # idempotent re-tick, priced as one maintenance cycle.
    # index_file_compaction (the fragmentation-signal twin) is
    # oracle-checked but NOT benched: its wall decomposes into
    # index_maintenance (above) + two extends already priced in
    # incremental_dedup_extended, and the file census itself is a
    # millisecond driver listing.
    "index_maintenance",
    # round-10: media-index DELETE leg (BMP decode + attributed freeze
    # + tombstoned probe), the image twin of dedup_retraction
    "media_index_retraction",
    # round-11: index_fleet_sweep (the maintain_indexes driver pin) is
    # oracle-checked but NOT benched: its wall decomposes into
    # index_maintenance (above) + a key-only freeze + one REFUSED tick
    # (the attribution guard raises before any scan) — no new cost
    # shape to price.
    # index_crash_recovery is oracle-checked but NOT benched: its wall
    # IS index_maintenance (above) + two catalog ops (the staged-swap
    # crash simulation and the heal's rename are metadata-only) — no
    # new cost shape to price.
    # index_generational_rollover is oracle-checked (+ in SCALING:
    # 1.4x on the 10x step) but NOT benched: the generational fold is
    # wall-time-identical to the legacy fold by design (STRESS
    # gen_fold_90x_catalog_only_swap 2.6 s vs frag_tick_fired_fold
    # 2.5 s — the layout buys live-gate survival with 2x retention
    # bytes, not time), so its cost decomposes into index_maintenance
    # (above) + the one-time migration priced in STRESS
    # gen_migrate_90x.
    # anchor_link_rank and anchor_hits are oracle-checked (+ rank in
    # SCALING) but NOT benched:
    # it is a third power-iteration entry whose wall-time is
    # iteration-count x fixed local overhead (VERDICT-r5 ask #4 keeps
    # link_graph_rank_weighted as the single rank headline)
]


# Per-entry rep counts (default 2, min-of-2). The dense-CC/self-join
# family gets 3 reps + MEDIAN: their wall time is dominated by many
# small stages, so a single GC pause or ambient-load blip lands
# INSIDE one rep and min-of-2 still reads high — three rounds running
# the driver's one-shot record flagged a phantom >1.5x regression here
# that an isolated 3-rep probe then cleared (VERDICT r9 "what's wrong"
# #3). The median of 3 absorbs one contaminated rep by construction,
# so the committed artifact stops ping-ponging.
REPS = {
    "multi_signal_components": 3,
    "winnow_overlap": 3,
    "link_graph_rank_weighted": 3,
    "incremental_semantic_dedup": 3,
}


def cpu_count() -> int:
    """SPARK_GRAFT_CPUS, or os.cpu_count() when it is unset or not a
    positive integer: it is read after the timed work, so a bad value
    must not lose the record."""
    try:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        cpus = 0
    return cpus if cpus > 0 else os.cpu_count() or 8


def _artifact_rounds(repo: str) -> tuple[int, int]:
    """(max CORRECTNESS round, max BENCH round) from the driver's
    artifact files — the single source both infer_round and
    infer_phase read, so the two can never silently disagree."""
    import glob
    import re

    def _max_round(pattern):
        ns = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo, pattern))
            if (m := re.search(r"r(\d+)\.json$", p))
        ]
        return max(ns) if ns else 0

    return _max_round("CORRECTNESS_r*.json"), _max_round("BENCH_r*.json")


def infer_round(repo: str, forced_round: int | None = None) -> int:
    """Lifecycle-aware round inference (ADVICE r7): the driver writes
    CORRECTNESS_r{N} BEFORE running bench and BENCH_r{N} AFTER it, so
    max(CORRECTNESS) ahead of max(BENCH_r) means this run is the CLOSE
    of round N (label rows N, not N+1); the two equal means a
    mid-round run of round N+1. An explicit --round overrides both."""
    if forced_round is not None:
        return forced_round
    cor, ben = _artifact_rounds(repo)
    return cor if cor > ben else cor + 1


def infer_phase(repo: str) -> str:
    """Which lifecycle phase an unlabeled run is in, from the same
    artifact comparison as infer_round: CORRECTNESS ahead of BENCH_r
    means the driver is closing the round ("close"); equal means a
    mid-round working run ("mid"). Folded into the default label so
    two unlabeled runs only overwrite each other's history rows when
    they are genuinely the same kind of run (ADVICE r8: an unlabeled
    close-of-round re-run used to replace the unlabeled mid-round
    rows, because both defaulted to the same rNN-inferred label)."""
    cor, ben = _artifact_rounds(repo)
    return "close" if cor > ben else "mid"


def update_history(
    hist: str, rnd: int, label: str, timings: dict[str, float]
) -> None:
    """Append this run's rows to the round-keyed history CSV.

    Re-runs replace only rows with the SAME (round, label); other
    rounds/labels pass through unchanged. The lifecycle phase is part
    of the default label (infer_phase), so an unlabeled close-of-round
    re-run no longer replaces the unlabeled mid-round rows; two
    unlabeled runs in the SAME phase still overwrite each other — pass
    --label to keep both. The header is rebuilt unconditionally: an
    empty file or a filter that removes every line must not produce a
    headerless CSV (ADVICE r8)."""
    header = "round,query,seconds,label\n"
    kept: list[str] = []
    if os.path.exists(hist):
        with open(hist) as f:
            kept = [
                ln for ln in f
                if ln.strip()
                and not ln.startswith("round,")
                and not (
                    ln.startswith(f"{rnd},")
                    and ln.rstrip("\n").endswith(f",{label}")
                )
            ]
    new_rows = [
        f"{rnd},{name},{sec},{label}\n"
        for name, sec in sorted(timings.items())
    ]
    with open(hist, "w") as f:
        f.writelines([header] + kept + new_rows)


STDOUT_BUDGET = 1800
STDOUT_FLOOR = 12


def stdout_line(fields: dict, timings: dict[str, float]) -> str:
    """`fields` as one compact JSON line whose "queries" holds the
    slowest entries of `timings`, as many as fit in STDOUT_BUDGET chars
    but never fewer than STDOUT_FLOOR. A line that is over budget even
    at the floor is still returned, with a warning on stderr."""
    ordered = sorted(timings.items(), key=lambda kv: -kv[1])

    def line(k: int) -> str:
        return json.dumps({**fields, "queries": dict(ordered[:k])}, separators=(",", ":"))

    k = len(ordered)
    while k > STDOUT_FLOOR and len(line(k)) > STDOUT_BUDGET:
        k -= 1
    out = line(k)
    if len(out) > STDOUT_BUDGET:
        print(
            f"bench: stdout line is {len(out)} chars, over the {STDOUT_BUDGET}-char "
            f"budget at the {STDOUT_FLOOR}-entry floor",
            file=sys.stderr,
        )
    return out


def main() -> None:
    # --round N / --label STR pin the round this run records under
    # (ADVICE r7: the max(CORRECTNESS_r*)+1 inference mislabels a
    # re-run that happens AFTER the current round's CORRECTNESS file
    # lands — an explicit flag makes the record unambiguous, and the
    # label is embedded in the JSON so a mismatch is detectable).
    forced_round: int | None = None
    run_label: str | None = None
    argv = sys.argv[1:]
    while argv:
        a = argv.pop(0)
        if a == "--round" and argv:
            forced_round = int(argv.pop(0))
        elif a.startswith("--round="):
            forced_round = int(a.split("=", 1)[1])
        elif a == "--label" and argv:
            run_label = argv.pop(0)
        elif a.startswith("--label="):
            run_label = a.split("=", 1)[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # captured BEFORE the session spins up its own 32 threads: ambient
    # machine load at start is the contamination signal; the end
    # snapshot mostly reads this bench's own work
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("bench")

    # Warm-up at the smallest SF: pays whole-stage-codegen JIT for each
    # plan shape once, so timings below measure steady-state throughput
    # (on a long-lived cluster the JIT cost amortizes to zero).
    runs = {name: measure.query(spark, name) for name in HEADLINE if name in q.QUERIES}
    for name, run in runs.items():
        measure.warm_small(name, run, sf_dir)
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    def single_shot(name: str, thunk) -> None:
        timings[name] = round(measure.time_reps(spark, thunk, 1, name).value, 3)

    for name, run in runs.items():
        # min-of-2 by default, median of 3 for the REPS entries (see
        # measure.statistic). All rep times are kept in the full
        # record (queries_spread): a wide max/min spread on entries
        # whose code did not change marks a load-contaminated run
        # (VERDICT r8 "what's wrong #2" — the driver's mid-round
        # capture read 1.26x high from concurrent machine activity).
        t = measure.time_reps(spark, lambda: run(sf_dir), REPS.get(name, 2), name)
        timings[name] = round(t.value, 3)
        spreads[name] = t.spread

    # TeraSort-shaped sort throughput (datagen → total-order sort),
    # scaled with the SF so the number tracks data volume
    from hadoop_distributed_dynamic_file_system_spark import datagen
    from hadoop_distributed_dynamic_file_system_spark.operators import sort as sort_ops

    n_rows = int(2_000_000 * (float(sf) if sf.replace(".", "").isdigit() else 0.1))
    measure.warm("terasort", lambda: materialize(
        sort_ops.total_order_sort(datagen.teragen(spark, 10_000), "key10")))
    single_shot("terasort", lambda: materialize(
        sort_ops.total_order_sort(datagen.teragen(spark, n_rows), "key10")))

    # shuffle-free SMJ over bucketed tables (layout write NOT timed —
    # it's the amortized cost the layout exists to amortize)
    from pyspark.sql import functions as F
    from hadoop_distributed_dynamic_file_system_spark.operators import skew

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderdate"
    )
    for t in ("bench_li", "bench_o"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    skew.write_bucketed(li, "bench_li", ["l_orderkey"], num_buckets=16)
    skew.write_bucketed(o, "bench_o", ["o_orderkey"], num_buckets=16)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        single_shot("bucketed_join", lambda: materialize(spark.table("bench_li").join(
            spark.table("bench_o"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("bench_li", "bench_o"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    # Skew study: 90% of lineitem rows collapse onto one join key, the
    # dim is non-broadcastable (threshold -1). Three strategies over the
    # identical plan shape: plain SMJ (one fat partition), AQE skew-join
    # (thresholds lowered so sf0.1 partitions qualify for splitting),
    # salted join (explicit scatter). At cluster scale AQE's defaults
    # (256 MB threshold) kick in without tuning; salting remains for
    # skew-under-aggregation where AQE can't re-plan.
    skewed = li.select(
        F.when(F.pmod("l_orderkey", F.lit(10)) < 9, F.lit(0))
        .otherwise(F.pmod("l_orderkey", F.lit(1000)))
        .cast("long")
        .alias("k"),
        "l_extendedprice",
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    }
    saved = {k: spark.conf.get(k) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        single_shot("skew_join_plain", lambda: materialize(skewed.join(dim, on="k")))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        single_shot("skew_join_aqe", lambda: materialize(skewed.join(dim, on="k")))
        single_shot("skew_join_salted", lambda: materialize(
            skew.salted_join(skewed, dim, ["k"], salt=32)))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # Gridmix-style mixed workload (ref src/benchmarks/gridmix/README:
    # 20-75: generate → select/filter ("monsterQuery"/webdataScan shapes)
    # → sort, chained). Timed END TO END as one composite number so a
    # regression in any stage — datagen throughput, scan+filter, range
    # shuffle — moves the same metric round over round.
    def gridmix(n_rows: int) -> None:
        gen = datagen.random_text(spark, n_rows)  # generate
        selected = gen.filter(F.col("line").startswith("apple")).select("line")
        materialize(sort_ops.total_order_sort(selected, "line"))  # sort

    gm_rows = max(
        10_000, int(1_000_000 * (float(sf) if sf.replace(".", "").isdigit() else 0.1))
    )
    measure.warm("gridmix", lambda: gridmix(10_000))  # the composite plan shape
    single_shot("gridmix_pipeline", lambda: gridmix(gm_rows))

    # TestDFSIO analog (ref src/test/.../fs/TestDFSIO.java:63): bulk
    # sequential write then read of a generated table, reported both as
    # wall seconds (round-over-round comparable in `queries`) and as
    # MB/s (the reference's metric vocabulary) under `io`.
    import shutil
    import tempfile

    # 3-rep MEDIAN + spread for both io entries and nnbench (r10
    # VERDICT ask #5): these are one-shot, metadata/IO-bound numbers —
    # exactly the entries ambient machine load distorts most (the two
    # worst outliers on the contaminated r10 driver record read 2.9x /
    # >1.5x while the idle record sat in band). Median-of-3 absorbs one
    # contaminated rep; the spread rows make a dirty run self-evident.
    io_dir = tempfile.mkdtemp(prefix="dfsio_")
    try:
        io_rows = max(100_000, int(10_000_000 * (
            float(sf) if sf.replace(".", "").isdigit() else 0.1)))
        gen = datagen.teragen(spark, io_rows)  # ~100 B/row like DFSIO
        w_reps, r_reps = [], []
        nbytes = 0
        for rep in range(3):
            rep_dir = os.path.join(io_dir, f"rep{rep}")
            t0 = time.time()
            gen.write.mode("overwrite").parquet(rep_dir)
            w_reps.append(time.time() - t0)
            if rep == 0:
                nbytes = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(rep_dir) for f in fs
                )
            t0 = time.time()
            materialize(spark.read.parquet(rep_dir))
            r_reps.append(time.time() - t0)
            shutil.rmtree(rep_dir, ignore_errors=True)
        w_sec, r_sec = sorted(w_reps)[1], sorted(r_reps)[1]
        timings["dfsio_write"] = round(w_sec, 3)
        timings["dfsio_read"] = round(r_sec, 3)
        spreads["dfsio_write"] = [round(min(w_reps), 3), round(max(w_reps), 3)]
        spreads["dfsio_read"] = [round(min(r_reps), 3), round(max(r_reps), 3)]
        io_stats = {
            "write_mb_s": round(nbytes / w_sec / 1e6, 1),
            "read_mb_s": round(nbytes / r_sec / 1e6, 1),
            "bytes": nbytes,
        }
    finally:
        shutil.rmtree(io_dir, ignore_errors=True)

    # NNBench analog (ref hdfs/NNBench.java): pure metadata ops/s
    # through the FsShell surface — create/stat/ls/delete, no data.
    from hadoop_distributed_dynamic_file_system_spark.fileops import FsShell

    meta_dir = tempfile.mkdtemp(prefix="nnbench_")
    try:
        sh = FsShell(spark)
        n_meta = 200
        m_reps = []
        for rep in range(3):
            rep_dir = os.path.join(meta_dir, f"rep{rep}")
            os.mkdir(rep_dir)
            t0 = time.time()
            for i in range(n_meta):
                sh.touchz(os.path.join(rep_dir, f"f{i}"))
            for i in range(n_meta):
                sh.stat(os.path.join(rep_dir, f"f{i}"))
            sh.ls(rep_dir)
            for i in range(n_meta):
                sh.rm(os.path.join(rep_dir, f"f{i}"), skip_trash=True)
            m_reps.append(time.time() - t0)
        m_sec = sorted(m_reps)[1]
        timings["nnbench_meta"] = round(m_sec, 3)
        spreads["nnbench_meta"] = [round(min(m_reps), 3), round(max(m_reps), 3)]
        io_stats["meta_ops_s"] = round((3 * n_meta + 1) / m_sec, 1)
    finally:
        shutil.rmtree(meta_dir, ignore_errors=True)

    # MRBench analog (ref src/test/.../mapred/MRBench.java:38,301-304):
    # avg JOB LATENCY over N runs of a tiny fixed pipeline — zero-padded
    # number lines → identity map → shuffle → identity reduce (sorted
    # write). MRBench measures framework overhead per job, not
    # throughput, so the data stays deliberately small; the number that
    # matters is milliseconds per run.
    def mr_job() -> None:
        lines = spark.range(10_000).select(
            F.lpad(F.col("id").cast("string"), 10, "0").alias("line")
        )
        materialize(
            lines.repartition(8, "line").sortWithinPartitions("line")
        )

    mr_job()  # warm the plan shape once (JIT excluded, like the others)
    n_runs = 4
    mr_times = []
    for _ in range(n_runs):
        t0 = time.time()
        mr_job()
        mr_times.append(time.time() - t0)
    timings["mrbench"] = round(sum(mr_times), 3)
    io_stats["mrbench_avg_ms"] = round(1000 * sum(mr_times) / n_runs, 1)

    total = round(sum(timings.values()), 3)
    # Contamination flag (r11 VERDICT ask: both driver records started
    # at loadavg 14.0/11.5 on 32 cores and untouched entries swung
    # 0.36-0.46x): ambient 1-min load above a quarter of the core count
    # BEFORE this session spun up means per-query statuses at +-20% are
    # noise, and the record should say so itself instead of reading as
    # code regressions.
    contaminated = loadavg_start[0] > cpu_count() / 4
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-entry [min, max] of the two reps + the machine's load
        # average: a contaminated record self-identifies (wide spreads
        # on untouched entries, loadavg far above this session's own
        # 32 threads) instead of masquerading as a code regression
        "queries_spread": spreads,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "contaminated": contaminated,
        "io": io_stats,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # The driver captures only a ~2.2 KB tail of stdout, so a full
    # 135-entry line overflows it and BENCH_r{N}.json records
    # "parsed": null (VERDICT r5/r6 "what's wrong #1"). Contract kept
    # two ways: the FULL per-query record is written to
    # BENCH_LOCAL_r{N}.json in-repo (N from --round, else the
    # lifecycle-aware inference in infer_round) and appended to
    # tools/bench_history.csv for round-over-round diffs; stdout gets a
    # compact (<1.5 KB) summary line — total, io block, 12 slowest — as
    # the LAST line so the driver's tail-capture parses.
    repo = os.path.dirname(os.path.abspath(__file__))
    rnd = infer_round(repo, forced_round)
    # round_label makes the N-vs-round ambiguity detectable inside the
    # artifact itself (VERDICT r7 "what's wrong" #3): "r8" = which
    # round's rows these are, suffix = when in the round they ran.
    label = run_label or (
        f"r{rnd:02d}-{infer_phase(repo)}-inferred"
        if forced_round is None
        else f"r{rnd:02d}"
    )
    record["round"] = rnd
    record["round_label"] = label
    full_path = os.path.join(repo, f"BENCH_LOCAL_r{rnd:02d}.json")
    try:
        with open(full_path, "w") as f:
            json.dump(record, f, indent=1)
        update_history(
            os.path.join(repo, "tools", "bench_history.csv"),
            rnd, label, timings,
        )
    except OSError:
        pass  # bench numbers still printed below

    # Widest per-query window that survives the driver's stdout
    # tail-capture (r11 VERDICT ask #2: the old top-12 window hid 138
    # of 150 entries, manufactured phantom "dropped" lists, and made
    # PERF's n_common 9). All 150 entries would be a ~4.2 KB line and
    # the driver records only the LAST 2000 chars of stdout — r5/r6
    # showed an overflowing line lands as "parsed": null — so the line
    # is packed greedily, slowest entries first, under an 1800-char
    # budget (compact separators): ~55 entries instead of 12.
    # Additions-only: the old top-12 is always a prefix of this window,
    # and the complete dict stays in BENCH_LOCAL_r{N}.json.
    line = stdout_line({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "contaminated": contaminated,
        "loadavg_start": loadavg_start,
        "io": io_stats,
        "sf": record["sf"],
        "round_label": label,
        "full_record": os.path.basename(full_path),
    }, timings)
    # stop BEFORE printing: the JSON line must be the last bytes of the
    # driver's tail capture, and session shutdown can emit log lines
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
