"""Dump formatted physical plans for a curated headline set into
PLANS.md — the reviewable record that pushdown/broadcast/partial-agg
actually hold in the shipped plans (regenerate after planner-visible
changes: `python tools/plans.py`)."""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("q1_pricing_summary", "pushed filter + pruned columns + partial agg"),
    ("revenue_per_nation", "fact-fact shuffle on orderkey; dims broadcast"),
    ("q19_discounted_revenue", "factored disjunction pushed to part scan"),
    ("asof_attribution", "as-of join: one hash exchange + window, no join op"),
    ("minhash_lsh_pairs", "banded LSH self-join on xxhash64 band keys"),
    ("dedup_exact", "md5-key aggregation, map-side partial"),
    ("sequence_packing", "single shard exchange + running-sum window"),
    ("profile_customer", "all column metrics in one scan + stack pivot"),
    ("incremental_near_dedup", "stateless band keys + bands x broadcast anti-joins"),
    ("semantic_dedup", "centroid-bucketed pairwise kernel, broadcast routing"),
    ("winnow_fingerprints", "narrow array pipeline, single scan, distinct only"),
    # round-5 shapes
    ("gopher_quality_flags", "zero-shuffle projection: all metrics in one codegen stage"),
    ("line_dedup_corpus", "winner election on xxhash64 line keys; text never shuffles"),
    ("span_dedup_cleaned", "gram-key winner election + coverage anti-join + ordered reassembly"),
    ("dsir_importance_scores", "constant-size bucket models broadcast to the scoring scan"),
    ("web_curation_pipeline", "five curation stages fused into one plan"),
    # round-5 late additions
    ("doc_chunks", "scan-local sequence+posexplode+slice, zero shuffle"),
    ("bm25_retrieval", "term filter before the tf shuffle; stats broadcast"),
    ("warc_gzip_members", "one Arrow inflate stage, then pure codegen parse"),
    ("normalized_corpus", "one Arrow NFC stage + JVM regexp cleanup"),
    ("crawl_to_chunks_pipeline",
     "ingest->gate->normalize->dedup->chunk: two Arrow stages + one "
     "16-byte-key shuffle"),
    ("link_graph_rank", "3 power iterations: edge join + grouped sum "
     "per round, lineage truncated"),
    # round-6 shapes
    ("hybrid_rrf_retrieval", "postings semi-join before the tf shuffle; "
     "dense side broadcast; fusion on |Q|x10-row relations"),
    ("ann_two_stage_rerank", "bucket-pruned int8 candidates, exact cosine "
     "only on |Q|x20 rejoined rows"),
    ("kmv_source_overlap", "distinct + per-group rank; overlap matrix on "
     "broadcast-sized k-hash sketches"),
    ("scd2_user_state", "one key exchange + two window passes, no self-join"),
    ("zipf_slope", "frequency pass + TakeOrdered(100) + constant-size "
     "integer-micro-unit regression"),
    # round-6 web-text wave
    ("html_text_extract", "fused regexp-chain projection: zero shuffle, "
     "scan-bound text extraction"),
    ("host_boilerplate_cleaned", "per-host line support on (host, "
     "xxhash64(line)); host counts broadcast; ordered reassembly"),
    ("decontaminated_corpus", "benchmark shingles broadcast; corpus "
     "never shuffles; removal via broadcast left join"),
    ("bm25_incremental_stats", "per-shard df/N/sum_dl summation-merge; "
     "full-scan twin joined for the pin"),
    ("anchor_link_rank", "href extract -> host edge groupBy -> 3 weighted "
     "rank rounds with dangling completion"),
    ("fuzzy_decontaminated", "benchmark LSH band index probed by stateless "
     "band keys; anti-join per band, no pairwise stage"),
    ("robots_url_gate", "star-group parse + prefix gate, pure codegen"),
    ("curriculum_order", "quality tiers + hash shuffle through range-"
     "partitioned global_rank, no single-task window"),
    ("web_graph_pipeline", "extraction gate + weighted host rank fused "
     "into one per-host report"),
    # round-6 training-prep / hygiene shapes
    ("fim_transform", "hash-seeded cut points + substring reassembly, "
     "zero-shuffle codegen"),
    ("length_bucketed_batches", "one range shuffle (global_rank) + "
     "broadcast per-bucket offsets; no per-bucket window"),
    ("robots_rep_gate", "bounded rule explode through the LIKE kernel; "
     "winner election as partial-agg struct max"),
    ("snapshot_diff", "full-outer on id with 16-byte content keys; "
     "bodies never shuffle"),
    ("moment_stats_merge", "two-level partial aggregation of exact "
     "integer sufficient stats"),
    ("skew_salted_join", "hot keys scattered across 8 salted shuffle "
     "partitions; dim replicated by explode"),
    ("skew_salted_agg", "partials on (key, salt=16), final re-agg on "
     "key; decimal partials keep it exact"),
    ("incremental_recompute", "derive re-runs only for ADDED/CHANGED "
     "ids (left-semi on the hash diff); SAME rows carried forward"),
    ("quantile_histogram_merge", "additive histogram merge; cumulative "
     "window only on the distinct-bucket relation"),
    ("classifier_auc", "rank-sum AUC on the collapsed (group, score) "
     "relation; no per-row rank, exact integer tie handling"),
    ("snapshot_psi_drift", "two histogram groupBys; PSI on the bounded "
     "(group, bucket) relation, one-sided mass reported not smoothed"),
    ("bpe_fertility_by_lang", "fold once per DISTINCT word; encoded "
     "vocab broadcasts; corpus pass = explode + join + one groupBy"),
    # round-7 shapes
    ("jpeg_ahash_roundtrip", "id repartition -> one Arrow encode+decode "
     "stage (pure-numpy baseline JPEG) -> perceptual hash"),
    ("lsh_bucket_stats", "band explode + two-level groupBy; census is "
     "model-sized, only the bucket groupBy touches data"),
    # round-8 shapes
    ("hamming_near_pairs", "disjoint-band explode (x3, not corpus-"
     "pairs) -> band equi-join -> exact bit_count verify on "
     "candidates only -> pair distinct"),
    ("hamming_bucket_stats", "shift/mask band split + two-level "
     "groupBy; the multimodal pre-flight census"),
    # round-9 shapes. At oracle SF the frozen index sits under the
    # broadcast threshold, so these dumps SHOW Catalyst's size gate
    # choosing broadcast — the large-index shape (Bucketed:true scan,
    # zero Exchange on the frozen side, SMJ semi) is pinned under
    # threshold=-1 in tests/test_scale_types.py.
    ("incremental_dedup_bucketed", "frozen-index probe; broadcast "
     "here by size gate — the at-scale SMJ/zero-Exchange shape is "
     "plan-pinned in tests under threshold=-1"),
    ("incremental_dedup_extended", "the day-2 loop: two frozen-index "
     "probes around a batch-sized index append; the frozen side "
     "never re-shuffles at any size"),
    ("dedup_retraction", "the DELETE leg: tombstones ride the frozen "
     "side as a broadcast anti-join (retraction-sized build side), "
     "so the probe keeps the frozen scan Exchange-free"),
    ("index_health", "the MONITOR leg: the per-key census rides the "
     "index bucketing (no shuffle keyed on bk — the one "
     "hashpartitioning Exchange is the doc-sized distinct-live-id "
     "rewrite); three 1-row aggregates join by broadcast"),
    # round-10 shape
    ("index_maintenance", "the DAEMON leg: the dumped plan is the "
     "post-maintenance census over the already-compacted index (the "
     "two ticks ran at construction time — census collect, fired "
     "fold, idempotent re-tick); same census shape as index_health "
     "with an empty tombstone side"),
    # round-11 shape
    ("index_fleet_sweep", "the FLEET leg: post-sweep census of the "
     "healthy index after maintain_indexes refused the sick key-only "
     "index (attribution guard) and compacted the tombstoned one; "
     "the sweep's decision labels ride the plan as literals — the "
     "census itself is the index_health shape, Exchange-free on bk"),
    ("index_generational_rollover", "the ZERO-DOWNTIME leg: the "
     "census reads the post-rollover EXTERNAL index whose scan "
     "location is the swapped-in generation directory (catalog-only "
     "swap — the retired generation's files still exist on disk but "
     "are invisible to this plan); bucketing survives the swap, so "
     "the census stays Exchange-free on bk like index_health"),
]

# Preserved across regenerations: measured one-off evidence the
# VERDICT asked to keep on record (not plan dumps).
EPILOGUE = """
## Measured cost notes (round 6)

**jl_projection 512-term tree (VERDICT-r5 "what's wrong #3"), measured
at sf0.1**: Column-by-Column construction 2.4-3.7 s, Catalyst
analysis+planning 0.03-0.46 s, steady-state execution 0.28-0.33 s.
The bench row's ~3 s was py4j *expression construction*, not analysis
and not data — so `jl_project` now builds the tree as ONE SQL string
via `F.expr` (0.12-0.19 s build, value-identical, verified against the
oracle). For much larger dim·k the `mapInArrow` alternative (constant
build cost, Arrow transfer per batch) is noted at the call site; at
64×8 the codegen path wins on every axis. Note: Spark DOES disable
whole-stage codegen for this plan (generated code grows beyond 64 KB)
and falls back to interpreted projection — still 0.3 s for 100k rows;
the fallback is not the bottleneck at bench scale.

**bpe_encode_joined merge-chain depth (ROADMAP carry, VERDICT-r5 ask
#6), measured at sf0.1 with real learned merges**: depth 6 -> build
1.39 s / plan 0.09 s / exec 1.29 s (includes first-plan JIT); depth 25
-> 1.63 / 0.02 / 0.58; depth 50 -> 2.53 / 0.02 / 0.56. Execution is
FLAT in depth (vocabulary-bound fold, exactly the design intent);
plan-build cost grows linearly (~20 ms/merge of py4j calls) and the
localCheckpoint-every-8 keeps analysis flat. Linear, not super-linear
— no batched-fold variant needed; a thousand-merge tokenizer would pay
~20 s of one-time plan construction, amortized across the corpus pass
it feeds.

## Bench context (round 6)

The round-6 bench carries 98 entries (r5: 68) and the common-67 set
reads 1.13x of r5. Before calling that a regression, the prescribed
isolated probe (fresh session, min-of-3, idle machine) was run on the
eight most-inflated entries: every one is UNTOUCHED code this round
and shows the same uniform 1.3-1.5x inflation the io suite
independently measures (dfsio read 69.9 -> 61.7 MB/s, write 30.1 ->
28.3 MB/s on zero code change) — the ambient-machine-tax pattern
rounds 4 and 5 documented, compounded by the known session-position
effect as HEADLINE grows. No per-plan regression was identified.

Two entries DID change by design: `jl_projection` 2.98 -> 0.99 s (the
F.expr construction rewrite) and `int8_quantized_embeddings`
0.18 -> ~1.0 s — the driver-hash contract now requires scalar rows,
so the query posexplodes 100k byte-vectors into 6.4M (vec, idx, code)
rows; the extra second is the materialization of 64x more output
rows, not quantization cost (the operator itself is unchanged and
scan-local).

## Bench context (round 7)

The bench-record pipeline changed this round (VERDICT-r6 ask #1): the
driver-visible stdout line is now a ~0.6 KB summary (total, io block,
12 slowest) printed LAST, and the full per-query record is committed
as `BENCH_LOCAL_r{N}.json` plus appended to `tools/bench_history.csv`
(round, query, seconds — re-runs within a round replace that round's
rows). The history file carries the 66 r6 entries recoverable from
the driver's truncated tail plus all 137 r7 entries, so this and
every future comparison reads off one file instead of tail
archaeology.

Round-over-round on the 66-entry common set: **median r7/r6 = 0.998 —
flat**. Tail of the ratio distribution, each checked: `mrbench` 1.70x
(avg job latency 116 -> 197 ms — the framework-overhead metric's
known session noise; absolute cost trivial), `robots_url_gate` 1.47x
(0.18 -> 0.26 s — REAL, and by design: the RFC 9309 CRLF/case fix
adds a regexp_replace normalization pass over every robots blob; 80
ms at sf0.1 buys correct parsing of CRLF-served robots.txt, which the
old grammar silently failed OPEN on), then nothing above 1.24x.
Best: `domain_capped_sample` 0.74x, `normalized_dedup` 0.80x —
ambient, not code.

New entries: `jpeg_ahash_roundtrip` first landed as the slowest
bench row (7.1 s for 5k images). Two fixes followed the measurement:
the Huffman decoder now uses the 16-bit-peek lookup-table idiom
(libjpeg's approach — one list index per symbol instead of per-bit
dict probes, receive(n) for amplitude bits), and — the real win —
the query repartitions the doc_id scan before the decode stage:
documents.parquet is ONE row group, so mapInPandas was running the
1 ms/image decode serially on a single partition (the module
docstring's own "repartition before decode" rule). 7.1 -> 1.2 s
min-of-2 at sf0.1; the shuffle moves only 8-byte ids. A production
deployment swaps libjpeg-turbo into the same Arrow stage.

The committed BENCH_LOCAL_r07.json is the post-fix record: total
136.4 s / 137 entries, `jpeg_ahash_roundtrip` at 1.349 s (off the
slowest-12 entirely). Its io/mrbench singles (write 22 MB/s, mrbench
597 ms) were taken under residual load from the preceding full-suite
run — the min-of-2 `queries` block is the comparable part; the
driver's own idle-machine run supersedes the io singles.

The repartition-before-decode fix was then applied to the WHOLE Arrow
roundtrip family (media/wav/image/audio/video/png/gif — all built on
the same single-row-group doc_id scan): png 2.72 -> 0.83 s, gif
2.88 -> 0.83, audio_fingerprint 2.39 -> 0.82, image_ahash
1.80 -> 1.05, wav 1.04 -> 0.76 at sf0.1, all eight oracle-green at
both SFs after the change. Final committed record: 151.3 s total
across 137 entries (run-to-run ambient swing on this machine is
~±15 s on the total; per-entry min-of-2 values are the comparable
unit).
`lsh_bucket_stats` costs 1.9 s steady-state (its 47 s first-run in
the sweep session was cold-JIT of the 8-salt md5 signature pipeline,
paid once per session — the bench's min-of-2 with sf0.001 warm-up
shows the real number).
"""


_ID = re.compile(r"#\d+L?")


def _split(text: str) -> list[str]:
    """`text`'s comma-separated items at bracket depth 0."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(text):
        depth += c in "([{"
        depth -= c in ")]}"
        if c == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    items.append(text[start:].strip())
    return items


def normalise_expands(plan: str) -> str:
    """`plan` (a formatted physical plan) with the alternatives of each
    distinct-aggregate Expand in one canonical order.

    Spark's distinct-aggregate rewrite numbers its groups (`gid`) and
    lays out their columns in the iteration order of a hash map keyed by
    expression ids, so identical code can print the groups in another
    order. Here the groups are ordered by their column names: each
    group's columns move to its new slots and its gid to its new number,
    in the Expand and in every line that lists those columns in a row
    or compares the gid."""
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if not (line.startswith("Arguments: [[") and i >= 2
                and lines[i - 2].split(" ", 1)[-1] == "Expand"):
            continue
        alts_text, out_text = line[len("Arguments: ["):].rsplit("], [", 1)
        alts = [_split(a[1:-1]) for a in _split(alts_text)]
        out = _split(out_text[:-1])
        gid = next((k for k, o in enumerate(out) if o.startswith("gid#")), None)
        if gid is None:
            continue
        # a group's slots: columns only its alternative fills
        slots = {int(a[gid]): [k for k in range(gid) if a[k] != "null"
                               and sum(b[k] != "null" for b in alts) == 1] for a in alts}
        groups = [v for v in slots if slots[v]]
        order = sorted(groups, key=lambda v: [_ID.sub("", out[k]) for k in slots[v]])
        renumber = dict(zip(order, sorted(groups)))
        moved = sorted(k for v in groups for k in slots[v])
        perm = dict(zip(moved, [k for v in order for k in slots[v]]))  # new slot -> old

        def place(items, gid_to=None):
            new = [items[perm.get(k, k)] for k in range(len(items))]
            if gid_to is not None:
                new[gid] = str(gid_to)
            return new

        alts = sorted((place(a, renumber.get(int(a[gid]), int(a[gid]))) for a in alts),
                      key=lambda a: int(a[gid]))
        lines[i] = ("Arguments: [" + ", ".join("[" + ", ".join(a) + "]" for a in alts)
                    + "], [" + ", ".join(place(out)) + "]")
        old = [out[k] for k in moved]
        new = [out[perm[k]] for k in moved]
        row = re.compile(", ".join(
            re.escape(t) + (r"(?!\w)(?P<deco>[^,()\[\]]*)" if j == 0 else r"(?!\w)(?P=deco)")
            for j, t in enumerate(old)))
        test = re.compile(re.escape(out[gid]) + r" = (\d+)\b")
        for j, other in enumerate(lines):
            if j != i:
                other = row.sub(lambda m: ", ".join(t + m["deco"] for t in new), other)
                lines[j] = test.sub(lambda m: f"{out[gid]} = "
                                    f"{renumber.get(int(m[1]), int(m[1]))}", other)
    return "\n".join(lines)


def main() -> None:
    from hadoop_distributed_dynamic_file_system_spark import queries as q
    from hadoop_distributed_dynamic_file_system_spark import queries_llm  # noqa: F401
    from hadoop_distributed_dynamic_file_system_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    out = [
        "# PLANS — formatted physical plans for the showcase queries",
        "",
        f"Generated by `python tools/plans.py` at sf_dir={sf_dir}. These are",
        "the plans the plan-quality tests pin; regenerate when they change.",
        "",
    ]
    for name, why in SHOWCASE:
        df = q.QUERIES[name](spark, sf_dir)
        plan = normalise_expands(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        out.append(f"## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")
    out.append(EPILOGUE)
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
