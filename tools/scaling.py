"""Measure how the showcase queries scale across the shipped SFs
(sf0.001 → sf0.01 → sf0.1 is 100×) and write SCALING.md.

The interesting number is the LAST ratio (sf0.01→sf0.1, 10× data): a
scan-bound query should grow well under 10× on local[32] (fixed ~0.3 s
job overhead dominates small SFs); anything super-linear is a red flag
(a pairwise blowup or a serialization point). Regenerate:
`python tools/scaling.py`.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "q1_pricing_summary",
    "revenue_per_nation",
    "q9_product_profit",
    "asof_attribution",
    "sessionization",
    "decile_histogram",
    "dedup_exact",
    "minhash_lsh_pairs",
    "edit_distance_verify",
    "dedup_components",
    "ngram_jaccard",
    "sequence_packing",
    "tfidf_top_terms",
    "ann_brute_force",
    # round-4 additions
    "winnow_fingerprints",
    "winnow_overlap",
    "unigram_lm_scores",
    "dup_ngram_fraction",
    "incremental_near_dedup",
    "semantic_dedup",
    # round-5 additions
    "gopher_quality_flags",
    "line_dedup_corpus",
    "span_dedup_cleaned",
    "dsir_importance_scores",
    "classifier_source_recovery",
    "bigram_lm_scores",
    # round-5 late additions
    "warc_gzip_members",
    "doc_chunks",
    "bm25_retrieval",
    "link_graph_rank",
    "normalized_corpus",
    "kn_bigram_lm_scores",
    "char_entropy_scores",
    "oov_rate_top_vocab",
    "jl_projection",
    "ngram_containment",
    "int8_quantized_embeddings",
    "ann_int8_topk",
    "training_order_shuffle",
    # round-6 additions
    "zipf_slope",
    "hybrid_rrf_retrieval",
    "ann_two_stage_rerank",
    "host_quality_rollup",
    "scd2_user_state",
    "kmv_source_overlap",
    "mixing_token_plan",
    "kmv_incremental_distinct",
    "png_ahash_roundtrip",
    "gif_ahash_roundtrip",
    # round-6 web-text family
    "html_text_extract",
    "html_host_links",
    "url_normalized_dedup",
    "registrable_domains",
    "decontaminated_corpus",
    "host_boilerplate_cleaned",
    "bm25_incremental_stats",
    "domain_capped_sample",
    "anchor_text_terms",
    "anchor_link_rank",
    "registrable_domains_psl",
    "web_graph_pipeline",
    "robots_url_gate",
    "curriculum_order",
    "fuzzy_decontaminated",
    "contrastive_negatives",
    "in_domain_negatives",
    # round-6 training-prep / hygiene additions
    "fim_transform",
    "length_bucketed_batches",
    "code_prose_flags",
    "cluster_best_keeper",
    "robots_rep_gate",
    "mojibake_stats",
    "snapshot_diff",
    "moment_stats_merge",
    "csv_roundtrip",
    "skew_salted_join",
    "skew_salted_agg",
    "incremental_recompute",
    "quantile_histogram_merge",
    "classifier_auc",
    "snapshot_psi_drift",
    "bpe_fertility_by_lang",
    "snapshot_mean_drift",
    # round-7 additions
    "jpeg_ahash_roundtrip",
    "lsh_bucket_stats",
    # round-8 additions
    "hamming_near_pairs",
    "hamming_bucket_stats",
    # round-9 additions: the bucketed incremental-dedup path and the
    # full freeze->probe->extend->probe loop (each run re-freezes its
    # sf-scoped table, so the measured cost INCLUDES the freeze write
    # — the honest day-2 cost is probe+extend only, priced in STRESS)
    "incremental_dedup_bucketed",
    "incremental_dedup_extended",
    "ann_ivf_extended",
    # the embedding twin of the frozen-index gates (day-2 SemDeDup)
    "incremental_semantic_dedup",
    # the DELETE leg: attributed freeze + tombstoned probes (cost
    # includes the per-run freeze+retract writes; the steady-state
    # probe-only overhead is isolated in STRESS)
    "dedup_retraction",
    "dedup_attribution",
    "ann_retraction",
    # the MONITOR leg: census cost must stay cadence-cheap
    "index_health",
    # dedup_resurrection is oracle-checked + benched but NOT scaled:
    # its cost decomposes into dedup_retraction (above) + one
    # batch-sized extend (priced in STRESS extend_append_1x_into_100x)
    # round-10 additions: the DAEMON leg (census + fired compaction +
    # idempotent re-tick — cost includes the per-run freeze+retract
    # writes, like the other lifecycle rows) and the media DELETE leg
    # (BMP decode + attributed freeze + tombstoned probe)
    "index_maintenance",
    "media_index_retraction",
    # round-11 additions: the FLEET sweep (sick index refused by the
    # attribution guard + healthy index compacted, one sweep call) —
    # the scaling read is the healthy tick's, plus a key-only freeze —
    # and the ZERO-DOWNTIME rollover (freeze + generational migration
    # + retract + fired catalog-only fold + idempotent re-tick; cost
    # shape = index_maintenance + one extra staged rewrite)
    "index_fleet_sweep",
    "index_generational_rollover",
    # index_crash_recovery is NOT a scaling row: its wall is
    # index_maintenance (already a row) + two metadata-only catalog
    # ops — the 10x step would just re-measure the maintenance fold.
]

SFS = ["sf0.001", "sf0.01", "sf0.1"]


def main() -> None:
    from hadoop_distributed_dynamic_file_system_spark import measure
    from hadoop_distributed_dynamic_file_system_spark.session import get_spark

    spark = get_spark("scaling", master="local[32]")
    # warm the JVM/codegen path so sf0.001 isn't charged the session cost
    wordcount = measure.query(spark, "wordcount")
    measure.warm("wordcount", lambda: wordcount(f"{measure.TESTDATA}/sf0.01"))

    rows = []
    for name in QUERIES:
        run = measure.query(spark, name)
        times = [
            measure.time_reps(
                spark, lambda sf=sf: run(f"{measure.TESTDATA}/{sf}"), 2, name
            ).value
            for sf in SFS
        ]
        rows.append((name, times))
        print(name, [round(t, 2) for t in times])

    out = [
        "# SCALING — wall time across shipped scale factors (local[32])",
        "",
        "Columns are seconds at each SF; `x(10x)` is the growth over the",
        "final 10x data step (sf0.01 -> sf0.1). Sub-10x growth means the",
        "query is overhead- or parallelism-bound, not data-bound — the",
        "plans leave headroom for the next 100x. Regenerate:",
        "`python tools/scaling.py`.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | x(10x) |",
        "|---|---|---|---|---|",
    ]
    for name, t in rows:
        ratio = t[2] / t[1] if t[1] > 0 else float("nan")
        out.append(
            f"| {name} | {t[0]:.2f} | {t[1]:.2f} | {t[2]:.2f} | {ratio:.1f}x |"
        )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALING.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("SCALING.md written")


if __name__ == "__main__":
    main()
