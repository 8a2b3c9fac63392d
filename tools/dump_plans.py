"""Regenerate PLANS.md: `explain(formatted)` snapshots of the headline
queries at sf0.01 — reviewable evidence of pushdown/broadcast/shuffle
shape without running anything.

Usage: python tools/dump_plans.py
       python tools/dump_plans.py --out DIR --tag TAG query [query ...]

The second form writes one query's plan to DIR/<query>_<tag>.txt
(before/after evidence, at $SPARK_GRAFT_SF_DIR or sf0.01). Streaming
lifecycle gates (st*) run their micro-batches inside the gate function,
so their dumped plan covers only the read side.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers import the package too; they inherit the JVM's environment
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entrymod
from healthcare_api_spark import get_spark

QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "j1_broadcast_join",
    "j3_explode_join",
    "w1_latest_per_key",
    "d2_dedup_minhash",
    "d4_ngram_jaccard",
    "v1_ann_topk",
    "x1_asof_join",
    "x3_hierarchical_rollup",
    "l2_zorder_ranked",
    "x6_ltob_downsample",
    "t13_chunk_tokens",
    "t14_bpe_pairs",
    "d11_fuzzy_join",
    "v5_knn_join",
    "s12_snapshot_diff",
    "fs8_chained_sort",
    # round 4
    "k3_cms_heavy_hitters",
    "t17_bigram_logprob",
    "d12_sorted_neighborhood",
    "v6_sq8_topk",
    "l4_hilbert_key",
    "x8_seasonal_decompose",
    "a12_incremental_agg",
    "g1_pagerank",
    "d13_passjoin",
    "k4_kmv_distinct",
    # round 6: the frozen-artifact graduates and the guarded pair miner
    "v7_pq_topk",
    "t21_zipf_fit",
    "a14_co_occurrence",
    "v3_ivf_topk",
    "m14_image_hamming_pairs",
    # round 7: the probe-literal retrieval path (no join, top-k only)
    "m15_image_hash_retrieval",
    "x9_series_correlation",
    "w8_time_weighted_avg",
    # round 7 additions: repetition filter (3 explode→agg chains),
    # RRF fusion (bounded-window ranks + full-outer fuse), LPA rounds
    "t22_repetition_filter",
    "v9_hybrid_rrf",
    "g4_label_propagation",
    # t23 omitted: its plan is a driver-local createDataFrame (the
    # training rounds run imperatively); t24 shows the LM + broadcast
    # percentile shape
    "t24_perplexity_buckets",
    "x13_matrix_profile",
    # round 7 second wave: two-stage TakeOrdered rerank and the KMV
    # pair algebra (broadcast self-join over sketch rows); m16/st6
    # omitted — their plans are mapInPandas / foreachBatch shells
    "v10_prefix_rerank",
    "k7_kmv_set_ops",
    # round 7 third wave: one-shuffle sessionization windows and the
    # prefix-filtered set-similarity join
    "w12_sessionize",
    "d18_prefix_jaccard",
    # round 8 fourth-sixth waves: the map-only charter filter, the
    # broadcast-bucket DSIR aggregate, the k·dim k-means stats round,
    # codegen'd CDC boundaries + first-occurrence window, the shared-
    # index multi-needle screen, and the composed IVFPQ probe; st9/t27
    # omitted — foreachBatch shell / driver-sequenced merge rounds
    "t26_gopher_rules",
    "u8_importance_weights",
    "v15_kmeans_stats",
    "d20_cdc_chunks",
    "t28_multi_substring",
    "v16_ivfpq_topk",
    "t29_char_entropy",
    # round 8 seventh wave: the broadcast hashing-trick classifier and
    # the doubly-pruned filtered ANN probe; st10 omitted — foreachBatch
    # shell like st5-st9
    "t30_hashed_classifier",
    "v17_filtered_ann",
    "u9_curation_pipeline",
    # round 8 eighth wave: the wedge-join link predictor, corpus-wide
    # gram-df novelty, map-only readability, the sign-bit ANN scan,
    # the ACF lag grid, and the CC+hash split composition; v18/v20
    # omitted — bounded-frame assembly plans (Scan ExistingRDD);
    # st11/s14 omitted — foreachBatch / store-lifecycle shells
    "g6_adamic_adar",
    "t31_ngram_novelty",
    "t32_readability",
    "v19_binary_ann",
    "x18_acf",
    "u10_leakage_safe_splits",
    "u11_dedup_eval",
    "x17_holt_linear",
    "m17_image_patches",
    "d21_containment",
    # round 9: the graduated graph/eval gates, the pure-JVM uuid3 map,
    # the composed data-loader plan, exact-integer HITS rounds, and the
    # seasonal Holt-Winters series recursion's doc-side plan; u12/u13
    # omitted — compositions of the pinned d18/d11 plans
    "g7_personalized_pagerank",
    "g8_modularity",
    "t33_rake_keywords",
    "t34_blocklist_screen",
    "f7b_uuid3",
    "u14_dataloader_pipeline",
    "g9_hits",
    "x19_holt_winters",
    # r9 second session
    "g10_bfs_hops",
    "g11_stress_centrality",
    "v21_l2_range_join",
    "u15_kcenter_coreset",
    "x21_dtw_band",
    "x22_binseg_changepoints",
    "x23_forecast_mase",
    "s15_time_travel",
    "g12_sssp_weighted",
    "m19_patch_vote_neardup",
    "w14_sequence_match",
    # r10
    "t35_vocab_gini",
    "w15_touch_attribution",
    # r11: the one-pass attribution family (w17/w18 show the
    # checkpointed (key,path,type) shape), the pushdown-only quantity/
    # composite search predicates, and the broadcast-threshold RFM
    # grid; st13 omitted — foreachBatch shell like st5-st12
    "w17_multi_touch",
    "w18_position_attribution",
    "w19_rfm_segments",
    "fs13_quantity_search",
    "fs14_composite_search",
    # r12: the matrix-sized Markov value iteration off ONE corpus
    # window pass, the value-weighted credit twin, the pushdown-shaped
    # uri/subsumption predicates, and the batch IVF probe
    # (PartitionFilters + broadcast query pairs + per-qid rank window);
    # st15-st17 omitted — foreachBatch shells like st5-st14
    "w21_markov_attribution",
    "w22_multi_touch_value",
    "fs15_uri_and_subsumption",
    "v22_ivf_batch_probe",
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", help="write DIR/<query>_<tag>.txt instead of PLANS.md")
    ap.add_argument("--tag", help="file-name tag for --out, e.g. before/after")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if bool(args.out) != bool(args.tag) or bool(args.out) != bool(args.queries):
        ap.error("--out, --tag and queries go together")
    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("plans")
    qs = entrymod.queries()
    if args.out:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", sf_dir)
        os.makedirs(args.out, exist_ok=True)
        for name in args.queries:
            path = os.path.join(args.out, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} ({args.tag}) — sf_dir={sf_dir}\n\n")
                f.write(_plan(qs[name](spark, sf_dir)) + "\n")
            print(f"wrote {path}")
        return
    out = [
        "# PLANS — formatted physical plans of headline queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`. Things to look for:",
        "`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for",
        "dimension lookups, single `Exchange` per window/agg, `*(n)`",
        "whole-stage-codegen spans.",
        "",
    ]
    for name in QUERIES:
        plan = _plan(qs[name](spark, sf_dir))
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")


if __name__ == "__main__":
    main()
