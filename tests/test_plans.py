"""Physical-plan regression tests: the scale properties SURVEY.md §4
promises must be visible in the executed plan, not just hoped for.

- filters/projections reach the Parquet scan (PushedFilters/ReadSchema)
- small dimensions broadcast (BroadcastHashJoin, no shuffle of the fact)
- count(*) compiles to a metadata-level aggregate over Parquet
- narrow transforms introduce no Exchange at all
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = entrymod.q_q6_forecast_revenue(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reads_only_needed(spark):
    df = entrymod.q_a2_distinct_set(spark, SF_DIR)
    plan = _plan(df)
    # scan schema should contain only the single projected column
    assert "ReadSchema: struct<c_nationkey:int>" in plan


def test_broadcast_join_for_dimension(spark):
    df = entrymod.q_j1_broadcast_join(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_semi_and_anti_joins_compile(spark):
    assert "LeftSemi" in _plan(entrymod.q_j5_semi_join(spark, SF_DIR))
    assert "LeftAnti" in _plan(entrymod.q_j4_anti_join(spark, SF_DIR))


def test_narrow_transform_has_no_exchange(spark):
    df = entrymod.q_t4_fingerprints(spark, SF_DIR)
    assert "Exchange" not in _plan(df)


def test_projection_query_stays_in_codegen(spark):
    df = entrymod.q_p13_p14_projection(spark, SF_DIR)
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen stages in toString output
    assert "*(1)" in plan and "Exchange" not in plan


def test_window_queries_single_shuffle(spark):
    plan = _plan(entrymod.q_w1_latest_per_key(spark, SF_DIR))
    # one partitionBy shuffle, nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_keyset_page_pushes_range_filter(spark):
    plan = _plan(entrymod.q_w2_keyset_page(spark, SF_DIR))
    assert "GreaterThan(o_orderkey,100)" in plan


def test_asof_join_is_single_window_shuffle(spark):
    # the union/running-state as-of: one hashpartitioning exchange (the
    # key window), never a join-pair explosion
    plan = _plan(entrymod.q_x1_asof_join(spark, SF_DIR))
    assert "Join" not in plan  # no physical join node at all
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_signatures_fully_narrow(spark):
    # rotation-family signatures: no exchange until the cluster window
    from healthcare_api_spark.operators import dedup

    docs = entrymod._docs_dup(spark, SF_DIR, spread=False)
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=4)
    assert "Exchange" not in _plan(sig)


def test_interval_join_is_hash_join_not_nested_loop(spark):
    plan = _plan(entrymod.q_x2_interval_join(spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # chunk equi-join compiled to a hash/SMJ join


def test_curation_query_plan_shapes(spark):
    # the curation/gap-fill family keeps its designed shuffle budget and
    # never degrades to sort-merge or nested-loop joins at this scale
    expected_max_exchanges = {
        "t6_repetition": 2,        # (doc,ngram) agg + doc agg, partial combine
        "ds2_pack_sequences": 1,   # one window per stream partition
        "d7_decontaminate": 2,     # bench side broadcasts, doc side aggregates
        "x4_gapfill": 2,           # span agg + locf window; grid join broadcasts
        "t8_quality_gate": 2,      # repetition aggs; feature join broadcasts
    }
    for q, max_ex in expected_max_exchanges.items():
        plan = _plan(entrymod.queries()[q](spark, SF_DIR))
        assert plan.count("Exchange hashpartitioning") <= max_ex, q
        assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_ltob_downsample_plan_shape(spark):
    # windows share one series-key shuffle; no join, no extra exchange
    plan = _plan(entrymod.q_x6_ltob_downsample(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_rank_normalize_no_global_window(spark):
    # the exact dense rank must never degrade to a single-partition
    # global window (Exchange SinglePartition feeding a Window)
    plan = _plan(entrymod.q_l2_zorder_ranked(spark, SF_DIR))
    import re

    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}?Window", plan)


def test_chunk_and_bpe_plan_shapes(spark):
    # chunking is narrow end to end; BPE pair stats shuffle twice
    # (vocabulary agg + pair agg) and finish with a TakeOrdered
    assert "Exchange" not in _plan(entrymod.q_t13_chunk_tokens(spark, SF_DIR))
    bpe = _plan(entrymod.q_t14_bpe_pairs(spark, SF_DIR))
    assert bpe.count("Exchange hashpartitioning") <= 2
    assert "TakeOrderedAndProject" in bpe


def test_hilbert_key_is_narrow_and_codegen(spark):
    # l4: pure bit arithmetic — no Exchange, and the 16 unrolled levels
    # stay inside whole-stage codegen (one fused stage, not 16)
    df = entrymod.q_l4_hilbert_key(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "*(1)" in plan


def test_sorted_neighborhood_no_global_window(spark):
    # d12's global rank must come from the range-repartition trick, not
    # a single-partition window (the scale-killer global_row_rank avoids)
    df = entrymod.q_d12_sorted_neighborhood(spark, SF_DIR)
    plan = _plan(df)
    assert "SinglePartition" not in plan


def test_zipf_fit_window_only_over_topn(spark):
    # t21 (VERDICT r5 "What's wrong" #1): the vocabulary must reach the
    # rank step through TakeOrderedAndProject (per-partition top-n
    # heaps), never an unpartitioned Window over the full token table —
    # at 100 TB the vocab is billions of rows in one task otherwise.
    import re

    plan = _plan(entrymod.q_t21_zipf_fit(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # exactly one Window, and its direct child is the bounded top-n heap
    assert plan.count("Window ") == 1
    assert re.search(r"Window \[row_number\(\)[^\n]*\n\s*\+- TakeOrderedAndProject", plan)
    # r7 (VERDICT r6 #5): the totals branch and the top-n branch must
    # BOTH read the persisted token-frequency cache — the corpus is
    # tokenized once, not once per branch
    assert plan.count("InMemoryTableScan") >= 2


def test_cms_sketch_cells_bounded(spark):
    # k3: the sketch side of the lookup join is ≤ depth×width rows no
    # matter the corpus size, and travels as a broadcast
    from healthcare_api_spark.operators import sketches

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from healthcare_api_spark.functions.text import tokens

    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch = sketches.cms_build(toks, "tok", depth=4, width=64)
    assert sketch.count() <= 4 * 64
    probe = sketches.cms_lookup(sketch, toks.distinct(), "tok", depth=4, width=64)
    assert "BroadcastHashJoin" in _plan(probe)


def test_pq_adc_topk_is_narrow_take_ordered(spark):
    # v7 (r6): frozen integer codebooks — encode + ADC is one narrow
    # expression over the scan, top-k via per-partition heaps; no join,
    # no shuffle at all (the 64×-compressed ANN read path at 100 TB)
    plan = _plan(entrymod.q_v7_pq_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pca_project_fully_narrow(spark):
    # v4 (r6): frozen basis — four literal-dot projections, zero
    # shuffle, zero join: projecting 100 TB of embeddings is scan-bound
    plan = _plan(entrymod.q_v4_pca_project(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_sq8_topk_is_take_ordered_no_join(spark):
    # v6: constant query literal — TakeOrderedAndProject over one scan,
    # no join/exchange beyond the top-k reduction
    df = entrymod.q_v6_sq8_topk(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_prefix_rerank_two_take_ordered_no_sort(spark):
    # v10: both the coarse cut and the final rerank must be
    # TakeOrderedAndProject (per-partition heaps) — a global Sort on
    # either stage would shuffle the whole corpus at 100 TB
    df = entrymod.q_v10_prefix_rerank(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("TakeOrderedAndProject") == 2
    assert "Sort " not in plan
    assert "Join" not in plan


def test_sessionize_single_shuffle(spark):
    # w12: the lag window, the running-sum window and the per-session
    # aggregation must all reuse ONE exchange on the user key — the
    # windows partition on the original attribute, not an alias
    df = entrymod.q_w12_sessionize(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange") == 1


def test_seasonal_decompose_single_window_per_series(spark):
    # x8: trend window + two small aggregates — the hourly series frame
    # shuffles on the series key once for the window
    df = entrymod.q_x8_seasonal_decompose(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Window") >= 1 and "SinglePartition" not in plan


def test_fuzzy_join_broadcast_verify(spark):
    # d11 (r4 shape): right side broadcast → the candidate generation +
    # levenshtein verify runs with NO shuffle of the candidate pairs
    df = entrymod.q_d11_fuzzy_join(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_ivf_pruned_probe_partition_filters(spark, tmp_path):
    # v12 (r8): probing an IVF-cell-partitioned table must prune the
    # SCAN — the cluster IN-list shows up as PartitionFilters and only
    # the probed cells' directories are opened
    from healthcare_api_spark.operators import similarity
    from healthcare_api_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = entrymod._V3_CENTROIDS
    path = str(tmp_path / "ivf")
    similarity.write_ivf_partitioned(emb, path, "embedding", cents)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    probe = similarity._probe_cells(cents, qvec, nprobe=3)

    cands = spark.read.parquet(path).where(
        F.col("cluster").isin([int(p) for p in probe])
    )
    plan = _plan(cands)
    assert "PartitionFilters" in plan and "cluster" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]

    # only the probed directories are read — the pruning is real IO,
    # not a post-scan filter. (inputFiles() reads the UNPRUNED file
    # index, so measure with the executed scan's own metrics.)
    def scanned_partitions(df):
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        leaf.selectedPartitions()  # force the lazy pruned file listing
        return int(leaf.metrics().apply("numPartitions").value())

    assert scanned_partitions(cands) == 3
    assert scanned_partitions(spark.read.parquet(path)) == len(cents)
    # and the pruned probe returns the exact ivf_topk answer
    got = similarity.ivf_topk_pruned(
        spark, path, "vec_id", "embedding", cents, qvec, k=10, nprobe=3
    ).collect()
    want = similarity.ivf_topk(
        emb, "vec_id", "embedding", cents, qvec, k=10, nprobe=3
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got] == [
        (r["vec_id"], r["cos"]) for r in want
    ]


def test_lsh_pruned_probe_partition_filters(spark, tmp_path):
    # v13 (r8): the hyperplane twin of the v12 pruning pin — bucket
    # partition dirs, PartitionFilters on bucket_pt, scan reads only
    # the probed directories, answer equals the in-memory probe
    from healthcare_api_spark.operators import similarity
    from healthcare_api_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "lsh")
    similarity.write_lsh_partitioned(emb, path, "embedding", dim=64)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    got = similarity.lsh_topk_pruned(
        spark, path, "vec_id", "embedding", qvec, dim=64, k=10
    )
    plan = _plan(got)
    assert "PartitionFilters" in plan and "bucket_pt" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]

    qbits = similarity._query_sign_bits(qvec, 64, 8, 42)
    table = spark.read.parquet(path)
    counts = {
        r["bucket_pt"][1:]: r["n"]
        for r in table.groupBy("bucket_pt").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    probe = similarity._lsh_probe_set(counts, qbits, 10, 8)

    def scanned_partitions(df):
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        leaf.selectedPartitions()
        return int(leaf.metrics().apply("numPartitions").value())

    pruned = table.filter(
        F.col("bucket_pt").isin([f"b{b}" for b in probe])
    )
    assert scanned_partitions(pruned) == len(probe) < len(counts)
    # and the answer is exactly the in-memory widening probe's
    want = similarity.lsh_bucketed_topk(
        emb, "vec_id", "embedding", qvec, dim=64, k=10
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got.collect()] == [
        (r["vec_id"], r["cos"]) for r in want
    ]


def test_bloom_probe_broadcasts_state_no_shuffle_join(spark):
    # k9 (r8): the probe side must join the ≤m_bits/32-row state as a
    # BROADCAST — a shuffle join would defeat the whole sketch contract
    # (the probe stream never repartitions to meet the filter)
    from healthcare_api_spark.operators import sketches
    from healthcare_api_spark.tables import load_table

    cust = load_table(spark, SF_DIR, "customer")
    members = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("k")
    )
    state = sketches.bloom_build(members, "k", m_bits=4096, k_hashes=4)
    probed = sketches.bloom_probe(
        state, cust.select(F.col("c_custkey").alias("k")), "k",
        m_bits=4096, k_hashes=4,
    )
    plan = _plan(probed)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_dedup_no_join_no_single_partition(spark):
    # d19 (r8): the whole operator is window + reassembly aggregates —
    # no join at all, and nothing collapses to a SinglePartition
    from healthcare_api_spark.operators import dedup
    from healthcare_api_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = dedup.paragraph_dedup(docs, "doc_id", "text", chunk_tokens=25)
    plan = _plan(out)
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_gopher_quality_map_only_no_exchange(spark):
    """t26: the Gopher charter filter must be a pure map pass — no
    shuffle, whole-stage codegen over the scan."""
    df = entrymod.q_t26_gopher_rules(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange" not in plan


def test_importance_weights_broadcast_bucket_tables(spark):
    """u8: the ≤256-row bucket-weight table must broadcast back onto
    the doc-side aggregate — never shuffle the corpus against it."""
    df = entrymod.q_u8_importance_weights(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_stats_single_aggregate_no_join(spark):
    """v15: assignment is broadcast-literal (no join at all); the only
    exchange is the (cluster, dim) aggregate's hash partitioning —
    map-side combined, k·dim cells."""
    df = entrymod.q_v15_kmeans_stats(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_ranking_eval_windows_on_k_row_frames_only(spark):
    """v14: the rank/cumsum windows run on ≤k-row frames AFTER the
    TakeOrderedAndProject top-k cuts — constant-size eval regardless
    of corpus size (the single-partition window is over 10 rows)."""
    df = entrymod.q_v14_rank_metrics(spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_ranking_eval_pretruncates_oversized_approx(spark):
    """r12 (VERDICT r11 #2): an OVERSIZED approx frame must be cut by
    TakeOrderedAndProject (per-partition heaps) BEFORE the row_number
    window — never funneled whole through a single-partition
    WindowExec. The rank window's child subtree therefore contains the
    top-k cut, not a scan of the full frame."""
    import re

    from healthcare_api_spark.operators.similarity import ranking_eval

    exact = spark.range(5).select(F.col("id").cast("long").alias("id"))
    approx = spark.range(100_000).select(
        "id", (F.col("id") % 97).cast("double").alias("cos")
    )
    plan = _plan(ranking_eval(exact, approx, "id", k=10))
    # the row_number window sits directly on the top-k cut (modulo the
    # single-partition exchange Spark inserts for the ≤k-row window)
    assert re.search(
        r"Window \[row_number\(\)(?:[^\n]*\n)+?[^\n]*TakeOrderedAndProject",
        plan,
    ), plan


def test_filtered_ann_partition_and_pushed_filters(spark, tmp_path):
    # v17 (r8 wave 7): the filtered probe must compose BOTH pruning
    # layers in the SAME scan node — the cluster probe as
    # PartitionFilters (directories never listed) and the label
    # predicate as PushedFilters (row groups skipped inside the
    # survivors). A post-scan label Filter would still be correct but
    # reads the probed cells' full bytes — the 100 TB difference.
    from healthcare_api_spark.operators import similarity
    from healthcare_api_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = entrymod._V3_CENTROIDS
    path = str(tmp_path / "ivf")
    similarity.write_ivf_partitioned(emb, path, "embedding", cents)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    got = similarity.ivf_topk_pruned(
        spark, path, "vec_id", "embedding", cents, qvec,
        k=10, nprobe=3, where=F.col("label").isin(2, 5),
    )
    plan = _plan(got)
    scan = plan.split("PartitionFilters")[1]
    assert "cluster" in scan.split("]")[0]
    assert "PushedFilters" in scan
    assert "In(label" in scan.split("PushedFilters")[1].split("]")[0]

    # pre-filter semantics: identical to brute-force top-k over the
    # filtered probed candidate set computed in memory
    assigned = similarity.ivf_assign(emb, "embedding", cents)
    probe = similarity._probe_cells(cents, qvec, nprobe=3)
    cands = assigned.filter(
        F.col("cluster").isin([int(p) for p in probe])
        & F.col("label").isin(2, 5)
    )
    want = similarity.brute_force_topk(
        cands, "vec_id", "embedding", qvec, k=10
    ).collect()
    assert [(r["vec_id"], r["cos"]) for r in got.collect()] == [
        (r["vec_id"], r["cos"]) for r in want
    ]


def test_hashed_classifier_plan_broadcast_and_pruned_scan(spark):
    # t30 (r8 wave 7): the ≤dim-row weight table must broadcast (no
    # shuffle of the corpus-sized (doc, bucket) frame for the join)
    # and the documents scan must read only (doc_id, text)
    df = entrymod.q_t30_hashed_classifier(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "documents" in plan]
    assert scan, plan
    rs = scan[0].split("ReadSchema:")[1]
    assert "doc_id" in rs and "text" in rs and "lang" not in rs


def test_curation_pipeline_composed_plan(spark):
    # u9 (r8 wave 7): the four-stage composition must stay fully
    # keyed — every exchange hash-partitioned (dedup fingerprint
    # window, (doc,bucket) agg, per-source quota window), the weight
    # join broadcast, nothing single-partition
    df = entrymod.q_u9_curation_pipeline(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_adamic_adar_no_single_partition(spark):
    # g6 (r8 wave 8): wedge self-join + anti-join + agg must stay
    # hash-partitioned end to end; the top-100 cut is a TakeOrdered,
    # never a global Sort
    df = entrymod.q_g6_adamic_adar(spark, SF_DIR)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "TakeOrderedAndProject" in plan


def test_mmr_result_assembly_is_bounded(spark):
    # v18 (r8 wave 8): the corpus pays exactly ONE scan — the coarse
    # top-C heap, pinned by the candidates' localCheckpoint. The final
    # assembly plan must therefore read only the checkpointed ≤C-row
    # frame (Scan ExistingRDD), never the embeddings parquet again;
    # its rank sort is over ≤k rows (bounded by construction)
    df = entrymod.q_v18_mmr_topk(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    assert "embeddings" not in plan  # no second corpus scan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fusion_joins_nothing_and_bm25_stays_codegen(spark):
    # v9 (r9, VERDICT r8 task #5): fusion is union + ONE hash agg over
    # the checkpointed ≤Σtop-N stacked frame — no join of any kind (a
    # full-outer join of two 30-row frames was a SortMergeJoin), and
    # the only scans are the checkpointed lists (Scan ExistingRDD).
    # BM25's tf is size−size(array_remove), never the interpreted
    # ArrayFilter HOF (the SCALE.md r8 CodegenFallback lesson).
    df = entrymod.q_v9_hybrid_rrf(spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan
    assert "Scan ExistingRDD" in plan
    from healthcare_api_spark.operators import textops
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scored = textops.bm25_score_col(docs, docs, "text", ["window", "vector"])
    bm_plan = _plan(scored.select("doc_id", F.col("_score")))
    assert "ArrayFilter" not in bm_plan and "arrayfilter" not in bm_plan.lower()
    assert "array_remove" in bm_plan.lower()


def test_dataloader_pipeline_no_cartesian_one_tiny_global_window(spark):
    # u14 (r9): blocklist agg + interleave/pack windows are all keyed
    # and the mixture thresholds are literals (driver saw only per-lang
    # counts), so nothing corpus-sized crosses unkeyed. Exactly ONE
    # SinglePartition exchange is expected and CORRECT: pack's
    # global-offsets exclusive-prefix window runs over the per-source
    # TOTALS frame (≤ |sources| = 4 rows — the ds5 two-pass design;
    # the heavy cumsum window stays per-source).
    df = entrymod.q_u14_dataloader_pipeline(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_hits_rounds_are_checkpointed_no_cartesian(spark):
    # g9 (r9): per-round shapes are edge-keyed joins + keyed aggs; the
    # 1-row max aggregates broadcast back (a 1-row BNLJ is the intended
    # crossJoin, not a data cartesian); the round inputs read the
    # checkpointed frames (no recursive re-run). The FINAL hub⋈authority
    # assembly is a node-keyed join of two corpus-sized frames — SMJ is
    # the correct strategy there, so it is deliberately NOT forbidden.
    df = entrymod.q_g9_hits(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan  # checkpointed rounds, no re-run
    assert "CartesianProduct" not in plan


def test_ngram_novelty_two_keyed_shuffles_no_single_partition(spark):
    # t31 (r8 wave 8): gram-df aggregate + join back + doc aggregate,
    # all hash-partitioned
    df = entrymod.q_t31_ngram_novelty(spark, SF_DIR)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_leakage_safe_splits_no_cartesian_no_single_partition(spark):
    # u10 (r8 wave 8): CC rounds are equi-joins + keyed aggs; the
    # split hash is a narrow expression on the joined frame
    df = entrymod.q_u10_leakage_safe_splits(spark, SF_DIR)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_bfs_rounds_checkpointed_anti_join_no_cartesian(spark):
    # g10 (r9 s2): frontier rounds read the checkpointed edge/visited
    # frames; the visited screen is a real anti join; nothing cartesian
    df = entrymod.q_g10_bfs_hops(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_l2_range_join_broadcasts_bounds_no_smj(spark):
    # v21 (r9 s2): the kept (query, cell) bound table is tiny and must
    # broadcast onto the cell-keyed corpus; a SortMergeJoin would mean
    # the corpus shuffles for an 8-row query set
    df = entrymod.q_v21_l2_range_join(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kcenter_scan_never_shuffles_corpus(spark):
    # u15 (r9 s2): the returned frame is a driver-built k-row literal;
    # the per-round work (scan + TakeOrdered) happens in the rounds,
    # so the OUTPUT plan must be trivial — the operator's distributed
    # part is pinned by its round structure (argmax = TakeOrdered, no
    # global sort): assert on one round's plan instead
    from healthcare_api_spark.operators.similarity import (
        _l2_assign_arrow,
        quantize_int_vec,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corp = emb.select(
        F.col("vec_id").alias("_id"),
        quantize_int_vec(F.col("embedding"), 1000.0).alias("_v"),
    )
    probe = corp.orderBy(F.col("_id").desc()).limit(1)
    plan = _plan(probe)
    assert "TakeOrderedAndProject" in plan  # argmax shape, no global sort
    assert "Exchange hashpartitioning" not in plan


def test_binseg_candidates_broadcast_cp_list(spark):
    # x22 (r9 s2): the per-step winners are checkpointed (the g9
    # cadence), so the OUTPUT plan is a checkpoint scan; the in-step
    # shape is pinned by reproducing step 1's candidate scoring: the
    # n-per-key frame joins BROADCAST onto the prefix-sum frame and
    # nothing is cartesian
    from pyspark.sql import Window as _W

    ev = entrymod._t(spark, SF_DIR, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.sum("value").cast("bigint").alias("vq"))
    w = _W.partitionBy("event_type").orderBy("bucket")
    pre = hourly.select(
        "event_type",
        F.row_number().over(w).alias("t"),
        F.sum("vq").over(w).alias("s"),
    )
    n_per = pre.groupBy("event_type").agg(F.max("t").alias("n"))
    cand = pre.join(F.broadcast(n_per), "event_type").filter(
        F.col("t") < F.col("n")
    )
    plan = _plan(cand)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # and the full operator's output reads the checkpointed rounds
    full = _plan(entrymod.q_x22_binseg_changepoints(spark, SF_DIR))
    assert "Scan ExistingRDD" in full
    assert "CartesianProduct" not in full


def test_dtw_pairs_frame_maps_in_pandas(spark):
    # x21 (r9 s2): the DP runs as ONE mapInPandas over the pair frame
    # (pair = parallelism unit); series arrays ride the join, and the
    # all-pairs feed on 5 series is a tiny broadcast NLJ, never a
    # shuffled cartesian of corpus-sized frames
    df = entrymod.q_x21_dtw_band(spark, SF_DIR)
    plan = _plan(df)
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_bfs_round_pins_shuffle_hash_on_edges(spark):
    # the r9b x100 broadcast-OOM fix: a frontier round's join against
    # the corpus-sized edge frame must be a ShuffledHashJoin (the hint),
    # never a broadcast of the edge side — pinned on the ROUND shape
    # (one frontier ⋈ edges ⋈ anti-visited step built from the same
    # pieces bfs_hops uses)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["s", "d"]
    )
    e = (
        edges.select(F.col("s").alias("u"), F.col("d").alias("v"))
        .unionByName(edges.select(F.col("d").alias("u"), F.col("s").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = spark.createDataFrame([(1,)], "node bigint")
    dist = frontier.select("node")
    nxt = (
        frontier.join(e.hint("shuffle_hash"), frontier["node"] == e["u"])
        .select(F.col("v").alias("node"))
        .distinct()
        .join(dist.hint("shuffle_hash"), "node", "left_anti")
    )
    plan = _plan(nxt)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan or "build right" not in plan.lower()


def test_stress_round_pins_shuffle_hash_on_edges(spark):
    # g11 (r9): the forward sigma round joins the frontier against the
    # corpus-sized symmetrized edge frame — must be ShuffledHashJoin
    # (the hint; same AQE broadcast-OOM class as the BFS round), and
    # the visited screen is a real keyed anti join
    edges = spark.createDataFrame([(i, i + 1) for i in range(200)], ["s", "d"])
    e = (
        edges.select(F.col("s").alias("u"), F.col("d").alias("v"))
        .unionByName(edges.select(F.col("d").alias("u"), F.col("s").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lvl = spark.createDataFrame([(1, 1, 1)], "p bigint, node bigint, sigma bigint")
    seen = lvl.select("p", "node")
    nxt = (
        lvl.join(e.hint("shuffle_hash"), lvl["node"] == e["u"])
        .groupBy("p", F.col("v").alias("node"))
        .agg(F.sum("sigma").alias("sigma"))
        .join(seen.hint("shuffle_hash"), ["p", "node"], "left_anti")
    )
    plan = _plan(nxt)
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_stress_and_sssp_gate_plans_checkpointed_no_cartesian(spark):
    # g11/g12 (r9): bounded-round iteration — the OUTPUT plan reads the
    # checkpointed round frames (no recursive re-run) and nothing
    # corpus-sized crosses unkeyed
    for q in (entrymod.q_g11_stress_centrality, entrymod.q_g12_sssp_weighted):
        plan = _plan(q(spark, SF_DIR))
        assert "Scan ExistingRDD" in plan
        assert "CartesianProduct" not in plan


def test_sequence_match_asof_chain_keyed_no_cartesian(spark):
    # w14 (r9): k-stage CEP = k−1 per-key as-of window passes — every
    # exchange is hash-partitioned on the key, nothing global, nothing
    # cartesian, and no SMJ materializes a small side
    df = entrymod.q_w14_sequence_match(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_cep_stage_advance_keyed_group_no_cartesian(spark):
    # st12 (r9): one micro-batch stage advance — pending ⋈ stage events
    # is a keyed left join feeding a keyed groupBy (the WHEN-inside-min
    # guard keeps unadvanced pendings alive); no cartesian, no global
    # exchange
    pend = spark.createDataFrame(
        [(1, 1, [100])], "k bigint, stage int, hist array<bigint>"
    )
    ev = spark.createDataFrame([(1, 200)], "k bigint, _eus bigint")
    best = (
        pend.join(ev, "k", "left")
        .groupBy("k", "stage", "hist")
        .agg(
            F.min(
                F.when(F.col("_eus") >= F.element_at("hist", -1), F.col("_eus"))
            ).alias("_nxt")
        )
    )
    plan = _plan(best)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_temperature_mixture_corpus_plan_join_free(spark):
    # u16 (r9): the rates are a driver-side dict (computed from a tiny
    # per-lang aggregate), so the corpus pass is a literal-CASE
    # md5-threshold filter — NO join on the corpus side at all
    df = entrymod.q_u16_temperature_mixture(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_patch_vote_mapinpandas_and_keyed_votes(spark):
    # m19 (r9): PNG decode is the one legitimate Python stage — a
    # mapInPandas byte codec in the PATCH frame, which patch_vote_pairs
    # then checkpoints (so the gate plan reads ExistingRDD); the vote
    # join and max_df prune are keyed aggregates/joins — nothing
    # cartesian, no global exchange
    from healthcare_api_spark.operators.multimodal import image_patches

    docs = spark.createDataFrame([(1, b"x")], "doc_id long, data binary")
    patch_plan = _plan(image_patches(docs, "doc_id", "data", patch=8))
    assert "MapInPandas" in patch_plan or "mapInPandas" in patch_plan
    df = entrymod.q_m19_patch_vote_neardup(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan  # checkpointed patch frame
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_forecast_mase_per_series_pandas_and_keyed_aggs(spark):
    # x23 (r9): Holt-Winters runs per-series (FlatMapGroupsInPandas,
    # series = parallelism unit); the MASE lag arithmetic is per-series
    # windows + ONE keyed aggregate — no cartesian
    df = entrymod.q_x23_forecast_mase(spark, SF_DIR)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_series_features_all_keyed_no_cartesian(spark):
    # x24 (r9): moment numerators, crossing points and flat-spot runs
    # are per-series windows + keyed aggs — no cartesian, no global
    # exchange
    df = entrymod.q_x24_series_features(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_time_travel_snapshot_union_of_pruned_scans(spark):
    # s15 (r9): an AS-OF read is one parquet scan whose root paths are
    # the snapshot's live bucket directories, routed by its manifest —
    # v1's untouched buckets with v2's touched one; nothing cartesian,
    # no global exchange, no footer job
    # the gate checkpoints the unioned snapshots (the store dir is
    # cleaned up before the driver collects), so its own plan is a
    # bare ExistingRDD — pin the READ plan on a live store instead
    from healthcare_api_spark.sources.store import ResourceStore

    import tempfile

    with tempfile.TemporaryDirectory() as root:
        store = ResourceStore(spark, root, num_buckets=4)
        base = spark.createDataFrame(
            [(i, 1, float(i)) for i in range(1, 9)],
            "id bigint, version int, val double",
        )
        store.import_resources(base, "T")
        store.upsert(
            spark.createDataFrame(
                [(3, 2, 99.0)], "id bigint, version int, val double"
            ),
            "T",
            version_col="version",
        )
        snap = store.table("T")
        plan = _plan(snap)
        assert plan.count("FileScan") == 1
        assert "CartesianProduct" not in plan
        assert "Exchange" not in plan
        dirs = {f.rsplit("/", 1)[0].split("/resourceType=T/")[1] for f in snap.inputFiles()}
        assert {d.split("/")[0] for d in dirs} == {"v=1", "v=2"}
        assert len({d.split("/")[1] for d in dirs}) == len(dirs)  # one version per bucket
    df = entrymod.q_s15_time_travel(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_vocab_gini_keyed_windows_no_cartesian(spark):
    # t35 (r10): one token-frequency shuffle, per-stratum rank windows
    # (the order-statistic cost, keyed on stratum), one hash aggregate
    df = entrymod.q_t35_vocab_gini(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_touch_attribution_single_window_pass_no_cartesian(spark):
    # w15 (r10): ONE per-key window pass feeds both roles (first/last
    # touch via min/max of the same conditional struct frame); the
    # final full-outer joins two ≤|types|-row aggregates
    df = entrymod.q_w15_touch_attribution(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("WindowExec") <= 1 or plan.count("Window") <= 2


def test_multi_touch_one_corpus_pass_checkpointed(spark):
    # w17 (r11): the corpus contributes exactly ONE window pass + ONE
    # wide aggregate, materialized by the (key, path, type)-cardinality
    # checkpoint; the OUTPUT plan reads that ExistingRDD — zero parquet
    # rescans across the four downstream branches — and nothing is
    # cartesian. The only SinglePartition exchange is the '(none)'
    # count over the tiny checkpointed frame.
    df = entrymod.q_w17_multi_touch(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # the window pass ran pre-checkpoint


def test_strength_features_single_aggregate_no_cartesian(spark):
    # x25 (r10): the strengths are ONE keyed aggregate over the
    # decomposed frame; decompose itself contributes its pinned x8
    # shape (series window + tiny phase-mean joins)
    df = entrymod.q_x25_strength_features(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_touch_lag_single_window_keyed_no_cartesian(spark):
    # w16 (r10): same single per-key window pass as w15, one keyed
    # percentile aggregate after it
    df = entrymod.q_w16_touch_lag(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("WindowExec") <= 1 or plan.count("Window") <= 2


def test_quantity_search_pushdown_and_pruned_scan(spark):
    # fs13 (r11): the quantity grammar compiles to pure column
    # predicates — the numeric leg pushes into the parquet scan and
    # the scan reads only the referenced columns; no join, no UDF
    df = entrymod.q_fs13_quantity_search(spark, SF_DIR)
    plan = _plan(df)
    assert "GreaterThanOrEqual(value,0.5)" in plan  # PushedFilters
    assert "ReadSchema: struct<event_id:bigint,value:double>" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_position_attribution_one_corpus_pass_checkpointed(spark):
    # w18 (r11): same one-pass contract as w17 — the output plan reads
    # the checkpointed (key, path, type) frame, zero parquet rescans,
    # no window downstream, nothing cartesian
    df = entrymod.q_w18_position_attribution(spark, SF_DIR)
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_rfm_no_global_window_broadcast_thresholds(spark):
    # w19 (r11): quintile scoring must come from broadcast threshold
    # literals, NEVER a global ntile window (single-task scale killer);
    # the only nested-loop joins are the 1-row broadcast frames
    df = entrymod.q_w19_rfm_segments(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "Sort [" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row threshold frames


def test_ivf_batch_probe_prunes_and_avoids_global_sort(spark):
    """v22 (r12): the batch probe's scan lists only the probed-cell
    union (PartitionFilters on cluster), and per-query top-k is a
    qid-partitioned rank window — no SinglePartition sort of the
    candidate frame."""
    df = entrymod.q_v22_ivf_batch_probe(spark, SF_DIR)
    plan = _plan(df)
    assert "PartitionFilters" in plan and "cluster" in plan
    assert "BroadcastHashJoin" in plan  # (qid, cell, qvec) pairs
    # the rank window is partitioned by query_id, never unpartitioned
    assert "SinglePartition" not in plan
