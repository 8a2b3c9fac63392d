"""corpus_curation: the LLM-data-pipeline chain, once per operation.

lang_id and quality_score -> repetition_features ->
exact_dedup_by_content -> lsh_candidate_pairs -> connected_components
-> hyperplane_buckets -> embedding_neardup_pairs, over a seeded
four-language corpus with planted exact copies and planted edited
near-duplicates. The explode- and shuffle-heavy class: a setting that
helps joins can cost this class, and shows here.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from healthcare_api_spark.operators.curation import repetition_features
from healthcare_api_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_by_content,
    lsh_candidate_pairs,
)
from healthcare_api_spark.operators.graph import connected_components
from healthcare_api_spark.operators.similarity import hyperplane_buckets
from healthcare_api_spark.operators.textops import lang_id, quality_score
from perfbench.gen import corpus

N_BASE, N_EXACT, N_NEAR = 400, 100, 100
N_PLANES = 6
# The candidate graph is mostly planted pairs, so alternating star
# converges in a few rounds; non-convergence raises and fails the op.
CC_ITERS = 4
COSINE = 0.95
WARMUP_OPS = 0
TRACED_OPS = 1
# Recall floors for the planted near-duplicate pairs. With two of ~70
# words edited, word-3-shingle Jaccard is about 0.85, and 4 bands of 2
# minhashes catch such a pair with probability above 0.99; an embedding
# copy at cosine ~0.9999 shares all 6 hyperplane signs with probability
# ~0.95. The floors leave room for sampling noise over 100 pairs.
EXTRA_METRICS = {
    "operators.dedup.candidate_pairs_per_true_pair": "ratio",
    "operators.dedup.true_pairs": "count",
}
LSH_RECALL_FLOOR = 0.9
EMBEDDING_RECALL_FLOOR = 0.8
LANG_ACCURACY_FLOOR = 0.95


def prepare(seed, inputs):
    c = corpus(seed, N_BASE, N_EXACT, N_NEAR)
    return c, c.write_parquet(inputs / "corpus.parquet")


def setup(bench, prepared):
    return prepared


def run(bench, state):
    c, path = state
    k = 0
    while bench.more(k):
        bench.tracer.parent = f"corpus_curation.op{k}"
        t0 = time.perf_counter()
        out = curate(bench, c, path)
        bench.log.record("pipeline", time.perf_counter() - t0, items=len(c.rows))
        bench.log.verdict(check(c, out))
        if k == 0 and bench.tracer.enabled:
            bench.extra["operators.dedup.candidate_pairs_per_true_pair"] = (
                len(out["candidates"]) / len(c.near_pairs), "ratio")
            bench.extra["operators.dedup.true_pairs"] = (float(len(c.near_pairs)), "count")
        k += 1
    return {
        "throughput_per_s": bench.log.throughput(),
        "latency_p50_ms": bench.log.p50_ms(),
        "samples": bench.log.all_latencies(),
    }


def curate(bench, c, path) -> dict[str, list]:
    t = bench.tracer
    docs = bench.spark.read.parquet(path)
    lang = t.call("operators.textops", "lang_id", lang_id, docs, "id", "text", materialize=True)
    qual = t.call("operators.textops", "quality_score", quality_score, docs, "id", "text",
                  materialize=True)
    rep = t.call("operators.curation", "repetition_features", repetition_features, docs, "id", "text",
                 materialize=True)
    ded = t.call("operators.dedup", "exact_dedup_by_content", exact_dedup_by_content, docs, "id", "text",
                 materialize=True)
    survivors = ded.filter(F.col("id") == F.col("canonical_id"))
    cand = t.call("operators.dedup", "lsh_candidate_pairs", lsh_candidate_pairs, survivors, "id", "text",
                  materialize=True)
    comps = t.call("operators.graph", "connected_components", connected_components,
                   cand.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                   iters=CC_ITERS, on_nonconverged="raise", materialize=True)
    buck = t.call("operators.similarity", "hyperplane_buckets", hyperplane_buckets, survivors, "vec",
                  c.dim, n_planes=N_PLANES, materialize=True)
    emb = t.call("operators.dedup", "embedding_neardup_pairs", embedding_neardup_pairs, buck, "id", "vec",
                 "bucket", threshold=COSINE, materialize=True)
    return {
        "lang": lang.collect(),
        "quality": qual.collect(),
        "repetition": rep.collect(),
        "dedup": ded.select("id", "canonical_id").collect(),
        "candidates": cand.collect(),
        "components": comps.collect(),
        "embedding_pairs": emb.select("id_a", "id_b").collect(),
    }


def check(c, out) -> list[str]:
    problems = []
    n = len(c.rows)
    for key in ("lang", "quality", "repetition", "dedup"):
        if len(out[key]) != n:
            problems.append(f"{key}: {len(out[key])} rows for {n} docs")
    truth = {r[0]: r[1] for r in c.rows}
    acc = sum(r["pred_lang"] == truth[r["id"]] for r in out["lang"]) / n
    if acc < LANG_ACCURACY_FLOOR:
        problems.append(f"lang_id accuracy {acc:.3f} < {LANG_ACCURACY_FLOOR}")

    dups = {(r["canonical_id"], r["id"]) for r in out["dedup"] if r["canonical_id"] != r["id"]}
    planted = {tuple(sorted(p)) for p in c.exact_pairs}
    if dups != planted:
        problems.append(f"exact duplicates {len(dups)} found, {len(planted)} planted, "
                        f"{len(dups ^ planted)} differ")

    comp = {r["node"]: r["component"] for r in out["components"]}
    lsh_recall = sum(a in comp and comp.get(a) == comp.get(b) for a, b in c.near_pairs) / len(c.near_pairs)
    if lsh_recall < LSH_RECALL_FLOOR:
        problems.append(f"LSH + components near-dup recall {lsh_recall:.3f} < {LSH_RECALL_FLOOR}")
    found = {(r["id_a"], r["id_b"]) for r in out["embedding_pairs"]}
    emb_recall = sum(p in found for p in c.near_pairs) / len(c.near_pairs)
    if emb_recall < EMBEDDING_RECALL_FLOOR:
        problems.append(f"embedding near-dup recall {emb_recall:.3f} < {EMBEDDING_RECALL_FLOOR}")
    return problems
