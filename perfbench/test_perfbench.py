"""Tests of the benchmark itself: generators, the percentile rule, output
checks and the per-layer collector.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen, wl_curation, wl_search, wl_stream  # noqa: E402
from perfbench.oplog import OpLog, tail_percentile  # noqa: E402
from perfbench.trace import Tracer, count_exchanges, covered_seconds  # noqa: E402


def _drop_bytes(seed: int, tmp: Path) -> bytes:
    paths = gen.fhir_drop(seed, 6).write_ndjson(tmp / str(seed))
    return b"".join(Path(paths[t]).read_bytes() for t in sorted(paths))


def test_generators_are_deterministic_per_seed(tmp_path):
    assert _drop_bytes(3, tmp_path / "a") == _drop_bytes(3, tmp_path / "b")
    assert _drop_bytes(3, tmp_path / "a") != _drop_bytes(4, tmp_path / "c")

    a = gen.corpus(3, 50, 5, 5)
    assert a == gen.corpus(3, 50, 5, 5)
    assert a.rows != gen.corpus(4, 50, 5, 5).rows
    pa, pb = a.write_parquet(tmp_path / "a.parquet"), a.write_parquet(tmp_path / "b.parquet")
    assert Path(pa).read_bytes() == Path(pb).read_bytes()

    assert gen.events(3, 20, 3, 50) == gen.events(3, 20, 3, 50)
    assert gen.events(3, 20, 3, 50) != gen.events(4, 20, 3, 50)


def test_fhir_drop_shape():
    d = gen.fhir_drop(1, 20)
    n = {t: len(rows) for t, rows in d.resources.items()}
    assert 28 * 20 <= n["Specimen"] <= 36 * 20
    assert 45 * 20 <= n["DocumentReference"] <= 55 * 20
    kinds = {doc["subject"]["reference"].split("/")[0] for doc in d.resources["DocumentReference"]}
    assert kinds == {"Group", "Specimen", "Patient"}
    assert all(n[t] == 20 for t in gen.TRANSFORM_ONLY)
    # group 0 spans several patients
    g0 = d.resources["Group"][0]["member"]
    specs = {m["entity"]["reference"] for m in g0 if m["entity"].get("reference", "").startswith("Specimen/")}
    owners = {s["subject"]["reference"] for s in d.resources["Specimen"] if f"Specimen/{s['id']}" in specs}
    assert len(owners) > 1
    # the specimen-less groups are never a document subject
    empty = [g for g in d.resources["Group"]
             if not any(m["entity"].get("reference", "").startswith("Specimen/") for m in g["member"])]
    assert {g["id"] for g in empty} == d.empty_group_ids and len(empty) == gen.EMPTY_GROUPS
    assert not {f"Group/{g}" for g in d.empty_group_ids} & {
        doc["subject"]["reference"] for doc in d.resources["DocumentReference"]}


def test_corpus_plants_duplicates():
    c = gen.corpus(2, 100, 7, 9)
    text = {r[0]: r[2] for r in c.rows}
    assert len(c.rows) == 116 and len(text) == 116
    assert all(text[a] == text[b] for a, b in c.exact_pairs)
    assert all(text[a] != text[b] and a < b for a, b in c.near_pairs)
    assert len(set(text.values())) == 116 - 7


def test_tail_percentile_rule():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(1, 21))) == (50.0, 10)
    assert tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert tail_percentile(list(range(1, 1001))) == (99.0, 990)
    assert tail_percentile(list(range(1, 10001))) == (99.9, 9990)


def test_corrupted_search_output_counts_as_failed():
    model = wl_search.Model(gen.fhir_drop(5, 10))
    log = OpLog()

    def honest(rtype, params):
        g = params["gender"]
        return [{"id": p["id"]} for p in model.patients if p["gender"] == g]

    def corrupt(rtype, params):
        return honest(rtype, params)[1:]

    import random

    for search in (honest, corrupt, lambda rt, p: honest(rt, p) * 2):
        log.verdict(wl_search._token(random.Random(0), model, search))
    assert (log.attempted, log.failed) == (3, 2)


def test_corrupted_stream_and_curation_outputs_fail():
    m = gen.FlowModel()
    for rows in gen.events(1, 10, 2, 80).batches:
        m.feed(rows)
    want = m.matrix()
    rows = [{"src": s, "dst": d, "n_transitions": n, "prob": round(p, 6)} for (s, d), (n, p) in want.items()]
    assert wl_stream.compare(rows, want, "ok") == []
    rows[0] = dict(rows[0], n_transitions=rows[0]["n_transitions"] + 1)
    assert wl_stream.compare(rows, want, "bad")
    assert wl_stream.compare(rows[1:], want, "missing")

    c = gen.corpus(1, 60, 4, 4)
    ids = [r[0] for r in c.rows]
    canon = {x: min(a, b) for a, b in c.exact_pairs for x in (a, b)}
    comp = {x: x for x in ids}
    for a, b in c.near_pairs:
        comp[b] = a
    out = {
        "lang": [{"id": r[0], "pred_lang": r[1]} for r in c.rows],
        "quality": ids, "repetition": ids,
        "dedup": [{"id": x, "canonical_id": canon.get(x, x)} for x in ids],
        "components": [{"node": n, "component": v} for n, v in comp.items()],
        "embedding_pairs": [{"id_a": a, "id_b": b} for a, b in c.near_pairs],
        "candidates": [],
    }
    assert wl_curation.check(c, out) == []
    out["dedup"] = [{"id": x, "canonical_id": x} for x in ids]
    assert wl_curation.check(c, out)


def test_covered_seconds_unions_and_clips():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert covered_seconds([], 0, 1) == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]").appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_collector_attributes_jobs_to_layers(spark):
    from pyspark.sql import functions as F

    t = Tracer("unit", enabled=True)
    t.bind(spark)
    base = t.call("layer_a", "scan", lambda: spark.range(2000).withColumn("k", F.col("id") % 7),
                  materialize=True)
    agg = t.call("layer_b", "aggregate", lambda: base.groupBy("k").count(), materialize=True)
    assert t.call("layer_c", "collect", agg.collect)
    a, b, c = t.spans
    assert [s.name for s in t.spans] == ["unit.layer_a.scan", "unit.layer_b.aggregate",
                                          "unit.layer_c.collect"]
    assert a.jobs >= 1 and a.tasks >= 1 and a.shuffle_write_mb == 0
    # the shuffle belongs to the aggregate's checkpoint, not to the scan or the collect
    assert b.jobs >= 1 and b.shuffle_write_mb > 0
    assert c.shuffle_write_mb == 0
    assert all(0 <= s.driver_s <= s.wall_s for s in t.spans)
    m = t.layer_metrics()
    assert m["session.jobs"] == (0.0, "count")


def test_count_exchanges_reads_the_final_adaptive_plan(spark):
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        agg = spark.range(2000).withColumn("k", F.col("id") % 7).groupBy("k").count()
        assert count_exchanges(agg) == 1
        assert len(agg.collect()) == 7
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "== Final Plan ==" in plan and "== Initial Plan ==" in plan
        assert count_exchanges(agg) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")


def test_benchmark_json_lists_every_metric_the_runs_print():
    import json

    from perfbench.run import extra_metrics
    from perfbench.trace import LAYERS, SPAN_FIELDS

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    want = {f"{layer}.{f}": unit for layer in LAYERS for f, unit in SPAN_FIELDS}
    want.update(extra_metrics())
    want["trace.overhead_frac"] = "ratio"
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == want
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "throughput_per_s", "latency_p50_ms", "retained_heap_mb"]
    assert [w["name"] for w in spec["workloads"]] == [
        "fhir_ingest", "fhir_search", "corpus_curation", "stream_state"]
