"""BucketedVersionedState (streaming/state.py, r8): per-batch IO
bounded by TOUCHED buckets, replay idempotency against strictly-
pre-batch snapshots, crash-safety of immutable versions, and
per-bucket retention — the VERDICT r7 #3 / ADVICE r7 contract for the
streaming near-dup, KMV, and heavy-hitter state tables."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState


def _merge_counts(prev, delta):
    if prev is None:
        return delta
    return (
        prev.unionByName(delta)
        .groupBy("k")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, cnt bigint")


def _pt_dirs(path, version):
    return sorted(
        d for d in os.listdir(f"{path}/{version}") if d.startswith("_pt=")
    )


def _delta_buckets(spark, path, version):
    """The distinct ``_pt`` bucket values of a delta's rows, ascending."""
    return sorted(
        r[0]
        for r in spark.read.parquet(f"{path}/{version}")
        .select("_pt")
        .distinct()
        .collect()
    )


def _counts_store(path, num_buckets=4, **kw):
    return BucketedVersionedState(
        path, ["k"], num_buckets=num_buckets, merge_fn=_merge_counts, **kw
    )


def test_rewrite_bounded_by_touched_buckets(spark, tmp_path):
    """THE r7 verdict test: a batch touching one key must write one
    bucket's rows — not |state|. A wide first batch seeds many
    buckets; a narrow delta holds exactly the touched bucket, and a
    compaction covers only the touched and pending-delta buckets."""
    path = str(tmp_path / "state")
    # compact_every=1: deltas and compactions alternate
    store = _counts_store(path, num_buckets=8, compact_every=1)
    wide = _mk(spark, [(f"key{i}", 1) for i in range(64)])
    store.merge_batch(wide, 0)
    assert len(_delta_buckets(spark, path, "d0")) > 1  # really spans buckets

    narrow = _mk(spark, [("key0", 5)])
    touched = [f"_pt={b}" for b in store.touched_buckets(narrow)]
    assert len(touched) == 1
    store.merge_batch(narrow, 1)  # compacts d0's buckets into v1
    store.merge_batch(narrow, 2)
    assert [f"_pt={b}" for b in _delta_buckets(spark, path, "d2")] == touched
    store.merge_batch(narrow, 3)  # compacts: only d2's bucket is pending
    assert _pt_dirs(path, "v3") == touched

    # the read still sees the FULL state: key0 merged, others from v1
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 16 and got["key1"] == 1 and len(got) == 64


def test_replay_skips_and_reads_pre_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch whose compaction
    snapshot committed is a no-op, and state-as-of-before-the-batch is
    exactly the pre-batch state (never the batch's own output)."""
    path = str(tmp_path / "state")
    store = _counts_store(path, compact_every=1)
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    store.merge_batch(_mk(spark, [("a", 10)]), 1)  # compacts into v1
    after = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert after == {"a": 11, "b": 2}

    # replay batch 1: complete snapshot exists → skipped, nothing moves
    mtimes = {v: os.path.getmtime(f"{path}/{v}") for v in ("d0", "v1")}
    store.merge_batch(_mk(spark, [("a", 10)]), 1)
    assert {r["k"]: r["cnt"] for r in store.read(spark).collect()} == after
    assert all(os.path.getmtime(f"{path}/{v}") == t for v, t in mtimes.items())

    # a replayed batch recomputing its outputs reads the PRE-batch
    # state, not its own: as-of-before-1 is the d0 delta
    pre = {
        r["k"]: r["cnt"]
        for r in store.read(spark, before_batch=1).collect()
    }
    assert pre == {"a": 1, "b": 2}


def test_partial_version_ignored_and_prior_state_survives(spark, tmp_path):
    """A crash mid-compaction leaves a v{N} without _SUCCESS: readers
    must ignore it and the previous state must be fully intact (the
    old in-place overwrite deleted the only copy first)."""
    path = str(tmp_path / "state")
    store = _counts_store(path, compact_every=1)
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)

    # simulate a crashed v1: parquet files present, no _SUCCESS
    _mk(spark, [("a", 999)]).withColumn("_pt", store.bucket_expr()) \
        .withColumn("_tomb", F.lit(False)) \
        .write.partitionBy("_pt").parquet(f"{path}/v1")
    os.remove(f"{path}/v1/_SUCCESS")

    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 1, "b": 2}
    # the recovery path (merge_batch for batch 1 again) overwrites the
    # partial dir and commits cleanly
    store.merge_batch(_mk(spark, [("a", 999)]), 1)
    assert os.path.exists(f"{path}/v1/_SUCCESS")
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 1000, "b": 2}


def test_per_bucket_retention_never_drops_last_copies(spark, tmp_path):
    """Pruning is per BUCKET: an old base survives while any of its
    buckets lacks keep_versions newer copies — a base holding a
    bucket's only copy is never deleted; once every bucket is covered
    it is."""
    path = str(tmp_path / "state")
    store = _counts_store(path, keep_versions=2, compact_every=1)
    # key "a" and key "b" land in different buckets for nb=4 (verified
    # below); batches 1..7 touch only "a"
    store.merge_batch(_mk(spark, [("a", 1), ("b", 1)]), 0)
    ba = next(iter(store.touched_buckets(_mk(spark, [("a", 0)]))))
    bb = next(iter(store.touched_buckets(_mk(spark, [("b", 0)]))))
    assert ba != bb
    for i in range(1, 8):  # odd batches compact: v1 {ba, bb}, v3..v7 {ba}
        store.merge_batch(_mk(spark, [("a", 1)]), i)
    names = os.listdir(path)
    # v1 must SURVIVE: it holds bucket bb's only copy
    assert "v1" in names
    assert _pt_dirs(path, "v1") == sorted([f"_pt={ba}", f"_pt={bb}"])
    # bucket ba's v3 copy has keep_versions=2 newer ones (v5, v7): pruned
    assert "v3" not in names and "v5" in names
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 8, "b": 1}


def test_neardup_admit_batch_replay_idempotent(spark, tmp_path):
    """ADVICE r7 (medium): a replayed near-dup batch must NOT see its
    own band buckets (self-collision → contradictory admitted=0 rows
    appended). With versioned state + per-batch verdict partitions the
    replay recomputes the same verdicts and overwrites them."""
    from healthcare_api_spark.streaming.neardup import admit_batch

    root = str(tmp_path / "nd")
    t_dup = "the quick brown fox jumps over the lazy dog again and again"
    t_other = "completely different content about spark shuffle partitions"
    b0 = spark.createDataFrame(
        [(10, t_dup), (20, t_dup), (30, t_other)], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(5, t_dup), (40, t_other)], ["doc_id", "text"]
    )
    admit_batch(b0, 0, root, "doc_id", "text")
    admit_batch(b1, 1, root, "doc_id", "text")
    want = {(10, 1), (20, 0), (30, 1), (5, 0), (40, 0)}

    def verdicts():
        return [
            (r["doc_id"], r["admitted"])
            for r in spark.read.parquet(f"{root}/verdicts").collect()
        ]

    assert set(verdicts()) == want and len(verdicts()) == 5
    # replay batch 1 (at-least-once): same verdicts, NO duplicates,
    # no self-collision flips
    admit_batch(b1, 1, root, "doc_id", "text")
    assert set(verdicts()) == want and len(verdicts()) == 5
    # and replay batch 0 too (an older uncommitted offset rewind)
    admit_batch(b0, 0, root, "doc_id", "text")
    assert set(verdicts()) == want and len(verdicts()) == 5


def test_streaming_session_flows_cross_batch_and_replay(spark, tmp_path):
    """st7 machinery on a hand-built stream: a session spanning the
    batch boundary contributes exactly ONE boundary transition, a gap
    larger than the window contributes none, and a replayed batch
    changes nothing (r8)."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import session_flows
    from healthcare_api_spark.streaming.flows import (
        flows_batch,
        read_session_flows,
    )

    def t(minute):
        return datetime(2024, 1, 1, 10 + minute // 60, minute % 60)

    schema = "user_id long, ts timestamp, event_type string"
    # user 1: a->b in batch 0; ->c 5 min later in batch 1 (same
    # session: boundary transition b->c); user 2: x in batch 0, ->y
    # 45 min later in batch 1 (gap > 30 min: NO boundary transition)
    b0 = spark.createDataFrame(
        [(1, t(0), "a"), (1, t(1), "b"), (2, t(2), "x")], schema
    )
    b1 = spark.createDataFrame(
        [(1, t(6), "c"), (2, t(47), "y"), (2, t(48), "z")], schema
    )
    root = str(tmp_path / "flows")
    flows_batch(b0, 0, root, "user_id", "ts", "event_type")
    flows_batch(b1, 1, root, "user_id", "ts", "event_type")

    def matrix():
        return {
            (r["src"], r["dst"]): (r["n_transitions"], r["prob"])
            for r in read_session_flows(spark, root).collect()
        }

    got = matrix()
    assert got == {
        ("a", "b"): (1, 1.0),
        ("b", "c"): (1, 1.0),   # the cross-batch stitch
        ("y", "z"): (1, 1.0),   # within batch 1; x->y gap-broken
    }
    # equals the batch operator over the union (the st7 contract)
    whole = {
        (r["src"], r["dst"]): (r["n_transitions"], r["prob"])
        for r in session_flows(
            b0.unionByName(b1), "user_id", "ts", "event_type", 30
        ).collect()
    }
    assert got == whole
    # replay either batch: counts must NOT double
    flows_batch(b1, 1, root, "user_id", "ts", "event_type")
    flows_batch(b0, 0, root, "user_id", "ts", "event_type")
    assert matrix() == got


def test_streaming_bloom_state_equals_batch_build(spark, tmp_path):
    """st8: folding two micro-batches through bloom_merge must leave a
    state BIT-IDENTICAL to one bloom_build over everything (OR is
    associative + idempotent), incl. a key repeated across batches."""
    from pyspark.sql import functions as F

    from healthcare_api_spark.operators.sketches import bloom_build
    from healthcare_api_spark.streaming.sketches import (
        read_bloom_state,
        streaming_bloom,
    )

    all_keys = [f"k{i}" for i in range(30)] + ["k3"]  # dup across batches
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(k,) for k in all_keys[:15]], ["key"])
    b2 = spark.createDataFrame([(k,) for k in all_keys[15:]], ["key"])
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("key string").parquet(src)
    q = streaming_bloom(
        stream, state, "key", m_bits=256, k_hashes=3, checkpoint=ckpt
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["word_idx"], r["word"])
        for r in read_bloom_state(spark, state).collect()
    }
    whole = spark.createDataFrame([(k,) for k in all_keys], ["key"])
    want = {
        (r["word_idx"], r["word"])
        for r in bloom_build(whole, "key", m_bits=256, k_hashes=3).collect()
    }
    assert got == want


def test_streaming_cms_state_equals_batch_build(spark, tmp_path):
    """st9: folding two micro-batches through cms_merge must leave a
    state CELL-FOR-CELL identical to one cms_build over everything
    (integer cell sums reassociate exactly) — including keys repeated
    across batches, which a replay-unsafe fold would double-count."""
    from healthcare_api_spark.operators.sketches import cms_build
    from healthcare_api_spark.streaming.sketches import (
        read_cms_state,
        streaming_cms,
    )

    keys = [f"k{i % 7}" for i in range(40)]  # heavy repetition
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(k,) for k in keys[:23]], ["key"])
    b2 = spark.createDataFrame([(k,) for k in keys[23:]], ["key"])
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("key string").parquet(src)
    q = streaming_cms(
        stream, state, "key", depth=3, width=64, checkpoint=ckpt
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["r"], r["bucket"], r["n"])
        for r in read_cms_state(spark, state).collect()
    }
    whole = spark.createDataFrame([(k,) for k in keys], ["key"])
    want = {
        (r["r"], r["bucket"], r["n"])
        for r in cms_build(whole, "key", depth=3, width=64).collect()
    }
    assert got == want


def test_streaming_cms_replay_does_not_double_count(spark, tmp_path):
    """Cell-sum is NOT idempotent, so replay safety rests on the
    versioned store: re-running a committed batch id must leave the
    state unchanged (short-circuit on the complete version)."""
    from healthcare_api_spark.operators.sketches import cms_build
    from healthcare_api_spark.streaming.sketches import _cms_store

    store = _cms_store(str(tmp_path / "s"), 4)
    d1 = cms_build(
        spark.createDataFrame([("a",), ("b",)], ["key"]), "key", 2, 32
    )

    store.merge_batch(d1, 0)
    before = {(r["r"], r["bucket"], r["n"]) for r in store.read(spark).collect()}
    store.merge_batch(d1, 0)  # replay
    after = {(r["r"], r["bucket"], r["n"]) for r in store.read(spark).collect()}
    assert before == after


def test_streaming_hll_state_equals_batch_build(spark, tmp_path):
    """st10: folding two micro-batches through hll_merge must leave a
    state ROW-FOR-ROW identical to one hll_build over everything
    (register max is associative + idempotent) — including keys
    repeated across batches and register collisions across batches."""
    from healthcare_api_spark.operators.sketches import hll_build
    from healthcare_api_spark.streaming.sketches import (
        read_hll_state,
        streaming_hll,
    )

    rows = [(f"g{i % 2}", i % 37) for i in range(80)]  # dups everywhere
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame(rows[:45], ["grp", "key"])
    b2 = spark.createDataFrame(rows[45:], ["grp", "key"])
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema("grp string, key long").parquet(src)
    q = streaming_hll(
        stream, state, ["grp"], "key", p=5, checkpoint=ckpt
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["grp"], r["reg"], r["rho"])
        for r in read_hll_state(spark, state, ["grp"]).collect()
    }
    whole = spark.createDataFrame(rows, ["grp", "key"])
    want = {
        (r["grp"], r["reg"], r["rho"])
        for r in hll_build(whole, ["grp"], "key", p=5).collect()
    }
    assert got == want


def test_streaming_ewma_seeded_fold_equals_batch_and_replay(spark, tmp_path):
    """st11 machinery on a hand-built stream: batch 1's fold continues
    from batch 0's carried state bit-for-bit (== the whole-table
    recursion), new series seed from their own first row, and a
    replayed batch changes nothing (r8)."""
    from healthcare_api_spark.operators.temporal import ewma
    from healthcare_api_spark.streaming.smoothing import ewma_batch, read_ewma

    schema = "k string, ts timestamp, v double"

    def t(i):
        from datetime import datetime

        return datetime(2024, 1, 1, 10, i)

    b0 = spark.createDataFrame(
        [("a", t(0), 10.0), ("a", t(1), 20.0), ("b", t(0), 5.0)], schema
    )
    b1 = spark.createDataFrame(
        [("a", t(2), 30.0), ("b", t(3), 6.0), ("c", t(4), 1.0)], schema
    )
    root = str(tmp_path / "ewma")
    ewma_batch(b0, 0, root, "k", "ts", "v", alpha=0.3)
    ewma_batch(b1, 1, root, "k", "ts", "v", alpha=0.3)

    def live():
        return {
            (r["k"], r["us"]): (r["x"], r["ewma"])
            for r in read_ewma(spark, root).collect()
        }

    got = live()
    want = {
        (r["k"], r["us"]): (r["v"], r["ewma"])
        for r in (
            ewma(b0.unionByName(b1), ("k",), "ts", "v", alpha=0.3)
            .select(
                "k", F.unix_micros(F.col("ts")).alias("us"), "v", "ewma"
            )
            .collect()
        )
    }
    assert got == want  # bit-for-bit, no rounding
    # replay both batches in any order: results and state unchanged
    ewma_batch(b1, 1, root, "k", "ts", "v", alpha=0.3)
    ewma_batch(b0, 0, root, "k", "ts", "v", alpha=0.3)
    assert live() == got


def test_streaming_cep_cross_batch_and_replay(spark, tmp_path):
    """st12 machinery on a hand-built stream: a match whose stages
    straddle the batch boundary completes exactly once, a within-
    bound violation drops the match (skip-till-next has no alternative
    continuation), multi-stage advancement works inside ONE batch, and
    replaying a batch changes nothing."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import sequence_spans
    from healthcare_api_spark.streaming.cep import (
        cep_batch,
        read_sequence_matches,
    )

    def t(minute):
        return datetime(2024, 1, 1, 10 + minute // 60, minute % 60)

    schema = "user_id long, ts timestamp, event_type string"
    # user 1: a@0 (batch 0) -> b@70, c@80 (batch 1): cross-batch match
    # user 2: a@1, b@2, c@3 all in batch 0: single-batch full advance
    # user 3: a@0 (batch 0) -> b@75 -> c@200 (batch 1): span > 120 min
    #         bound -> dropped at completion
    b0 = spark.createDataFrame(
        [(1, t(0), "a"), (2, t(1), "a"), (2, t(2), "b"), (2, t(3), "c"),
         (3, t(0), "a")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(1, t(70), "b"), (1, t(80), "c"), (3, t(75), "b"), (3, t(200), "c")],
        schema,
    )
    root = str(tmp_path / "cep")
    pat = ["a", "b", "c"]
    within = 120 * 60 * 1_000_000
    cep_batch(b0, 0, root, "user_id", "ts", "event_type", pat, within)
    cep_batch(b1, 1, root, "user_id", "ts", "event_type", pat, within)

    def done():
        return sorted(
            (r["user_id"], str(r["ts_1"]), str(r["ts_2"]), str(r["ts_3"]),
             r["span_us"])
            for r in read_sequence_matches(spark, root, "user_id", 3).collect()
        )

    got = done()
    assert [g[0] for g in got] == [1, 2]
    assert got[0][4] == 80 * 60 * 1_000_000   # user 1 span
    assert got[1][4] == 2 * 60 * 1_000_000    # user 2 span
    # equals the batch operator over the union (the st contract)
    whole = sorted(
        (r["user_id"], str(r["ts_1"]), str(r["ts_2"]), str(r["ts_3"]),
         r["span_us"])
        for r in sequence_spans(
            b0.unionByName(b1), "user_id", "ts", "event_type", pat,
            within="7200 seconds",
        ).collect()
    )
    assert got == whole
    # replay both batches: completions must not duplicate, pendings
    # must not resurrect
    cep_batch(b1, 1, root, "user_id", "ts", "event_type", pat, within)
    cep_batch(b0, 0, root, "user_id", "ts", "event_type", pat, within)
    assert done() == got


def test_streaming_cep_pending_survives_early_continuations(spark, tmp_path):
    """A pending whose batch has stage-2 events ONLY EARLIER than its
    start must survive untouched (the groupBy-loses-the-pending bug
    class) and complete in a later batch."""
    from datetime import datetime

    from healthcare_api_spark.streaming.cep import (
        cep_batch,
        read_sequence_matches,
    )

    def t(minute):
        return datetime(2024, 1, 1, 10, minute)

    schema = "user_id long, ts timestamp, event_type string"
    b0 = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(1), "b")], schema  # b BEFORE a: no match
    )
    b1 = spark.createDataFrame([(1, t(9), "b")], schema)
    root = str(tmp_path / "cep2")
    cep_batch(b0, 0, root, "user_id", "ts", "event_type", ["a", "b"], None)
    assert read_sequence_matches(spark, root, "user_id", 2).count() == 0
    cep_batch(b1, 1, root, "user_id", "ts", "event_type", ["a", "b"], None)
    rows = read_sequence_matches(spark, root, "user_id", 2).collect()
    assert len(rows) == 1 and str(rows[0]["ts_2"]).startswith("2024-01-01 10:09")


def test_emptied_bucket_tombstone_no_resurface(spark, tmp_path):
    """ADVICE r9 (store half): when a compaction empties a covered
    bucket, the new snapshot must still SHADOW the bucket's older base
    copy — an empty partitionBy write materializes no ``_pt=`` dir, so
    without the tombstone marker the census would keep resolving the
    bucket to the older base and its stale rows would resurface."""
    path = str(tmp_path / "st")
    store = BucketedVersionedState(
        path, key_cols=["k"], num_buckets=4, replace=True,
        clear_if_null="cnt", compact_every=1,
    )
    ba = next(iter(store.touched_buckets(_mk(spark, [("a", 0)]))))
    bb = next(iter(store.touched_buckets(_mk(spark, [("b", 0)]))))
    assert ba != bb
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    store.merge_batch(_mk(spark, [("b", 3)]), 1)  # v1 holds a's bucket
    store.merge_batch(_mk(spark, [("b", 4)]), 2)
    # clear "a" (cnt NULL marker): its bucket is empty in the v3
    # compaction
    clear_a = spark.createDataFrame([("a", None)], "k string, cnt bigint")
    store.merge_batch(clear_a, 3)
    assert f"_pt={ba}" in _pt_dirs(path, "v3")  # the tombstone's dir
    got = sorted((r["k"], r["cnt"]) for r in store.read(spark).collect())
    assert got == [("b", 4)]
    pre = sorted(
        (r["k"], r["cnt"])
        for r in store.read(spark, before_batch=3).collect()
    )
    assert pre == [("a", 1), ("b", 4)]
    # replay of batch 3 is still a no-op
    store.merge_batch(clear_a, 3)
    assert sorted(
        (r["k"], r["cnt"]) for r in store.read(spark).collect()
    ) == [("b", 4)]


def test_streaming_cep_completed_pending_does_not_readvance(spark, tmp_path):
    """ADVICE r9 (high): a batch whose pendings ALL complete leaves
    ``still`` empty for that key's bucket; touched buckets must come
    from batch_keys, not the delta, or the stale stage-1 pending stays
    current and re-advances on a LATER continuation — emitting a
    duplicate non-earliest match and breaking streaming == batch."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import sequence_spans
    from healthcare_api_spark.streaming.cep import (
        cep_batch,
        read_sequence_matches,
    )

    def t(minute):
        return datetime(2024, 1, 1, 10, minute)

    schema = "user_id long, ts timestamp, event_type string"
    b0 = spark.createDataFrame([(1, t(0), "a")], schema)
    b1 = spark.createDataFrame([(1, t(5), "b")], schema)   # completes it
    b2 = spark.createDataFrame([(1, t(9), "b")], schema)   # bait
    root = str(tmp_path / "cep3")
    for i, b in enumerate([b0, b1, b2]):
        cep_batch(b, i, root, "user_id", "ts", "event_type", ["a", "b"], None)
    rows = read_sequence_matches(spark, root, "user_id", 2).collect()
    assert len(rows) == 1
    assert str(rows[0]["ts_2"]).startswith("2024-01-01 10:05")
    # and it equals the batch operator over the full stream
    whole = sequence_spans(
        b0.unionByName(b1).unionByName(b2),
        "user_id", "ts", "event_type", ["a", "b"],
    ).collect()
    assert len(whole) == 1 and str(whole[0]["ts_2"]).startswith(
        "2024-01-01 10:05"
    )


def test_streaming_touch_attribution_cross_batch_and_replay(spark, tmp_path):
    """st13 machinery on a hand-built stream: a conversion in batch 1
    credits a touch from batch 0 (the carried min/max structs seed the
    window), first-ever vs most-recent diverge across the boundary,
    a brand-new batch-1 user with no touch lands in '(none)', and
    replaying either batch changes nothing."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import touch_attribution
    from healthcare_api_spark.streaming.attribution import (
        read_touch_attribution,
        touch_batch,
    )

    schema = "user_id bigint, ts timestamp, event_type string, value double"

    def t(i):
        return datetime(2024, 1, 1, 10, i)

    b0 = spark.createDataFrame(
        [
            (1, t(0), "ad", 0.0), (1, t(1), "email", 0.0),
            (2, t(0), "click", 0.0),
            (2, t(1), "purchase", 3.0),  # in-batch conversion
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (1, t(5), "purchase", 10.5),  # credits b0: first=ad, last=email
            (2, t(6), "ad", 0.0),
            (2, t(7), "purchase", 2.0),   # first=click (b0), last=ad (b1)
            (3, t(5), "purchase", 1.0),   # no touch ever -> (none)
        ],
        schema,
    )
    root = str(tmp_path / "attr")
    args = (root, "user_id", "ts", "event_type", "purchase", "value")
    touch_batch(b0, 0, *args)
    touch_batch(b1, 1, *args)

    def live():
        return {
            r["touch_type"]: (
                r["first_touch"], r["last_touch"], r["last_touch_value_cents"]
            )
            for r in read_touch_attribution(spark, root).collect()
        }

    got = live()
    want = {
        r["touch_type"]: (
            r["first_touch"], r["last_touch"], r["last_touch_value_cents"]
        )
        for r in touch_attribution(
            b0.unionByName(b1), "user_id", "ts", "event_type", "purchase",
            value_col="value",
        ).collect()
    }
    assert got == want
    assert got["ad"] == (1, 1, 200)       # u1 first (b0); u2 last (b1)
    assert got["email"] == (0, 1, 1050)   # u1 last, cross-batch
    assert got["click"] == (2, 1, 300)    # u2 first (both convs), u2 last (b0)
    assert got["(none)"] == (1, 1, 100)
    # replay both batches out of order: results and state unchanged
    touch_batch(b1, 1, *args)
    touch_batch(b0, 0, *args)
    assert live() == got


def test_streaming_attribution_random_splits_equal_batch(spark, tmp_path):
    """The st13 contract over a seeded random stream cut at RANDOM
    time boundaries into 3 micro-batches: the streamed credit table
    equals touch_attribution over the whole table — for any split, not
    just the gate's date boundary."""
    import random
    from datetime import datetime, timedelta

    from healthcare_api_spark.operators.analytics import touch_attribution
    from healthcare_api_spark.streaming.attribution import (
        read_touch_attribution,
        touch_batch,
    )

    rng = random.Random(13)
    base = datetime(2024, 1, 1)
    types = ["ad", "email", "click", "purchase"]
    rows = [
        (rng.randrange(25),
         base + timedelta(minutes=rng.randrange(5000)),
         rng.choice(types),
         round(rng.uniform(0, 50), 2))
        for _ in range(600)
    ]
    schema = "user_id bigint, ts timestamp, event_type string, value double"
    df = spark.createDataFrame(rows, schema)
    # random time cuts (batches must be per-user time-ordered)
    cuts = sorted(rng.sample(range(500, 4500), 2))
    t1 = base + timedelta(minutes=cuts[0])
    t2 = base + timedelta(minutes=cuts[1])
    b0 = df.filter(F.col("ts") < F.lit(t1))
    b1 = df.filter((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2)))
    b2 = df.filter(F.col("ts") >= F.lit(t2))
    root = str(tmp_path / "attr_rand")
    args = (root, "user_id", "ts", "event_type", "purchase", "value")
    for i, b in enumerate((b0, b1, b2)):
        touch_batch(b, i, *args)
    got = {
        tuple(r) for r in read_touch_attribution(spark, root).collect()
    }
    want = {
        tuple(r)
        for r in touch_attribution(
            df, "user_id", "ts", "event_type", "purchase", value_col="value"
        ).collect()
    }
    assert got == want


def test_streaming_multitouch_cross_batch_and_replay(spark, tmp_path):
    """st14 machinery: a path STRADDLING the batch boundary (touches in
    batch 0, conversion in batch 1) credits exactly like the batch
    operator; an in-batch path closes and RESETS the open path; a
    pathless conversion lands in '(none)'; replay changes nothing."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import (
        multi_touch_attribution,
    )
    from healthcare_api_spark.streaming.multitouch import (
        multitouch_batch,
        read_multitouch,
    )

    schema = "user_id bigint, ts timestamp, event_type string"

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    b0 = spark.createDataFrame(
        [
            (1, t(8), "ad"), (1, t(9), "email"),           # open path
            (2, t(8), "click"), (2, t(9), "purchase"),     # closes in-batch
            (2, t(10), "ad"),                              # reopens
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (1, t(10), "purchase"),     # credits b0's ad+email
            (2, t(11), "purchase"),     # credits b0's reopened ad
            (3, t(11), "purchase"),     # pathless -> (none)
        ],
        schema,
    )
    root = str(tmp_path / "mt")
    h_us = 3_600_000_000
    args = (root, "user_id", "ts", "event_type", "purchase", h_us)
    multitouch_batch(b0, 0, *args)
    multitouch_batch(b1, 1, *args)

    def live():
        return {
            r["touch_type"]: tuple(r)[1:]
            for r in read_multitouch(spark, root).collect()
        }

    got = live()
    want = {
        r["touch_type"]: tuple(r)[1:]
        for r in multi_touch_attribution(
            b0.unionByName(b1), "user_id", "ts", "event_type",
            "purchase", halflife="1 hour",
        ).collect()
    }
    assert got == want
    # hand check: u1 path ad (lag 2h, k=2) + email (lag 1h, k=1):
    # decay ad 333333 / email 666667, linear 500000 each; u2 paths:
    # click 1e6+1e6? click closes path 1 alone (1e6 both models);
    # ad alone closes path 2 (1e6 both)
    assert got["email"] == (1, 1, 500_000, 666_667)
    assert got["click"] == (1, 1, 1_000_000, 1_000_000)
    assert got["ad"] == (2, 2, 1_500_000, 1_333_333)
    assert got["(none)"] == (0, 1, 1_000_000, 1_000_000)
    # replay both batches out of order: nothing changes
    multitouch_batch(b1, 1, *args)
    multitouch_batch(b0, 0, *args)
    assert live() == got


def test_streaming_multitouch_wm_lateness_contract(spark, tmp_path):
    """st15 machinery (r12): the late-data contract end-to-end —
    an in-window late touch is RECOMPUTED into the open path at its
    true event-time position; a late conversion merge-sorts BEFORE
    carried open-path touches; a survivor lex-before the last emitted
    conversion drops '(dropped:closed)'; a row beyond the tolerance
    drops '(dropped:late)' (and dropped rows still advance the
    high-water mark via observed data); replay changes nothing."""
    from datetime import datetime

    from healthcare_api_spark.streaming.multitouch_wm import (
        multitouch_wm_batch,
        read_multitouch_wm,
    )

    schema = "user_id bigint, ts timestamp, event_type string"

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    b0 = spark.createDataFrame(
        [
            (1, t(8), "ad"), (1, t(9), "email"),        # open path
            (2, t(8), "click"), (2, t(9), "purchase"),  # closes, cus=9
            (3, t(12), "ad"),                           # open path
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (1, t(8, 30), "click"),      # in-window late -> recompute
            (1, t(10), "purchase"),      # credits ad+click+email
            (2, t(6), "view"),           # < hwm-1h -> (dropped:late)
            (2, t(8, 30), "ad"),         # lex-before conv@9 -> closed
            (2, t(9, 30), "email"),      # accepted, reopens path
            (3, t(11, 30), "purchase"),  # merges BEFORE seed ad@12 -> (none)
            (3, t(12, 30), "purchase"),  # credits ad@12
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (2, t(8, 45), "click"),      # >= 9:30-1h but lex-before
                                         # conv@9 -> (dropped:closed)
            (2, t(10), "purchase"),      # credits email@9:30
        ],
        schema,
    )
    root = str(tmp_path / "mtwm")
    h_us = 3_600_000_000
    args = (
        root, "user_id", "ts", "event_type", "purchase", h_us, h_us
    )
    multitouch_wm_batch(b0, 0, *args)
    multitouch_wm_batch(b1, 1, *args)
    multitouch_wm_batch(b2, 2, *args)

    def live():
        return {
            r["touch_type"]: tuple(r)[1:]
            for r in read_multitouch_wm(spark, root).collect()
        }

    got = live()
    # u1 path (ad k=2, click k=1.5h->1, email k=1): decay 1/5, 2/5,
    # 2/5; linear 333333 each. u3: one '(none)' + full-credit ad.
    assert got == {
        "ad": (2, 2, 1_333_333, 1_200_000),
        "click": (2, 2, 1_333_333, 1_400_000),
        "email": (2, 2, 1_333_333, 1_400_000),
        "(none)": (0, 1, 1_000_000, 1_000_000),
        "(dropped:late)": (1, 0, 0, 0),
        "(dropped:closed)": (2, 0, 0, 0),
    }
    # replay is idempotent
    multitouch_wm_batch(b2, 2, *args)
    multitouch_wm_batch(b1, 1, *args)
    assert live() == got


def test_streaming_flows_wm_retraction_and_lateness(spark, tmp_path):
    """st16 machinery (r12): a late event landing INSIDE an already-
    counted session RETRACTS the old transition via a negative delta
    (A->C cancels to zero and disappears) and adds the recomputed ones;
    rows beyond the horizon drop with audit; the anchor keeps the
    frozen-boundary transition correct after the suffix shrinks;
    replay changes nothing; the matrix equals the batch operator over
    the survivors."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import session_flows
    from healthcare_api_spark.streaming.flows_wm import (
        flows_wm_batch,
        read_session_flows_wm,
    )

    schema = "user_id bigint, ts timestamp, event_type string"

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    b0 = spark.createDataFrame(
        [
            (1, t(8), "A"), (1, t(8, 10), "C"),   # A->C (to be retracted)
            (2, t(8), "A"), (2, t(10), "B"),      # two sessions, no edge
            (3, t(8), "A"), (3, t(8, 10), "B"),   # A->B (freezes later)
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (1, t(8, 5), "B"),    # late INSIDE the session -> recompute
            (1, t(8, 20), "D"),   # C->D
            (2, t(8, 30), "X"),   # < 10:00-1h -> dropped
            (2, t(10, 10), "C"),  # B->C
            (3, t(12), "C"),      # hwm 12:00 -> horizon 11:00 shrinks
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            (3, t(8, 15), "D"),   # < 11:00 -> dropped
            (3, t(11, 30), "E"),  # accepted; E->C (exactly 30min gap)
        ],
        schema,
    )
    root = str(tmp_path / "fwm")
    args = (root, "user_id", "ts", "event_type", 30, 3_600_000_000)
    flows_wm_batch(b0, 0, *args)
    flows_wm_batch(b1, 1, *args)
    flows_wm_batch(b2, 2, *args)

    def live():
        return {
            (r["src"], r["dst"]): (r["n_transitions"], r["prob"])
            for r in read_session_flows_wm(spark, root).collect()
        }

    got = live()
    assert got == {
        ("A", "B"): (2, 1.0),
        ("B", "C"): (2, 1.0),
        ("C", "D"): (1, 1.0),
        ("E", "C"): (1, 1.0),
        ("(dropped)", "late"): (2, None),
    }
    # the retracted A->C cancelled to zero and is filtered out
    assert ("A", "C") not in got
    # equals the batch operator over the survivors
    survivors = (
        b0.unionByName(b1).unionByName(b2)
        .filter(~(
            ((F.col("user_id") == 2) & (F.col("event_type") == "X"))
            | ((F.col("user_id") == 3) & (F.col("event_type") == "D"))
        ))
    )
    want = {
        (r["src"], r["dst"]): (r["n_transitions"], r["prob"])
        for r in session_flows(
            survivors, "user_id", "ts", "event_type", 30
        ).collect()
    }
    assert {k: v for k, v in got.items() if k[0] != "(dropped)"} == want
    # replay is idempotent
    flows_wm_batch(b2, 2, *args)
    flows_wm_batch(b1, 1, *args)
    assert live() == got


def test_streaming_markov_cross_batch_and_replay(spark, tmp_path):
    """st17 machinery (r12): adjacency reconstructs across the batch
    boundary via the carried last event (including the conversion-
    closes-path '(start)' rule), the trailing '(null)' edge comes from
    the last-event state at READ time (and MOVES as the stream
    extends), and the result equals the batch operator; replay changes
    nothing."""
    from datetime import datetime

    from healthcare_api_spark.operators.analytics import markov_attribution
    from healthcare_api_spark.streaming.markov import (
        markov_batch,
        read_markov_attribution,
    )

    schema = "user_id bigint, ts timestamp, event_type string"

    def t(h):
        return datetime(2024, 1, 1, h)

    b0 = spark.createDataFrame(
        [
            (1, t(8), "ad"),                      # boundary: ad -> (next batch)
            (2, t(8), "email"), (2, t(9), "purchase"),  # closes in-batch
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (1, t(9), "purchase"),   # boundary edge ad->(conv)
            (2, t(10), "ad"),        # after conversion -> (start)->ad
            (3, t(10), "ad"),        # new key -> (start)->ad
        ],
        schema,
    )
    root = str(tmp_path / "mk")
    args = (root, "user_id", "ts", "event_type", "purchase")
    markov_batch(b0, 0, *args)

    def live():
        return {
            r["touch_type"]: tuple(r)[1:]
            for r in read_markov_attribution(
                spark, root, "purchase", iters=8
            ).collect()
        }

    # after batch 0 alone: u1's ad is a trailing touch (from state),
    # u2 is email->conv; matrix: (start)->ad 1, (start)->email 1,
    # ad->(null) 1, email->(conv) 1: p(start)=half_up((0+1e6)/2)=500000
    # removing ad leaves email's 1e6/2; removing email leaves 0
    got0 = live()
    assert got0["email"] == (500_000, 0, 1_000_000, 1_000_000)
    assert got0["ad"] == (500_000, 500_000, 0, 0)

    markov_batch(b1, 1, *args)
    got = live()
    want = {
        r["touch_type"]: tuple(r)[1:]
        for r in markov_attribution(
            b0.unionByName(b1), "user_id", "ts", "event_type",
            "purchase", iters=8,
        ).collect()
    }
    assert got == want
    # the batch-0 trailing ad->(null) edge MOVED: u1's ad now closes
    # into (conv); u2/u3's trailing ads are the current null edges
    # replay both batches out of order: nothing changes
    markov_batch(b1, 1, *args)
    markov_batch(b0, 0, *args)
    assert live() == got


def test_streaming_touch_wm_late_conversion_between_touches(spark, tmp_path):
    """st18 machinery (r12): the case that breaks extremes-only state —
    an accepted LATE conversion sorting BETWEEN two retained touches
    must credit the touch before it, not the newest; frozen-prefix
    extremes + horizon suffix reproduce the batch frame exactly. Both
    drop reasons audit; replay changes nothing."""
    from datetime import datetime

    from healthcare_api_spark.streaming.attribution_wm import (
        read_touch_attribution_wm,
        touch_wm_batch,
    )

    schema = "user_id bigint, ts timestamp, event_type string, value double"

    def t(h, m=0):
        return datetime(2024, 1, 1, h, m)

    b0 = spark.createDataFrame(
        [
            # u1: ad@8 freezes (horizon 10:00 after hwm 11:00),
            # chat@11 stays in the suffix
            (1, t(8), "ad", 0.0), (1, t(11), "chat", 0.0),
            (2, t(8), "banner", 0.0), (2, t(9), "purchase", 0.5),
        ],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            # late conversion lands BETWEEN ad@8 and chat@11: its last
            # touch is ad, NOT chat
            (1, t(10, 30), "purchase", 1.0),
            (1, t(12), "purchase", 2.0),     # frame {ad, chat}
            (2, t(8, 30), "ad", 0.0),        # lex-before conv@9 -> closed
            (2, t(5), "chat", 0.0),          # < 9:00-1h -> late
        ],
        schema,
    )
    root = str(tmp_path / "twm")
    args = (
        root, "user_id", "ts", "event_type", "purchase", 3_600_000_000,
        "value",
    )
    touch_wm_batch(b0, 0, *args)
    touch_wm_batch(b1, 1, *args)

    def live():
        return {
            r["touch_type"]: tuple(r)[1:]
            for r in read_touch_attribution_wm(spark, root).collect()
        }

    got = live()
    assert got == {
        "ad": (2, 1, 100),
        "chat": (0, 1, 200),
        "banner": (1, 1, 50),
        "(dropped:late)": (1, 0, 0),
        "(dropped:closed)": (1, 0, 0),
    }
    # replay is idempotent
    touch_wm_batch(b1, 1, *args)
    touch_wm_batch(b0, 0, *args)
    assert live() == got


# ---------------------------------------------------------------------
# r13: the append + compact commit protocol — commit I/O ∝ |delta|,
# read-time fold, periodic compaction, and the crash/replay/retention
# contract across deltas and compactions.
# ---------------------------------------------------------------------


def _append_store(tmp_path, compact_every=8, keep_versions=2):
    return _counts_store(
        str(tmp_path / "astate"),
        keep_versions=keep_versions,
        compact_every=compact_every,
    )


def test_append_commits_write_deltas_and_read_folds(spark, tmp_path):
    """Each merge_batch writes only its own delta directory (d{batch},
    _SUCCESS-gated) — no full-bucket rewrite — and read() folds base +
    deltas through merge_fn in commit order."""
    store = _append_store(tmp_path)
    path = store.path
    store.merge_batch(_mk(spark, [(f"key{i}", 1) for i in range(64)]), 0)
    store.merge_batch(_mk(spark, [("key0", 5)]), 1)
    store.merge_batch(_mk(spark, [("key0", 2), ("key63", 7)]), 2)
    names = sorted(os.listdir(path))
    assert [n for n in names if n.startswith("d")] == ["d0", "d1", "d2"]
    assert not [n for n in names if n.startswith("v")]
    # the narrow batch's delta holds ONE bucket — commit ∝ delta
    assert len(_delta_buckets(spark, path, "d1")) == 1
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 8 and got["key63"] == 8 and len(got) == 64
    # before_batch folds strictly-pre-batch deltas only (replay view)
    pre = {
        r["k"]: r["cnt"]
        for r in store.read(spark, before_batch=2).collect()
    }
    assert pre["key0"] == 6 and pre["key63"] == 1


def test_append_replay_short_circuits_on_complete_delta(spark, tmp_path):
    store = _append_store(tmp_path)
    path = store.path
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    store.merge_batch(_mk(spark, [("a", 10)]), 1)
    after = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert after == {"a": 11, "b": 2}
    mtimes = {v: os.path.getmtime(f"{path}/d{v}") for v in (0, 1)}
    store.merge_batch(_mk(spark, [("a", 10)]), 1)  # replay: no-op
    assert {r["k"]: r["cnt"] for r in store.read(spark).collect()} == after
    assert all(
        os.path.getmtime(f"{path}/d{v}") == mtimes[v] for v in (0, 1)
    )


def test_append_crashed_delta_ignored_and_recovered(spark, tmp_path):
    """A crash mid-delta-write leaves d{batch} without _SUCCESS: reads
    ignore it, prior state is intact, and the replay overwrites it."""
    store = _append_store(tmp_path)
    path = store.path
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    _mk(spark, [("a", 999)]).withColumn("_pt", store.bucket_expr()) \
        .write.partitionBy("_pt").parquet(f"{path}/d1")
    os.remove(f"{path}/d1/_SUCCESS")
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 1, "b": 2}
    store.merge_batch(_mk(spark, [("a", 999)]), 1)
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 1000, "b": 2}


def test_append_compaction_covers_pending_buckets(spark, tmp_path):
    """Once compact_every deltas are pending, the next commit writes a
    full v{batch} snapshot covering the touched buckets AND every
    pending-delta bucket — so older deltas are fully shadowed and the
    fold restarts from the snapshot."""
    store = _append_store(tmp_path, compact_every=2)
    path = store.path
    # two deltas in different buckets, then a third commit that touches
    # only one key — the snapshot must still cover BOTH earlier buckets
    store.merge_batch(_mk(spark, [(f"key{i}", 1) for i in range(8)]), 0)
    store.merge_batch(_mk(spark, [("key0", 5)]), 1)
    store.merge_batch(_mk(spark, [("key1", 3)]), 2)  # compacts
    names = sorted(os.listdir(path))
    assert "v2" in names and "d2" not in names
    all_buckets = {
        int(r[0])
        for r in _mk(spark, [(f"key{i}", 0) for i in range(8)])
        .select(store.bucket_expr())
        .distinct()
        .collect()
    }
    v2 = {
        int(d[4:])
        for d in os.listdir(f"{path}/v2")
        if d.startswith("_pt=")
    }
    assert all_buckets <= v2
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 6 and got["key1"] == 4 and len(got) == 8
    # post-compaction deltas fold on top of the snapshot
    store.merge_batch(_mk(spark, [("key0", 1)]), 3)
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 7
    # replay-as-of reads reconstruct any pre-batch state across the mix
    pre = {
        r["k"]: r["cnt"]
        for r in store.read(spark, before_batch=2).collect()
    }
    assert pre["key0"] == 6 and pre["key1"] == 1
    # a compaction over the v2 base whose batch touches neither pending
    # delta's bucket must still fold those buckets' base rows
    store.merge_batch(_mk(spark, [("key1", 10)]), 4)
    pending = store.touched_buckets(_mk(spark, [("key0", 0), ("key1", 0)]))
    other = next(
        f"key{i}" for i in range(2, 8)
        if not store.touched_buckets(_mk(spark, [(f"key{i}", 0)])) & pending
    )
    store.merge_batch(_mk(spark, [(other, 100)]), 5)  # compacts
    assert "v5" in os.listdir(path)
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 7 and got["key1"] == 14 and got[other] == 101
    assert len(got) == 8


def test_append_retention_prunes_shadowed_deltas(spark, tmp_path):
    """A delta is pruned once keep_versions newer complete base
    snapshots exist (every base newer than a delta shadows all its
    buckets by the coverage invariant); bases keep the per-bucket
    rule."""
    store = _append_store(tmp_path, compact_every=1, keep_versions=2)
    path = store.path
    # compact_every=1: batch 0 appends (nothing pending yet), every
    # later batch compacts — bases pile up, the delta gets shadowed
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    for i in (1, 2, 3):
        store.merge_batch(_mk(spark, [("a", 1)]), i)
    names = sorted(os.listdir(path))
    assert "d0" not in names  # shadowed by v1..v3 (>= keep_versions)
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"a": 4, "b": 2}


def test_append_replace_merge_clears_keys_via_markers(spark, tmp_path):
    """The cep-pending device: a replace-style merge_fn whose delta
    carries explicit clear rows removes a key wholesale at fold time,
    across both delta folds and compaction."""

    store = BucketedVersionedState(
        str(tmp_path / "rstate"),
        key_cols=["k"],
        num_buckets=4,
        replace=True,
        clear_if_null="cnt",
        compact_every=2,
    )
    store.merge_batch(_mk(spark, [("a", 1), ("b", 2)]), 0)
    # clear "a" (cnt NULL marker), replace "b"
    store.merge_batch(
        spark.createDataFrame([("a", None), ("b", 9)], "k string, cnt bigint"),
        1,
    )
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"b": 9}
    store.merge_batch(_mk(spark, [("c", 3)]), 2)  # compacts
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got == {"b": 9, "c": 3}
    assert sorted(
        n for n in os.listdir(store.path) if n.startswith("v")
    ) == ["v2"]


# ---------------------------------------------------------------------
# One-pass reads: read() reduces the base and every pending delta in a
# single aggregate. It must equal the sequential per-delta fold, and
# its plan must not grow with the fold depth.
# ---------------------------------------------------------------------


def _replace_seq(prev, d):
    """Sequential reference for the replace kind: a delta key's rows
    replace the key's rows wholesale; NULL-cnt rows only clear."""
    live = d.filter(F.col("cnt").isNotNull())
    if prev is None:
        return live
    return prev.join(d.select("k"), "k", "left_anti").unionByName(live)


def _seq_fold(merge, frames):
    state = None
    for d in frames:
        state = merge(state, d)
    return state


def _rows(df):
    return [] if df is None else sorted(
        (r["k"], r["cnt"]) for r in df.collect()
    )


def _fold_frames(spark, kind):
    frames = []
    for i in range(10):
        rows = [(f"key{(3 * i + j) % 11}", i + j) for j in range(3)]
        if i == 0:
            rows = []  # an empty delta: a complete dir with no bucket
        elif kind == "replace":
            rows += [("m", i), ("m", 100 + i)]  # a key with two rows
            if i in (2, 4):
                rows.append(("a", 7 * i))  # added, then re-added
            if i == 3:
                rows.append(("a", None))  # cleared in between
            if i == 6:
                rows.append(("key1", None))
        frames.append(_mk(spark, rows))
    return frames


@pytest.mark.parametrize("kind", ["reduce", "replace"])
def test_one_pass_read_equals_sequential_fold(spark, tmp_path, kind):
    """Fold depths 1-8 without a base (the first delta empty), the
    compaction commit (depth 0 over the new snapshot) and depth 1 over
    it; replay views, bucket restriction and an incomplete delta — each
    equal to folding the deltas one by one in commit order."""
    path = str(tmp_path / kind)
    if kind == "reduce":
        store = BucketedVersionedState(
            path, ["k"], num_buckets=4, merge_fn=_merge_counts
        )
        merge = _merge_counts
    else:
        store = BucketedVersionedState(
            path, ["k"], num_buckets=4, replace=True, clear_if_null="cnt"
        )
        merge = _replace_seq
    frames = _fold_frames(spark, kind)
    for i, d in enumerate(frames):
        store.merge_batch(d, i)
        assert _rows(store.read(spark)) == _rows(
            _seq_fold(merge, frames[: i + 1])
        ), f"after batch {i}"
    names = os.listdir(path)
    assert "v8" in names and "d9" in names and "d8" not in names

    for b in (0, 1, 4, 8, 9):  # replay views across the compaction
        assert _rows(store.read(spark, before_batch=b)) == _rows(
            _seq_fold(merge, frames[:b])
        ), f"before batch {b}"
    for before in (None, 6):
        want = _seq_fold(merge, frames[: before or len(frames)])
        assert _rows(
            store.read(spark, before_batch=before, buckets={0, 2})
        ) == _rows(want.filter(store.bucket_expr().isin(0, 2)))

    # a crashed (no _SUCCESS) delta is invisible to the fold
    frames[1].withColumn("_pt", store.bucket_expr()).write.partitionBy(
        "_pt"
    ).parquet(f"{path}/d10")
    os.remove(f"{path}/d10/_SUCCESS")
    assert _rows(store.read(spark)) == _rows(_seq_fold(merge, frames))


_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange\b")


def _final_plan_exchanges(df) -> int:
    """Exchanges in the final adaptive plan (the text before its
    ``== Initial Plan ==`` section) once ``df`` has run."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan.split("== Initial Plan ==")[0]))


def test_read_plan_has_one_exchange_at_any_fold_depth(spark, tmp_path):
    path = str(tmp_path / "plan")
    # compact_every=1 commits a base snapshot at batch 1; the same path
    # reopened with compact_every=8 then piles up pending deltas on it
    seed = BucketedVersionedState(
        path, ["k"], num_buckets=4, merge_fn=_merge_counts, compact_every=1
    )
    for i in range(2):
        seed.merge_batch(_mk(spark, [(f"key{j}", 1) for j in range(8)]), i)
    store = BucketedVersionedState(
        path, ["k"], num_buckets=4, merge_fn=_merge_counts
    )
    for i in range(2, 10):
        store.merge_batch(_mk(spark, [(f"key{i % 8}", i)]), i)
        depth = sum(  # d0 predates the v1 base
            1 for n in os.listdir(path) if n.startswith("d") and n != "d0"
        )
        if depth in (1, 8):
            assert _final_plan_exchanges(store.read(spark)) == 1, depth
    assert depth == 8 and "v1" in os.listdir(path)


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize("kind", ["reduce", "replace"])
def test_read_plan_builds_without_a_job(spark, tmp_path, kind):
    """Building a read over a base and two pending deltas submits no
    Spark job: the census lists names, and the row schema comes from
    the manifest instead of a Parquet footer-inference job."""
    path = str(tmp_path / kind)
    kinds = {
        "reduce": {"merge_fn": _merge_counts},
        "replace": {"replace": True, "clear_if_null": "cnt"},
    }[kind]
    seed = BucketedVersionedState(
        path, ["k"], num_buckets=4, compact_every=1, **kinds
    )
    for i in range(2):  # batch 1 compacts into the v1 base
        seed.merge_batch(_mk(spark, [(f"key{j}", i) for j in range(8)]), i)
    store = BucketedVersionedState(path, ["k"], num_buckets=4, **kinds)
    for i in (2, 3):
        store.merge_batch(_mk(spark, [("key0", i), ("new", i)]), i)
    assert {"v1", "d2", "d3"} <= set(os.listdir(path))
    first = _next_job_id(spark)
    full, part = store.read(spark), store.read(spark, buckets={0, 1})
    assert _next_job_id(spark) == first
    got = {r["k"]: r["cnt"] for r in full.collect()}
    assert got["key0"] == (1 + 2 + 3 if kind == "reduce" else 3)
    assert got["new"] == (2 + 3 if kind == "reduce" else 3)
    assert _rows(part) == _rows(full.filter(store.bucket_expr().isin(0, 1)))


def test_delta_commit_is_sorted_files_without_exchange(spark, tmp_path):
    """A delta commit writes plain files sorted by a ``_pt`` column —
    no ``_pt=`` directory per bucket and no shuffle — and its job is
    described as the store's delta write."""
    path = str(tmp_path / "state")
    store = _counts_store(path, num_buckets=8)
    delta = _mk(spark, [(f"key{i}", i) for i in range(64)])
    store.merge_batch(delta, 0)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    write = (  # the commit's last SQL execution
        spark._jsparkSession.sharedState().statusStore().executionsList().last()
    )
    assert write.description() == f"state {path} d0 write"
    plan = write.physicalPlanDescription()
    assert "Exchange" not in plan and re.search(r"\bSort \(\d+\)", plan)

    assert not [n for n in os.listdir(f"{path}/d0") if n.startswith("_pt=")]
    files = [n for n in os.listdir(f"{path}/d0") if n.endswith(".parquet")]
    assert 1 <= len(files) <= delta.rdd.getNumPartitions()
    for name in files:  # each file's rows ascend by bucket
        pts = [r[0] for r in spark.read.parquet(f"{path}/d0/{name}")
               .select("_pt").collect()]
        assert pts == sorted(pts)
    assert len(_delta_buckets(spark, path, "d0")) > 1


def test_commit_rejects_rows_of_another_schema(spark, tmp_path):
    """Reads apply the manifest's row schema to every delta and
    snapshot, so a delta or a merged snapshot with other columns or
    types raises at commit instead of writing rows a read would drop
    or fail on."""
    store = _counts_store(str(tmp_path / "state"))
    store.merge_batch(_mk(spark, [("a", 1)]), 0)
    for other in (
        spark.createDataFrame([("a", 1)], "k string, cnt int"),
        _mk(spark, [("a", 1)]).withColumn("x", F.lit(1)),
    ):
        with pytest.raises(ValueError, match="differ from the recorded"):
            store.merge_batch(other, 1)
    assert {r["k"]: r["cnt"] for r in store.read(spark).collect()} == {"a": 1}

    def _to_double(prev, d):
        merged = _merge_counts(prev, d)
        return merged.withColumn("cnt", F.col("cnt").cast("double"))

    widening = BucketedVersionedState(
        str(tmp_path / "widening"), ["k"], num_buckets=4,
        merge_fn=_to_double, compact_every=1,
    )
    widening.merge_batch(_mk(spark, [("a", 1)]), 0)
    with pytest.raises(ValueError, match="v1 snapshot"):
        widening.merge_batch(_mk(spark, [("a", 1)]), 1)


def _walk_census(path):
    """The census by a plain directory walk: (bucket -> ascending
    complete snapshot ids holding it, complete snapshot ids, complete
    delta ids)."""
    bases, snapshots, deltas = {}, set(), set()
    for dirpath, dirnames, filenames in os.walk(path):
        parts = os.path.relpath(dirpath, path).split(os.sep)
        m = re.fullmatch(r"([dv])(\d+)", parts[0])
        if not m or not os.path.exists(f"{path}/{parts[0]}/_SUCCESS"):
            continue
        version = int(m.group(2))
        if len(parts) == 1:
            (snapshots if m.group(1) == "v" else deltas).add(version)
        elif len(parts) == 2 and m.group(1) == "v":
            b = re.fullmatch(r"_pt=(\d+)", parts[1])
            if b:
                bases.setdefault(int(b.group(1)), []).append(version)
    return {b: sorted(vs) for b, vs in bases.items()}, snapshots, deltas


def test_census_equals_directory_walk(spark, tmp_path):
    """The two-glob census agrees with a directory walk over complete
    and incomplete versions, an empty delta, a compaction, and stray
    entries that are no version."""
    path = str(tmp_path / "state")
    store = _counts_store(path, num_buckets=4, compact_every=3)
    store.merge_batch(_mk(spark, [(f"key{i}", 1) for i in range(8)]), 0)
    store.merge_batch(_mk(spark, []), 1)  # an empty delta
    store.merge_batch(_mk(spark, [("key0", 2)]), 2)
    store.merge_batch(_mk(spark, [("key1", 3)]), 3)  # compacts into v3
    store.merge_batch(_mk(spark, [("key2", 4)]), 4)
    assert {"d0", "d1", "d2", "v3", "d4"} <= set(os.listdir(path))
    # incomplete versions: a crashed compaction and a crashed delta
    _mk(spark, [("a", 9)]).withColumn("_pt", store.bucket_expr()).withColumn(
        "_tomb", F.lit(False)
    ).write.partitionBy("_pt").parquet(f"{path}/v5")
    os.remove(f"{path}/v5/_SUCCESS")
    _mk(spark, [("a", 9)]).write.parquet(f"{path}/d6")
    os.remove(f"{path}/d6/_SUCCESS")
    # stray entries: no version id, and a writer's scratch directory
    for stray in ("dfoo", "vbar/_pt=1", "_temporary/0/_pt=2", "d4/_temporary/0"):
        os.makedirs(f"{path}/{stray}")
    for marker in ("dfoo/_SUCCESS", "vbar/_SUCCESS", "_temporary/_SUCCESS"):
        open(f"{path}/{marker}", "w").close()

    bases, snapshots, deltas = store._census(spark)
    assert (bases, snapshots, deltas) == _walk_census(path)
    assert snapshots == {3} and deltas == {0, 1, 2, 4}
    assert set(bases) == set(_delta_buckets(spark, path, "d0"))
    got = {r["k"]: r["cnt"] for r in store.read(spark).collect()}
    assert got["key0"] == 3 and got["key1"] == 4 and got["key2"] == 5
    assert len(got) == 8


def test_session_flows_read_plan_exchanges(spark, tmp_path):
    from datetime import datetime

    from healthcare_api_spark.streaming.flows import (
        flows_batch,
        read_session_flows,
    )

    schema = "user_id long, ts timestamp, event_type string"
    root = str(tmp_path / "flows")
    for b in range(4):
        rows = [
            (u, datetime(2024, 1, 1, 10, 2 * b + i), f"s{(u + b + i) % 3}")
            for u in range(5)
            for i in range(2)
        ]
        flows_batch(spark.createDataFrame(rows, schema), b, root,
                    "user_id", "ts", "event_type")
    assert _final_plan_exchanges(read_session_flows(spark, root)) <= 2


def test_store_manifest_rejects_mismatched_reader(spark, tmp_path):
    """The first commit records kind, key columns, bucket count and the
    kmv k; a reader opening the store differently raises instead of
    folding with the wrong parameters."""
    import json

    from healthcare_api_spark.operators.sketches import kmv_build
    from healthcare_api_spark.streaming.sketches import _store, read_kmv_state

    root = str(tmp_path / "sk")
    df = spark.createDataFrame(
        [(g, u) for g in ("a", "b") for u in range(50)], "g string, u long"
    )
    _store(root, ["g"], 4, k=8).merge_batch(kmv_build(df, ["g"], "u", 8), 0)
    with open(f"{root}/kmv/_store.json") as f:
        manifest = json.load(f)
    assert manifest["kind"] == "reduce" and manifest["params"] == {"k": 8}
    assert manifest["key_cols"] == ["g"] and manifest["num_buckets"] == 4
    assert read_kmv_state(
        spark, root, ["g"], num_state_buckets=4, k=8
    ).count() == 2
    with pytest.raises(ValueError, match="k"):
        read_kmv_state(spark, root, ["g"], num_state_buckets=4, k=64)
    with pytest.raises(ValueError, match="num_buckets"):
        read_kmv_state(spark, root, ["g"], num_state_buckets=16, k=8)
    replace = BucketedVersionedState(
        f"{root}/kmv", ["g"], num_buckets=4, replace=True, params={"k": 8}
    )
    with pytest.raises(ValueError, match="kind"):
        replace.merge_batch(kmv_build(df, ["g"], "u", 8), 1)
    with pytest.raises(ValueError, match="one kind"):
        BucketedVersionedState(f"{root}/kmv", ["g"], num_buckets=4)
