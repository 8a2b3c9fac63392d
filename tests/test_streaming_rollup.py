"""Streaming semantics: watermark late-data drop (append mode) and
foreachBatch continuous-aggregate maintenance."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from healthcare_api_spark.operators.rollup import hierarchical_rollup
from healthcare_api_spark.streaming.rollup import (
    apply_rollup_batch,
    read_tier,
    streaming_rollup_refresh,
)
from healthcare_api_spark.streaming.upsert import tumbling_window_counts


def test_watermark_drops_late_data_append_mode(spark, tmp_path):
    """Append mode emits a window only once its end passes the watermark;
    events older than the watermark are DROPPED, not merged. Batch 1 sets
    the watermark past the 10:00 window; batch 2's 10:07 straggler must
    not bump its count."""
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"ts": "2024-01-01 10:05:00", "event_type": "click"}) + "\n"
        + json.dumps({"ts": "2024-01-01 11:30:00", "event_type": "click"}) + "\n"
    )
    stream = (
        spark.readStream.schema("ts string, event_type string").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    win = tumbling_window_counts(stream, "ts", "1 hour", ("event_type",), watermark="10 minutes")
    q = (
        win.writeStream.format("memory").queryName("late_out").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances to 11:20
        (src / "b2.json").write_text(
            json.dumps({"ts": "2024-01-01 10:07:00", "event_type": "click"}) + "\n"  # late
            + json.dumps({"ts": "2024-01-01 12:30:00", "event_type": "click"}) + "\n"
        )
        q.processAllAvailable()  # 10:00 window finalizes WITHOUT the straggler
        rows = {
            str(r["window_start"]): r["cnt"] for r in spark.table("late_out").collect()
        }
        assert rows["2024-01-01 10:00:00"] == 1
    finally:
        q.stop()


def test_stream_stream_join_attribution(spark, tmp_path):
    """Two live streams joined on user within a 30-minute bound; batch
    run of the same operator pins the expected matches."""
    from healthcare_api_spark.streaming.joins import stream_stream_join

    clicks_dir, buys_dir = tmp_path / "clicks", tmp_path / "buys"
    clicks_dir.mkdir(), buys_dir.mkdir()
    clicks = [
        {"user": 1, "cts": "2024-01-01 10:00:00", "click_id": 100},
        {"user": 2, "cts": "2024-01-01 10:00:00", "click_id": 200},
    ]
    buys = [
        {"user": 1, "bts": "2024-01-01 10:20:00", "buy_id": 900},  # within 30m
        {"user": 2, "bts": "2024-01-01 11:30:00", "buy_id": 901},  # too late
    ]
    (clicks_dir / "c.json").write_text("\n".join(json.dumps(r) for r in clicks) + "\n")
    (buys_dir / "b.json").write_text("\n".join(json.dumps(r) for r in buys) + "\n")

    def _src(d, schema, ts):
        return (
            spark.readStream.schema(schema).json(str(d)).withColumn(ts, F.to_timestamp(ts))
        )

    joined = stream_stream_join(
        _src(clicks_dir, "user long, cts string, click_id long", "cts"),
        _src(buys_dir, "user long, bts string, buy_id long", "bts"),
        "user", "cts", "bts", within="30 minutes",
    ).select("l.click_id", "r.buy_id")
    q = (
        joined.writeStream.format("memory").queryName("attrib").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r["click_id"], r["buy_id"]) for r in spark.table("attrib").collect()}
    finally:
        q.stop()
    assert got == {(100, 900)}

    # batch parity: the same operator over static frames
    bc = spark.createDataFrame(
        [(r["user"], r["cts"], r["click_id"]) for r in clicks],
        ["user", "cts", "click_id"],
    ).withColumn("cts", F.to_timestamp("cts"))
    bb = spark.createDataFrame(
        [(r["user"], r["bts"], r["buy_id"]) for r in buys], ["user", "bts", "buy_id"]
    ).withColumn("bts", F.to_timestamp("bts"))
    batch = stream_stream_join(bc, bb, "user", "cts", "bts", within="30 minutes")
    assert {(r["click_id"], r["buy_id"]) for r in batch.collect()} == got


def test_streaming_rollup_refresh_matches_batch(spark, tmp_path):
    """Two micro-batches of incremental tier maintenance == one batch
    rollup over the union (the continuous-aggregate invariant)."""
    src = tmp_path / "ev"
    src.mkdir()
    b1 = [
        {"ts": "2024-01-01 10:05:00", "v": 1.0},
        {"ts": "2024-01-01 10:40:00", "v": 3.0},
        {"ts": "2024-01-01 11:10:00", "v": 5.0},
    ]
    b2 = [
        {"ts": "2024-01-01 10:59:00", "v": 7.0},  # touches an existing bucket
        {"ts": "2024-01-01 12:01:00", "v": 2.0},  # opens a new bucket
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1) + "\n")
    stream = (
        spark.readStream.schema("ts string, v double").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    tier_path = str(tmp_path / "tier_hour")
    q = streaming_rollup_refresh(
        stream, tier_path, "ts", "v", "hour", checkpoint=str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    all_events = spark.createDataFrame(
        [(r["ts"], r["v"]) for r in b1 + b2], ["ts", "v"]
    ).withColumn("ts", F.to_timestamp("ts"))
    expect = {
        str(r["bucket"]): (r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
        for r in hierarchical_rollup(all_events, "ts", "v", ["hour"])["hour"].collect()
    }
    got = {
        str(r["bucket"]): (r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
        for r in read_tier(spark, tier_path).collect()
    }
    assert got == expect
    assert got["2024-01-01 10:00:00"] == (3, 11.0, 1.0, 7.0)  # cross-batch merge


def _tier_dict(spark, tier_path):
    return {
        str(r["bucket"]): (r["cnt"], r["sum_v"])
        for r in read_tier(spark, tier_path).collect()
    }


def test_rollup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an already-applied batch
    must NOT double-count, and a replay after a partial (no _SUCCESS)
    snapshot must converge to the same totals."""
    tier_path = str(tmp_path / "tier")
    b0 = spark.createDataFrame(
        [("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:40:00", 3.0)], ["ts", "v"]
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = spark.createDataFrame(
        [("2024-01-01 10:59:00", 7.0)], ["ts", "v"]
    ).withColumn("ts", F.to_timestamp("ts"))

    apply_rollup_batch(b0, 0, tier_path, "ts", "v", "hour")
    apply_rollup_batch(b1, 1, tier_path, "ts", "v", "hour")
    expect = {"2024-01-01 10:00:00": (3, 11.0)}
    assert _tier_dict(spark, tier_path) == expect

    # replay of a fully-applied batch: skipped, totals unchanged
    apply_rollup_batch(b1, 1, tier_path, "ts", "v", "hour")
    apply_rollup_batch(b0, 0, tier_path, "ts", "v", "hour")
    assert _tier_dict(spark, tier_path) == expect

    # partial snapshot (crash before _SUCCESS): replay recomputes from
    # the prior complete snapshot — converges, no double count
    import os

    os.remove(os.path.join(tier_path, "d1", "_SUCCESS"))
    assert _tier_dict(spark, tier_path) == {"2024-01-01 10:00:00": (2, 4.0)}
    apply_rollup_batch(b1, 1, tier_path, "ts", "v", "hour")
    assert _tier_dict(spark, tier_path) == expect


def test_rollup_tier_read_failure_not_swallowed(spark, tmp_path):
    """A corrupt committed version must raise, never silently reset the
    tier to one batch's totals (ADVICE r2: bare-except data-loss). An
    append commit reads no history, so the corruption surfaces on the
    read and on the compaction that would fold it."""
    import os

    import pytest

    tier_path = str(tmp_path / "tier")
    b0 = spark.createDataFrame(
        [("2024-01-01 10:05:00", 1.0)], ["ts", "v"]
    ).withColumn("ts", F.to_timestamp("ts"))
    apply_rollup_batch(b0, 0, tier_path, "ts", "v", "hour")
    # corrupt the committed delta's parquet files in place
    for dirpath, _dirs, files in os.walk(os.path.join(tier_path, "d0")):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(dirpath, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    for i in range(1, 8):  # appends: the 8th pending delta compacts
        apply_rollup_batch(b0, i, tier_path, "ts", "v", "hour")
    with pytest.raises(Exception):
        read_tier(spark, tier_path).collect()
    with pytest.raises(Exception):
        apply_rollup_batch(b0, 8, tier_path, "ts", "v", "hour")
    # no snapshot that excludes the corrupt version was committed
    assert not [
        n for n in os.listdir(tier_path)
        if n.startswith("v") and os.path.exists(
            os.path.join(tier_path, n, "_SUCCESS")
        )
    ]


def test_stream_static_enrich_broadcast_across_batches(spark, tmp_path):
    """Stream-static join: events in every micro-batch are enriched from
    the dim snapshot via a broadcast join (left rows with no dim match
    keep nulls)."""
    import json

    from healthcare_api_spark.streaming.joins import stream_static_enrich

    src = tmp_path / "ev"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, "bronze"), (2, "gold")], ["user", "tier"]
    ).write.mode("overwrite").parquet(dim_path)
    (src / "b1.json").write_text(json.dumps({"user": 1, "event_id": 10}) + "\n")
    stream = spark.readStream.schema("user long, event_id long").json(str(src))
    enriched = stream_static_enrich(stream, spark.read.parquet(dim_path), "user")
    # the static side must be broadcast — the stream is never shuffled
    assert "ResolvedHint" in enriched._jdf.queryExecution().analyzed().toString()
    q = (
        enriched.writeStream.format("memory").queryName("enrich_out")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            json.dumps({"user": 2, "event_id": 20}) + "\n"
            + json.dumps({"user": 9, "event_id": 30}) + "\n"  # no dim row
        )
        q.processAllAvailable()
        rows = {r["event_id"]: r["tier"] for r in spark.table("enrich_out").collect()}
    finally:
        q.stop()
    assert rows == {10: "bronze", 20: "gold", 30: None}


def test_hopping_window_counts_overlap(spark):
    from healthcare_api_spark.streaming.upsert import hopping_window_counts

    df = spark.createDataFrame(
        [("2024-01-01 10:05:00", "a"), ("2024-01-01 10:40:00", "a")],
        ["ts", "event_type"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (str(r["window_start"]), r["cnt"])
        for r in hopping_window_counts(df, "ts", "1 hour", "30 minutes").collect()
    }
    # 10:05 → windows starting 09:30 and 10:00; 10:40 → 10:00 and 10:30
    assert out == {
        ("2024-01-01 09:30:00", 1),
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 10:30:00", 1),
    }


def test_dedup_within_watermark_drops_retries(spark, tmp_path):
    """A retried event (same id) inside the watermark horizon is dropped;
    state is watermark-bounded, not forever."""
    import json

    from healthcare_api_spark.streaming.stateful import (
        streaming_dedup_within_watermark,
    )

    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps({"id": 1, "ts": "2024-01-01 10:00:00"}) + "\n"
        + json.dumps({"id": 1, "ts": "2024-01-01 10:00:05"}) + "\n"  # retry
        + json.dumps({"id": 2, "ts": "2024-01-01 10:01:00"}) + "\n"
    )
    stream = (
        spark.readStream.schema("id long, ts string").json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = streaming_dedup_within_watermark(stream, ["id"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_wm")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # a second batch retries id 1 again within the horizon
        (src / "b2.json").write_text(
            json.dumps({"id": 1, "ts": "2024-01-01 10:00:30"}) + "\n"
            + json.dumps({"id": 3, "ts": "2024-01-01 10:02:00"}) + "\n"
        )
        q.processAllAvailable()
        ids = sorted(r["id"] for r in spark.table("dedup_wm").collect())
    finally:
        q.stop()
    assert ids == [1, 2, 3]


def test_streaming_top_tokens_matches_batch(spark, tmp_path):
    """Two micro-batches of continuous heavy-hitter maintenance == the
    batch top_tokens over the union; replay cannot double-count."""
    import json

    from healthcare_api_spark.operators.textops import top_tokens
    from healthcare_api_spark.streaming.topk import (
        read_top_tokens,
        streaming_top_tokens,
    )

    src = tmp_path / "docs"
    src.mkdir()
    b1 = ["the cat and the dog", "the dog barks"]
    b2 = ["a cat naps", "the cat wins the day"]
    (src / "b1.json").write_text("\n".join(json.dumps({"text": t}) for t in b1) + "\n")
    stream = spark.readStream.schema("text string").json(str(src))
    state = str(tmp_path / "state")
    q = streaming_top_tokens(stream, "text", state, checkpoint=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        (src / "b2.json").write_text(
            "\n".join(json.dumps({"text": t}) for t in b2) + "\n"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = [(r["tok"], r["cnt"]) for r in read_top_tokens(spark, state, k=5).collect()]
    batch = spark.createDataFrame([(t,) for t in b1 + b2], ["text"])
    expect = [(r["tok"], r["cnt"]) for r in top_tokens(batch, "text", k=5).collect()]
    assert got == expect
    assert got[0] == ("the", 5)


def test_streaming_agg_maintenance_matches_batch(spark, tmp_path):
    """Two micro-batches through streaming_agg_maintenance == one batch
    agg_state over the union — the live-stream twin of a12."""
    from pyspark.sql import functions as F

    from healthcare_api_spark.operators.relational import agg_state
    from healthcare_api_spark.streaming.upsert import (
        read_agg_state,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [(k % 5, float(k)) for k in range(40)]
    rows2 = [(k % 5, float(k)) for k in range(40, 100)]
    schema = "k int, v double"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)

    specs = {"v": ["sum", "count", "max"]}
    stream = spark.readStream.schema(schema).parquet(src)
    q = streaming_agg_maintenance(stream, state, ["k"], specs, checkpoint=ckpt)
    q.processAllAvailable()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = sorted(map(tuple, read_agg_state(spark, state, ["k"], specs).collect()))
    want = sorted(
        map(
            tuple,
            agg_state(
                spark.createDataFrame(rows1 + rows2, schema), ["k"], specs
            ).collect(),
        )
    )
    assert got == want


def test_streaming_agg_maintenance_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: with the checkpoint's last commit
    entry gone, the restarted query replays batch 1 — the maintained
    state must still equal one agg_state over all rows, not count
    batch 1 twice."""
    import os

    from healthcare_api_spark.operators.relational import agg_state
    from healthcare_api_spark.streaming.upsert import (
        read_agg_state,
        streaming_agg_maintenance,
    )

    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    schema = "k int, v double"
    specs = {"v": ["sum", "count", "max"]}
    rows1 = [(k % 5, float(k)) for k in range(40)]
    rows2 = [(k % 5, float(k)) for k in range(40, 100)]

    def run(*appends):
        q = streaming_agg_maintenance(
            spark.readStream.schema(schema).parquet(src), state, ["k"],
            specs, checkpoint=ckpt,
        )
        try:
            for rows in appends:
                if rows:
                    spark.createDataFrame(rows, schema).write.mode(
                        "append"
                    ).parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    run(None, rows2)
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last == 1
    for name in (str(last), f".{last}.crc"):
        if (commits / name).exists():
            (commits / name).unlink()
    run(None)  # the restart replays batch 1

    got = sorted(map(tuple, read_agg_state(spark, state, ["k"], specs).collect()))
    want = sorted(
        map(
            tuple,
            agg_state(
                spark.createDataFrame(rows1 + rows2, schema), ["k"], specs
            ).collect(),
        )
    )
    assert got == want
