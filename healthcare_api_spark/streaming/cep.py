"""Streaming event-sequence (CEP) matching — the live form of
``analytics.sequence_spans`` (w14), on the bucketed versioned state:
as events stream in, every pending partial match advances through the
pattern stages as its continuations arrive, and completed matches
accumulate — Flink-CEP's core loop, expressed as per-batch as-of
joins over `carried pendings ∪ batch events`.

State (both in ``BucketedVersionedState``, bucketed by key so a
user's pendings colocate and per-batch IO is bounded to touched
buckets):

- **pending**: (key, stage, hist) — hist carries the matched stage
  timestamps so far (exact int64 micros), stage = len(hist).
- **done**: (key, hist) — completed matches, unique per
  (key, start) because continuations are deterministic.

Exactness contract (the st5/st6/st7 discipline): with batches
arriving in per-key time order, each stage's EARLIEST continuation is
found in the first batch containing it, and a pending created and
completable within one batch advances through every stage that batch
allows (the stage loop below) — so the final completed set EQUALS the
batch ``sequence_spans`` over the whole table, and the st12 gate
hash-checks the live run against the w14 oracle VERBATIM.

Pendings whose within-bound is already violated at completion time
are DROPPED (skip-till-next has no alternative continuation — the
batch operator drops the same match). Starts that never complete stay
pending; a production deployment bounds them with an event-time TTL
(the watermark knob, st4) — semantics-neutral for any TTL ≥ the
within bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState


def _merge_done(prev, d):
    if prev is None:
        return d
    return prev.unionByName(d).distinct()


def _pending_store(root: str, nb: int) -> BucketedVersionedState:
    # the delta holds one row per BATCH KEY: its surviving pendings, or
    # a single marker row (stage IS NULL) when every pending completed,
    # so the replace fold also clears a key whose pendings all
    # completed (delta keys alone cannot express an emptied key)
    return BucketedVersionedState(
        f"{root}/pending",
        key_cols=["k"],
        num_buckets=nb,
        replace=True,
        clear_if_null="stage",
    )


def _done_store(root: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{root}/done", key_cols=["k"], num_buckets=nb, merge_fn=_merge_done
    )


def cep_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: list[str],
    within_us: int | None = None,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of sequence maintenance — module-level so
    replay semantics are directly testable (the admit_batch pattern)."""
    n = len(pattern)
    spark = batch_df.sparkSession
    pend_store = _pending_store(state_root, num_state_buckets)
    done_store = _done_store(state_root, num_state_buckets)

    ev = batch_df.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(type_col).alias("tp"),
    ).localCheckpoint(eager=False)
    batch_keys = ev.select("k").distinct().localCheckpoint(eager=False)

    touched = pend_store.touched_buckets(batch_keys)
    carry = pend_store.read(spark, before_batch=batch_id, buckets=touched)
    if carry is not None:
        carry = carry.join(batch_keys, "k", "semi")
    starts = (
        ev.filter(F.col("tp") == pattern[0])
        .select(
            "k",
            F.lit(1).alias("stage"),
            F.array(F.col("us")).alias("hist"),
        )
        .distinct()
    )
    pend = starts if carry is None else carry.unionByName(starts)
    pend = pend.localCheckpoint(eager=False)

    # advance every pending as far as THIS batch allows: stage s looks
    # for the earliest batch event of pattern[s] at us ≥ the last
    # matched timestamp (inclusive — the as-of convention the batch
    # operator uses); a pending advanced at stage s re-enters the loop
    # at stage s+1
    for s in range(1, n):
        at_stage = pend.filter(F.col("stage") == s)
        rest = pend.filter(F.col("stage") != s)
        stage_ev = (
            ev.filter(F.col("tp") == pattern[s])
            .select("k", F.col("us").alias("_eus"))
        )
        # NO pre-aggregation filter: a pending whose batch continuations
        # are all EARLIER than its last matched timestamp must survive
        # as a group (a filter would delete its joined rows wholesale
        # and the groupBy would lose the pending); the WHEN inside the
        # min() guards the ≥ condition on its own
        best = (
            at_stage.select("k", "stage", "hist")
            .join(stage_ev, "k", "left")
            .groupBy("k", "stage", "hist")
            .agg(
                F.min(
                    F.when(
                        F.col("_eus") >= F.element_at("hist", -1),
                        F.col("_eus"),
                    )
                ).alias("_nxt")
            )
        )
        advanced = best.select(
            "k",
            F.when(F.col("_nxt").isNotNull(), F.col("stage") + 1)
            .otherwise(F.col("stage"))
            .alias("stage"),
            F.when(
                F.col("_nxt").isNotNull(),
                F.concat("hist", F.array(F.col("_nxt"))),
            )
            .otherwise(F.col("hist"))
            .alias("hist"),
        )
        pend = advanced.unionByName(rest).localCheckpoint(eager=False)

    completed = pend.filter(F.col("stage") == n).select("k", "hist")
    if within_us is not None:
        completed = completed.filter(
            F.element_at("hist", n) - F.element_at("hist", 1)
            <= F.lit(within_us)
        )
    still = pend.filter(F.col("stage") < n)
    # the pending delta carries one row per BATCH KEY — survivors, or a
    # stage-NULL clear marker when every pending completed (ADVICE r9:
    # deriving the replaced keys from ``still`` alone would leave a
    # fully-completed key's stale pendings current; the marker makes
    # the delta self-describing so the append-protocol fold works)
    pend_delta = batch_keys.join(still, "k", "left")

    # The two stores are independent: the final pend chain is fully
    # materialized by the first thread to compute it (localCheckpoint
    # blocks), and both (now delta-only, guide §6) commits run on two
    # driver threads (guide §2.6). pend is materialized HERE (one
    # action) so neither thread races the other into double-computing
    # the advance chain.
    pend.write.format("noop").mode("overwrite").save()
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fd = pool.submit(done_store.merge_batch, completed, batch_id)
        fp = pool.submit(
            pend_store.merge_batch, pend_delta, batch_id, touched=touched
        )
        fd.result()
        fp.result()


def streaming_sequence_match(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: list[str],
    within_us: int | None = None,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch CEP maintainer. Read completed matches
    any time with ``read_sequence_matches``."""
    if len(pattern) < 2:
        raise ValueError("pattern needs at least 2 stages")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        cep_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            pattern, within_us, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_sequence_matches(
    spark: SparkSession,
    state_root: str,
    key_col: str,
    n_stages: int,
    num_state_buckets: int = 16,
) -> DataFrame:
    """Completed matches as (key, ts_1 … ts_n, span_us) — the exact
    output shape of ``analytics.sequence_spans``. Empty before the
    first commit."""
    done = _done_store(state_root, num_state_buckets).read(spark)
    if done is None:
        cols = ", ".join(f"ts_{i} timestamp" for i in range(1, n_stages + 1))
        return spark.createDataFrame(
            [], f"{key_col} long, {cols}, span_us bigint"
        )
    return done.select(
        F.col("k").alias(key_col),
        *[
            F.timestamp_micros(F.element_at("hist", i)).alias(f"ts_{i}")
            for i in range(1, n_stages + 1)
        ],
        (
            F.element_at("hist", n_stages) - F.element_at("hist", 1)
        ).cast("bigint").alias("span_us"),
    )
