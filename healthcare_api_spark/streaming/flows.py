"""Streaming session Markov flows (r8 — SURVEY.md §2.9 composed with
the w12/w13 session analytics, on the r8 bucketed versioned state).

The live form of the Sankey/transition-matrix primitive: as events
stream in, maintain (a) each key's LAST seen event — the only thing a
gap-based sessionizer needs to stitch a session across micro-batches —
and (b) the global (src, dst) transition counts. Both live in
``BucketedVersionedState`` stores, so per-batch IO is bounded by the
touched key/pair buckets, replays are idempotent, and a crash never
loses state.

Exactness contract (the st5/st6 discipline): with batches arriving in
per-key time order (the time-split source; out-of-order streams use
streaming/flows_wm.py (r12), which carries a horizon suffix and emits
± count deltas under a watermark rule), each batch computes its
transitions over ``carried-last ∪ batch`` with the IDENTICAL
gaps-and-islands + (epoch-micros, state) lag logic as the batch
operator — the carried row is strictly earliest per key, so it
contributes exactly the one boundary transition (or none, when the
gap breaks the session) and the final counts equal
``analytics.session_flows`` over the whole table. That is what the
st7 gate hash-checks against the w13 oracle VERBATIM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import (
    BucketedVersionedState,
    last_merge,
    sum_merge,
)


def _last_store(state_root: str, key_col: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/last",
        key_cols=[key_col],
        num_buckets=nb,
        merge_fn=last_merge("us", "st"),
    )


def _counts_store(state_root: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/counts",
        key_cols=["src", "dst"],
        num_buckets=nb,
        merge_fn=sum_merge(["src", "dst"], "n"),
    )


def flows_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    state_col: str,
    gap_minutes: int = 30,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of transition maintenance — module-level so
    replay semantics are directly testable (the admit_batch pattern)."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    last_store = _last_store(state_root, key_col, num_state_buckets)
    counts_store = _counts_store(state_root, num_state_buckets)
    gap_us = gap_minutes * 60 * 1_000_000

    # lazy checkpoint: the touched-bucket collect is the first action,
    # so one job materializes the blocks AND fetches the bucket ids
    ev = batch_df.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(state_col).alias("st"),
    ).localCheckpoint(eager=False)

    touched = last_store.touched_buckets(ev.select(F.col("k").alias(key_col)))
    carry = last_store.read(spark, before_batch=batch_id, buckets=touched)
    if carry is not None:
        # only keys present in this batch need their seed row
        carry = carry.select(
            F.col(key_col).alias("k"), "us", "st"
        ).join(ev.select("k").distinct(), "k", "semi")
        union = ev.unionByName(carry)
    else:
        union = ev

    # identical logic to analytics.sessionize + session_flows, inlined
    # over (carry ∪ batch): integer-microsecond gap flags, running-sum
    # session numbering, in-session lag ordered by (us, state)
    wk = Window.partitionBy("k").orderBy("us")
    brk = F.when(
        F.lag("us").over(wk).isNull()
        | ((F.col("us") - F.lag("us").over(wk)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = union.withColumn("_brk", brk).withColumn(
        "sid", F.sum("_brk").over(wk)
    )
    ws = Window.partitionBy("k", "sid").orderBy("us", "st")
    steps = sess.select(
        F.lag("st").over(ws).alias("src"), F.col("st").alias("dst")
    ).filter(F.col("src").isNotNull())
    delta_counts = steps.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )

    # new last-event per key: max by (us, st) over the batch (the
    # fold-at-read merge handles the carried rows — ``last_merge``)
    def _last_of(df):
        return (
            df.groupBy("k")
            .agg(F.max(F.struct("us", "st")).alias("m"))
            .select(
                F.col("k").alias(key_col),
                F.col("m.us").alias("us"),
                F.col("m.st").alias("st"),
            )
        )

    # the two stores are independent; ev is materialized by the
    # touched collect above, so run the (now delta-only, guide §6)
    # commits on two driver threads (guide §2.6: concurrent jobs
    # back-fill each other's task tails)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(counts_store.merge_batch, delta_counts, batch_id)
        fl = pool.submit(last_store.merge_batch, _last_of(ev), batch_id)
        fc.result()
        fl.result()


def streaming_session_flows(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    state_col: str,
    gap_minutes: int = 30,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch transition maintainer. Read the live
    matrix any time with ``read_session_flows``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        flows_batch(
            batch_df, batch_id, state_root, key_col, ts_col, state_col,
            gap_minutes, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_session_flows(
    spark: SparkSession, state_root: str, num_state_buckets: int = 16
) -> DataFrame:
    """Current transition matrix, normalized exactly like
    ``analytics.session_flows``: (src, dst, n_transitions, prob) with
    prob = n / Σ_dst n per source, 6 dp. Empty frame before the first
    commit."""
    from pyspark.sql import Window

    counts = _counts_store(state_root, num_state_buckets).read(spark)
    if counts is None:
        return spark.createDataFrame(
            [], "src string, dst string, n_transitions bigint, prob double"
        )
    tot = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        F.col("n").alias("n_transitions"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("prob"),
    )
