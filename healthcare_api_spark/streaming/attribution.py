"""Streaming touch attribution (r11 — SURVEY.md §2.9 composed with the
w15 attribution window, on the r8 bucketed versioned state).

First/last-touch credit needs only the EXTREMES of each user's touch
history — min and max (ts, type) struct over strictly-preceding
non-conversion events — and min/max are mergeable: the carried state is
two structs per user, and seeding a batch's window pass with those two
pseudo-rows reproduces exactly the unbounded-preceding frame the batch
operator sees. Input contract (the st7/st11 discipline): batches arrive
in per-user time order (a time-split source; out-of-order streams get
the watermark treatment first). Each micro-batch

1. reads the carried per-user (first, last) touch structs for the
   TOUCHED buckets only (strictly-pre-batch versions — replay-safe),
2. unions them in as seed rows (flagged, never emitted) and runs the
   SAME (ts, type)-ordered window pass as ``analytics
   .touch_attribution`` — min/max of the conditional touch struct over
   [unbounded preceding, current−1),
3. OVERWRITES ``results/batch={batch_id}`` with the batch's
   per-conversion credit rows (replay-idempotent, the st5 pattern), and
4. merges the new per-user extremes into the state store.

Because min(seed ∪ batch-preceding) == min(all-preceding) (and max
likewise), the union of all batch outputs EQUALS the batch operator
over the whole table — the st13 gate hash-checks a real 2-micro-batch
run against the w15 oracle VERBATIM, extending the streaming-equals-
batch contract (st5-st12) to the attribution family. Same (ts, type)
ROW-precedence tie rule, documented at the batch operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState


def _merge_extremes_fn(key_col: str):
    def _merge(prev, d):
        if prev is None:
            return d
        return (
            prev.unionByName(d)
            .groupBy(key_col)
            .agg(
                F.min(F.struct(
                    F.col("f_us").alias("us"), F.col("f_tp").alias("tp")
                )).alias("_f"),
                F.max(F.struct(
                    F.col("l_us").alias("us"), F.col("l_tp").alias("tp")
                )).alias("_l"),
            )
            .select(
                key_col,
                F.col("_f.us").alias("f_us"), F.col("_f.tp").alias("f_tp"),
                F.col("_l.us").alias("l_us"), F.col("_l.tp").alias("l_tp"),
            )
        )

    return _merge


def _state_store(
    state_root: str, key_col: str, nb: int
) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/touches",
        key_cols=[key_col],
        num_buckets=nb,
        merge_fn=_merge_extremes_fn(key_col),
    )


def touch_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    value_col: str | None = None,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of the seeded attribution pass — module-level so
    replay semantics are directly testable (the admit_batch pattern)."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    store = _state_store(state_root, key_col, num_state_buckets)

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cents = (
        F.round(F.col(value_col).cast("double") * 100).cast("bigint")
        if value_col is not None
        else F.lit(0).cast("bigint")
    )
    ev = batch_df.select(
        F.col(key_col).alias("k"),
        us.alias("us"),
        F.col(type_col).alias("tp"),
        cents.alias("cents"),
        F.lit(False).alias("_seed"),
    ).localCheckpoint(eager=False)

    touched = store.touched_buckets(ev.select(F.col("k").alias(key_col)))
    carry = store.read(spark, before_batch=batch_id, buckets=touched)
    union = ev
    if carry is not None:
        seeds = ev.select("k").distinct().join(
            carry.select(
                F.col(key_col).alias("k"),
                "f_us", "f_tp", "l_us", "l_tp",
            ),
            "k",
            "inner",
        )
        # two pseudo-touch rows per carried user (the min and max of
        # the pre-batch touch history); duplicates when first == last
        # are harmless — window min/max are duplicate-insensitive
        for pu, pt in (("f_us", "f_tp"), ("l_us", "l_tp")):
            union = union.unionByName(
                seeds.filter(F.col(pu).isNotNull()).select(
                    "k",
                    F.col(pu).alias("us"),
                    F.col(pt).alias("tp"),
                    F.lit(0).cast("bigint").alias("cents"),
                    F.lit(True).alias("_seed"),
                )
            )

    w = (
        Window.partitionBy("k")
        .orderBy(F.col("us").asc(), F.col("tp").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("tp") != F.lit(convert_type), F.struct("us", "tp")
    )
    passed = union.select(
        "k", "us", "tp", "cents", "_seed",
        F.min(touch).over(w).alias("_ft"),
        F.max(touch).over(w).alias("_lt"),
    ).localCheckpoint(eager=False)

    convs = passed.filter(
        (F.col("tp") == F.lit(convert_type)) & (~F.col("_seed"))
    ).select(
        "k", "us", "cents",
        F.col("_ft.us").alias("f_us"), F.col("_ft.tp").alias("f_tp"),
        F.col("_lt.us").alias("l_us"), F.col("_lt.tp").alias("l_tp"),
    )
    convs.write.mode("overwrite").parquet(
        f"{state_root}/results/batch={batch_id}"
    )

    # new extremes: min/max over seeds ∪ this batch's real touches
    new_state = (
        passed.filter(F.col("tp") != F.lit(convert_type))
        .groupBy("k")
        .agg(
            F.min(F.struct("us", "tp")).alias("_f"),
            F.max(F.struct("us", "tp")).alias("_l"),
        )
        .select(
            F.col("k").alias(key_col),
            F.col("_f.us").alias("f_us"), F.col("_f.tp").alias("f_tp"),
            F.col("_l.us").alias("l_us"), F.col("_l.tp").alias("l_tp"),
        )
    )

    store.merge_batch(new_state, batch_id)


def streaming_touch_attribution(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    value_col: str | None = None,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch attribution maintainer; read the credit
    table any time with :func:`read_touch_attribution`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        touch_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            convert_type, value_col, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_touch_attribution(spark: SparkSession, state_root: str) -> DataFrame:
    """Aggregate all emitted per-conversion rows to the w15 output
    schema: (touch_type, first_touch, last_touch,
    last_touch_value_cents) — byte-compatible with
    ``analytics.touch_attribution`` over the same events."""
    conv = spark.read.parquet(f"{state_root}/results").drop("batch")
    none = F.lit("(none)")
    first = conv.groupBy(
        F.coalesce(F.col("f_tp"), none).alias("touch_type")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("first_touch"))
    last = conv.groupBy(
        F.coalesce(F.col("l_tp"), none).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("last_touch"),
        F.sum("cents").cast("bigint").alias("last_touch_value_cents"),
    )
    return (
        first.join(last, "touch_type", "full_outer")
        .select(
            "touch_type",
            F.coalesce("first_touch", F.lit(0)).cast("bigint").alias(
                "first_touch"
            ),
            F.coalesce("last_touch", F.lit(0)).cast("bigint").alias(
                "last_touch"
            ),
            F.coalesce("last_touch_value_cents", F.lit(0))
            .cast("bigint").alias("last_touch_value_cents"),
        )
    )
