"""Streaming EWMA maintenance (r8 — SURVEY.md §2.9 composed with the
x11 recursive smoother, on the r8 bucketed versioned state).

The recursion s_i = α·x_i + (1−α)·s_{i−1} is SEQUENTIAL — unlike the
KMV/Bloom/CMS/HLL maintainers there is no mergeable sketch algebra —
so the streaming form carries per-series state: the last processed
(us, s) pair. Input contract (the st7 discipline): batches arrive in
per-series time order (a time-split source; out-of-order streams get
the watermark treatment first). Each micro-batch

1. optionally pre-aggregates its rows (``prepare`` — e.g. raw events →
   hourly buckets; split the source on bucket boundaries so no bucket
   straddles batches),
2. seeds every series' fold with the carried s and replays the SAME
   IEEE recursion as ``temporal.ewma`` over the batch rows,
3. OVERWRITES ``results/batch={batch_id}`` with the folded rows
   (replay-idempotent, the st5 verdicts pattern), and
4. advances the carried state (max-by-us — idempotent under replay
   because the state store reads strictly-pre-batch versions).

Because a seeded fold of batch 2 continues exactly where batch 1's
fold stopped, the union of all batch outputs EQUALS the batch operator
over the whole table — the st11 gate hash-checks a real 2-micro-batch
run against the x11 oracle VERBATIM (the st5-st10 contract extended to
a sequential-recursion operator family).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState, last_merge


def _state_store(state_root: str, key_col: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/last",
        key_cols=[key_col],
        num_buckets=nb,
        merge_fn=last_merge("us", "s"),
    )


def ewma_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of the seeded fold — module-level so replay
    semantics are directly testable (the admit_batch pattern)."""
    import pyspark.sql.types as T

    spark = batch_df.sparkSession
    store = _state_store(state_root, key_col, num_state_buckets)
    a, b = float(alpha), 1.0 - float(alpha)

    ev = batch_df.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(value_col).cast("double").alias("x"),
    ).localCheckpoint(eager=False)

    touched = store.touched_buckets(ev.select(F.col("k").alias(key_col)))
    carry = store.read(spark, before_batch=batch_id, buckets=touched)
    seeds = (
        ev.select("k").distinct().join(
            carry.select(F.col(key_col).alias("k"), "us", "s"), "k", "inner"
        )
        if carry is not None
        else None
    )
    union = ev.select("k", "us", "x", F.lit(None).cast("double").alias("_s"))
    if seeds is not None:
        union = union.unionByName(
            seeds.select(
                "k", "us", F.lit(None).cast("double").alias("x"),
                F.col("s").alias("_s"),
            )
        )

    schema = T.StructType(
        [
            T.StructField("k", ev.schema["k"].dataType),
            T.StructField("us", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )

    def _fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["us"], kind="mergesort")
        out_us, out_x, out_s = [], [], []
        s_prev = None
        for us, x, s_seed in zip(pdf["us"], pdf["x"], pdf["_s"]):
            if pd.notna(s_seed):
                s_prev = float(s_seed)  # the carried state row; no output
                continue
            s = float(x) if s_prev is None else a * float(x) + b * s_prev
            out_us.append(us)
            out_x.append(float(x))
            out_s.append(s)
            s_prev = s
        k = pdf["k"].iloc[0]
        return pd.DataFrame(
            {"k": [k] * len(out_us), "us": out_us, "x": out_x, "ewma": out_s}
        )

    folded = (
        union.groupBy("k").applyInPandas(_fold, schema).localCheckpoint(eager=False)
    )
    folded.write.mode("overwrite").parquet(
        f"{state_root}/results/batch={batch_id}"
    )

    new_last = (
        folded.groupBy("k")
        .agg(F.max(F.struct("us", F.col("ewma").alias("s"))).alias("m"))
        .select(F.col("k").alias(key_col), F.col("m.us").alias("us"), F.col("m.s").alias("s"))
    )

    store.merge_batch(new_last, batch_id)


def streaming_ewma(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    prepare: Callable[[DataFrame], DataFrame] | None = None,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch EWMA maintainer; read the smoothed rows
    any time with :func:`read_ewma`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if prepare is not None:
            batch_df = prepare(batch_df)
        ewma_batch(
            batch_df, batch_id, state_root, key_col, ts_col, value_col,
            alpha, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_ewma(spark: SparkSession, state_root: str) -> DataFrame:
    """All smoothed rows emitted so far: (k, us, x, ewma)."""
    return spark.read.parquet(f"{state_root}/results").drop("batch")
