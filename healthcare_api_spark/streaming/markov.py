"""Streaming Markov (removal-effect) attribution (r12 — the w21
chain maintained LIVE, the 15th streaming-equals-batch family).

The w21 transition matrix is a pure adjacency count over each key's
(ts, type)-ordered stream with boundary states — and adjacency is
exactly what one carried LAST-EVENT row per key reconstructs across
micro-batches (the st7/st13 device). Per batch, each row's edge is
realized at arrival:

    src = '(start)'  when the predecessor (carried or in-batch) is
                     absent OR is a conversion (a conversion closes a
                     path, so the next row starts one);
    dst = '(conv)'   for conversion rows, else the row's own type;

and the (src, dst) counts merge into a ``BucketedVersionedState`` by
plain sums — no retraction needed because realized edges never change
under the in-order input contract (the st7/st11 discipline; an
out-of-order feed gets the flows_wm treatment — see
streaming/flows_wm.py for the ± delta device this family would need).

The ONE edge that is not realized at arrival is the trailing
``type → '(null)'`` of a key whose stream ends on a touch — "ends" is
only known at read time, so the read side derives those edges from the
carried last-event state itself (one tiny aggregate over keys) and
hands the completed matrix to
``analytics.markov_credit_from_transitions`` — the batch operator's
own value iteration, shared VERBATIM. A real 2-micro-batch run
therefore hash-matches the w21 oracle exactly (gate st17).

Implementation note: the per-batch edge builder is PURE DataFrame —
one window lag over (key | ts, type) with the carried row unioned in
as a flagged seed — no applyInPandas anywhere in this family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import (
    BucketedVersionedState,
    last_merge,
    sum_merge,
)


def _last_store(state_root: str, nb: int) -> BucketedVersionedState:
    # keyed by the batch frame's own ``k`` column, so readers need not
    # know the writer's key column name
    return BucketedVersionedState(
        f"{state_root}/last",
        key_cols=["k"],
        num_buckets=nb,
        merge_fn=last_merge("us", "tp"),
    )


def _counts_store(state_root: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/counts",
        key_cols=["src", "dst"],
        num_buckets=nb,
        merge_fn=sum_merge(["src", "dst"], "n"),
    )


def markov_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of transition maintenance — module-level so
    replay semantics are directly testable (the admit_batch pattern)."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    last_store = _last_store(state_root, num_state_buckets)
    counts_store = _counts_store(state_root, num_state_buckets)

    ev = batch_df.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(type_col).alias("tp"),
        F.lit(False).alias("_seed"),
    ).localCheckpoint(eager=False)

    touched = last_store.touched_buckets(ev.select("k"))
    carry = last_store.read(spark, before_batch=batch_id, buckets=touched)
    if carry is not None:
        seeds = (
            carry.select("k", "us", "tp")
            .join(ev.select("k").distinct(), "k", "semi")
            .withColumn("_seed", F.lit(True))
        )
        union = ev.unionByName(seeds)
    else:
        union = ev

    conv = F.lit(convert_type)
    w = Window.partitionBy("k").orderBy(F.col("us").asc(), F.col("tp").asc())
    edges = (
        union.select(
            "_seed", "tp",
            F.lag("tp").over(w).alias("_ptp"),
        )
        # seed rows only PROVIDE the predecessor — their own edges were
        # realized in their arrival batch
        .filter(~F.col("_seed"))
        .select(
            F.when(
                F.col("_ptp").isNull() | (F.col("_ptp") == conv),
                F.lit("(start)"),
            ).otherwise(F.col("_ptp")).alias("src"),
            F.when(F.col("tp") == conv, F.lit("(conv)"))
            .otherwise(F.col("tp")).alias("dst"),
        )
    )
    delta = edges.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )

    # new last-event per key: max (us, tp) over the batch (the
    # fold-at-read merge handles the carried rows)
    def _last_of(df):
        return (
            df.groupBy("k")
            .agg(F.max(F.struct("us", "tp")).alias("m"))
            .select(
                "k",
                F.col("m.us").alias("us"),
                F.col("m.tp").alias("tp"),
            )
        )

    # the two stores are independent; ev is materialized by the
    # touched collect above, so run the (now delta-only, guide §6)
    # commits on two driver threads (guide §2.6: concurrent jobs
    # back-fill each other's task tails)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(counts_store.merge_batch, delta, batch_id)
        fl = pool.submit(
            last_store.merge_batch, _last_of(ev.drop("_seed")), batch_id,
        )
        fc.result()
        fl.result()


def streaming_markov_attribution(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch transition maintainer; read the credit
    table any time with :func:`read_markov_attribution`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        markov_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            convert_type, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_markov_attribution(
    spark: SparkSession,
    state_root: str,
    convert_type: str,
    iters: int = 8,
    scale: int = 1_000_000,
    num_state_buckets: int = 16,
) -> DataFrame:
    """Complete the matrix with the trailing '(null)' edges derived
    from the last-event state (a key whose stream currently ends on a
    touch contributes one), then run the batch operator's own value
    iteration — w21's output schema, byte-compatible."""
    from healthcare_api_spark.operators.analytics import (
        markov_credit_from_transitions,
    )

    counts = _counts_store(state_root, num_state_buckets).read(spark)
    if counts is None:
        return spark.createDataFrame(
            [],
            "touch_type string, p_full_ppm bigint, p_drop_ppm bigint,"
            " removal_effect_ppm bigint, credit_ppm bigint",
        )
    last = _last_store(state_root, num_state_buckets).read(spark)
    tr = counts
    if last is not None:
        nulls = (
            last.filter(F.col("tp") != F.lit(convert_type))
            .groupBy(F.col("tp").alias("src"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .select("src", F.lit("(null)").alias("dst"), "n")
        )
        tr = counts.unionByName(nulls)
    return markov_credit_from_transitions(tr, iters=iters, scale=scale)
