"""Streaming multi-touch attribution (r11 — the w17 path models run
LIVE, on the r8 bucketed versioned state).

Unlike first/last-touch (st13: two mergeable struct extremes), the
linear and time-decay models need the conversion's WHOLE path — every
touch since the user's previous conversion. The carried state is
therefore the user's OPEN path (touches not yet closed by a
conversion), and each batch walks its rows per user in (ts, type)
order, seeded with the carried path: a conversion closes the running
path and emits its credit rows; touches extend it. Input contract (the
st7/st11 discipline): batches arrive in per-user time order — for
out-of-order feeds use streaming/multitouch_wm.py (r12), which
replaces this contract with a watermark/late-data rule.

Exactness device: per (conversion, touch-type, half-life count h) the
batch emits an integer COUNT — never a weight — so the emitted rows
are exact and bounded (h saturates at 62, the w17 clamp). The read
side reconstructs w17's arithmetic verbatim in decimal(38,0):
num = Σ cnt·2^(62−h) per type, D = Σ num per path, then the same
half-up ppm divisions — a real 2-micro-batch run hash-checks against
the w17 oracle VERBATIM.

State honesty: the open path is unbounded for a user who touches
forever without converting — exactly the batch operator's trailing-
touch set, which it also materializes (and then drops). At 100 TB the
state store's bucket partitioning spreads users; a per-user cap would
change semantics and is deliberately NOT applied.

Per micro-batch:
1. read carried open paths for the TOUCHED buckets (strictly-pre-batch
   versions — replay-safe),
2. ONE window sort per key over seed ∪ batch rows in (us, tp) order
   (the documented w15/w17 ROW-precedence tie rule) — pure DataFrame
   since the r12 optimization round (formerly an applyInPandas walk:
   one pandas frame PER USER dominated the gate) — emitting
   (conv_us, tp, h, cnt) rows per closed path and a tp=NULL marker for
   pathless conversions,
3. OVERWRITE ``results/batch={batch_id}`` (replay-idempotent),
4. merge the new open paths (wholesale per batch user — the st12
   replace-don't-merge device for keys the batch saw).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState


def _state_store(
    state_root: str, key_col: str, nb: int
) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/paths",
        key_cols=[key_col],
        num_buckets=nb,
        replace=True,
    )


def multitouch_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    halflife_us: int,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of the seeded path walk — module-level so replay
    semantics are directly testable (the admit_batch pattern)."""
    import pyspark.sql.types as T

    spark = batch_df.sparkSession
    store = _state_store(state_root, key_col, num_state_buckets)

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = batch_df.select(
        F.col(key_col).alias("k"),
        us.alias("us"),
        F.col(type_col).alias("tp"),
    ).localCheckpoint(eager=False)

    touched = store.touched_buckets(ev.select(F.col("k").alias(key_col)))
    carry = store.read(spark, before_batch=batch_id, buckets=touched)
    key_dt = ev.schema["k"].dataType
    if carry is not None:
        seeds = ev.select("k").distinct().join(
            carry.select(F.col(key_col).alias("k"), "path"), "k", "inner"
        )
    else:
        seeds = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("k", key_dt),
                    T.StructField(
                        "path",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("us", T.LongType()),
                                    T.StructField("tp", T.StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        )
    # r12 optimization (guide §4.1): the seeded walk used to run as
    # groupBy(k).applyInPandas — one pandas DataFrame PER USER, so the
    # grouped-Python overhead (not the arithmetic) dominated the gate.
    # The walk's semantics are the batch operator's own window device
    # (analytics.multi_touch_attribution): seed-path rows sort BEFORE
    # the batch rows (the walk pre-loads the path), one window sort
    # per key yields each touch's next-conversion timestamp (its
    # closing conversion) and each conversion's pathless flag (its
    # predecessor is a conversion or absent — any row in between would
    # be a touch on the path). Credit/pathless rows and the new open
    # path then fall out of two hash aggregates — no Python anywhere.
    # Credit-row equality with the walk is bitwise: h uses the
    # pmod-floor division (Python's // semantics, identical for the
    # in-contract lag ≥ 0 and for any out-of-contract negative lag),
    # and per-(conversion, tp, h) counts are order-free.
    from pyspark.sql import Window

    h_us = int(halflife_us)
    conv = str(convert_type)
    path_t = "array<struct<us:bigint,tp:string>>"
    seedrows = seeds.select(
        "k", F.posexplode("path").alias("pos", "e")
    ).select(
        "k",
        F.col("e.us").alias("us"),
        F.col("e.tp").alias("tp"),
        F.lit(0).alias("ord0"),
        F.col("pos").alias("ord1"),
    )
    batchrows = ev.select(
        "k", "us", "tp", F.lit(1).alias("ord0"), F.lit(0).alias("ord1")
    )
    w = Window.partitionBy("k").orderBy("ord0", "ord1", "us", "tp")
    w_next = w.rowsBetween(1, Window.unboundedFollowing)
    ic = (F.col("tp") == F.lit(conv)) & (F.col("ord0") == 1)
    x = (
        batchrows.unionByName(seedrows)
        .withColumn("_ic", ic)
        .select(
            "k", "us", "tp", "_ic",
            F.min(F.when(F.col("_ic"), F.col("us"))).over(w_next).alias(
                "_ncus"
            ),
            F.lag("_ic").over(w).alias("_pic"),
        )
        .localCheckpoint(eager=False)
    )
    lag_us = F.col("_ncus") - F.col("us")
    h = F.least(
        ((lag_us - F.pmod(lag_us, F.lit(h_us))) / F.lit(h_us)).cast("long"),
        F.lit(62),
    ).cast("int")
    credits = (
        x.filter(~F.col("_ic") & F.col("_ncus").isNotNull())
        .groupBy(
            "k", F.col("_ncus").alias("conv_us"), "tp", h.alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pathless = x.filter(
        F.col("_ic") & F.coalesce(F.col("_pic"), F.lit(True))
    ).select(
        "k",
        F.col("us").alias("conv_us"),
        F.lit(None).cast("string").alias("tp"),
        F.lit(None).cast("int").alias("h"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    credits.select("k", "conv_us", "tp", "h", "cnt").unionByName(
        pathless
    ).write.mode("overwrite").parquet(
        f"{state_root}/results/batch={batch_id}"
    )
    open_touches = (
        x.filter(~F.col("_ic") & F.col("_ncus").isNull())
        .groupBy("k")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("us", "tp"))
            ).alias("path")
        )
    )
    # EVERY batch key gets a state row (empty path when its touches
    # were all consumed) — the wholesale-replace merge below depends
    # on it, exactly like the walk's unconditional kind=1 row
    new_state = (
        ev.select("k").distinct()
        .join(open_touches, "k", "left")
        .select(
            F.col("k").alias(key_col),
            F.coalesce(F.col("path"), F.expr(f"CAST(array() AS {path_t})"))
            .alias("path"),
        )
    )

    store.merge_batch(new_state, batch_id)


def streaming_multitouch(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    halflife: str = "1 hour",
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch multi-touch maintainer; read the credit
    table any time with :func:`read_multitouch`."""
    from healthcare_api_spark.operators.temporal import _parse_duration_secs

    h_us = _parse_duration_secs(halflife) * 1_000_000

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        multitouch_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            convert_type, h_us, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_multitouch(spark: SparkSession, state_root: str) -> DataFrame:
    """Reconstruct w17's output schema from the emitted integer rows:
    (touch_type, n_touches, paths_touched, linear_credit_ppm,
    decay_credit_ppm) — byte-compatible with
    ``analytics.multi_touch_attribution`` over the same events."""
    rows = spark.read.parquet(f"{state_root}/results").drop("batch")
    d38 = "decimal(38,0)"
    tch = rows.filter(F.col("tp").isNotNull()).select(
        "k", "conv_us", "tp",
        "cnt",
        # exact 2^(62-h) numerators, reconstructed in decimal like w17
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), CAST(62 - h AS INT))"
            " AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))"
        ).alias("_num"),
    )
    per_type = tch.groupBy("k", "conv_us", "tp").agg(
        F.sum("cnt").cast("bigint").alias("_cnt"),
        F.sum("_num").cast(d38).alias("_tnum"),
    )
    tot = per_type.groupBy("k", "conv_us").agg(
        F.sum("_cnt").cast("bigint").alias("_n"),
        F.sum("_tnum").cast(d38).alias("_d"),
    )
    ppm = F.lit(1_000_000).cast(d38)
    cred = per_type.join(tot, ["k", "conv_us"]).select(
        F.col("tp").alias("touch_type"),
        "_cnt",
        (
            F.col("_cnt") * F.expr("(2 * 1000000 + _n) DIV (2 * _n)")
        ).cast("bigint").alias("_lin"),
        (
            F.lit(2).cast(d38) * ppm * F.col("_tnum") + F.col("_d")
        ).alias("_dnum"),
        F.col("_d").alias("_dden"),
    ).select(
        "touch_type", "_cnt", "_lin",
        F.expr("CAST(_dnum DIV (2 * _dden) AS BIGINT)").alias("_dec"),
    )
    none = (
        rows.filter(F.col("tp").isNull())
        .agg(F.sum("cnt").cast("bigint").alias("_c"))
        .filter(F.col("_c") > 0)
        .select(
            F.lit("(none)").alias("touch_type"),
            F.lit(0).cast("bigint").alias("n_touches"),
            F.col("_c").alias("paths_touched"),
            (F.col("_c") * 1_000_000).cast("bigint").alias(
                "linear_credit_ppm"
            ),
            (F.col("_c") * 1_000_000).cast("bigint").alias(
                "decay_credit_ppm"
            ),
        )
    )
    return (
        cred.groupBy("touch_type")
        .agg(
            F.sum("_cnt").cast("bigint").alias("n_touches"),
            F.count(F.lit(1)).cast("bigint").alias("paths_touched"),
            F.sum("_lin").cast("bigint").alias("linear_credit_ppm"),
            F.sum("_dec").cast("bigint").alias("decay_credit_ppm"),
        )
        .unionByName(none)
    )
