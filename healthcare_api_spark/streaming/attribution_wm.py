"""Streaming first/last-touch attribution WITH a late-data contract
(r12 — the st15 drop rule + the st16 horizon-suffix state, completing
the attribution family's late-data story).

Why extremes alone are NOT enough here (found by the st18 oracle's
first run): w15 frames are unbounded-preceding, and an accepted LATE
conversion can sort BETWEEN two retained touches — its "last touch
strictly preceding" may be an intermediate touch that a min/max-only
state has already discarded. The fix is the flows_wm boundary: the
watermark horizon separates FROZEN from MUTABLE history —

- touches older than ``hwm − lateness`` are frozen: no accepted row
  can ever sort before them (the drop rule guarantees it), so their
  ONLY contribution to any future frame is their min/max — the state
  folds them into two extremes;
- touches inside the horizon stay as an explicit SUFFIX (bounded by
  one lateness window of per-key volume), because an accepted late
  conversion can interleave among them.

Drop rule per key, judged against PRE-batch state (the st15 rule):
``us < hwm − lateness`` → '(dropped:late)' (observed rows still
advance the mark); a survivor sorting (ts, type)-lexicographically
before the last EMITTED conversion → '(dropped:closed)' (credit rows
are append-only). Everything else is accepted and the seeded window
pass — frozen extremes as two pseudo-rows + the exploded suffix +
the batch's survivors — reproduces the batch operator's frame
EXACTLY.

The whole maintainer is PURE DataFrame (array HOFs manage the
suffix): the first watermarked st* family with no applyInPandas
anywhere.

Equivalence (gate st18): the credit table equals
``analytics.touch_attribution`` over the SURVIVING rows plus one
audit row per drop reason — the oracle restates the rule in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState

_SUFFIX_T = "array<struct<us:bigint,tp:string>>"


def _state_store(
    state_root: str, key_col: str, nb: int
) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/touches",
        key_cols=[key_col],
        num_buckets=nb,
        replace=True,
    )


def touch_wm_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    lateness_us: int,
    value_col: str | None = None,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of the watermarked seeded attribution pass."""
    import pyspark.sql.types as T

    from pyspark.sql import Window

    spark = batch_df.sparkSession
    store = _state_store(state_root, key_col, num_state_buckets)
    late_us = int(lateness_us)
    conv = F.lit(convert_type)

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
    ).localCheckpoint(eager=False)

    touched = store.touched_buckets(ev.select(F.col("k").alias(key_col)))
    carry = store.read(spark, before_batch=batch_id, buckets=touched)
    if carry is not None:
        seeds = ev.select("k").distinct().join(
            carry.select(
                F.col(key_col).alias("k"),
                "f_us", "f_tp", "l_us", "l_tp", "suffix", "hwm", "cus",
            ),
            "k",
            "inner",
        ).localCheckpoint(eager=False)
    else:
        seeds = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("k", ev.schema["k"].dataType),
                    T.StructField("f_us", T.LongType()),
                    T.StructField("f_tp", T.StringType()),
                    T.StructField("l_us", T.LongType()),
                    T.StructField("l_tp", T.StringType()),
                    T.StructField(
                        "suffix",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("us", T.LongType()),
                                    T.StructField("tp", T.StringType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField("hwm", T.LongType()),
                    T.StructField("cus", T.LongType()),
                ]
            ),
        )

    # row-level drop classification against the PRE-batch (hwm, cus)
    cls = ev.join(
        seeds.select("k", F.col("hwm").alias("_h"), F.col("cus").alias("_c")),
        "k",
        "left",
    ).withColumn(
        "_reason",
        F.when(
            F.col("_h").isNotNull() & (F.col("us") < F.col("_h") - late_us),
            F.lit("late"),
        ).when(
            F.col("_c").isNotNull()
            & (
                (F.col("us") < F.col("_c"))
                | ((F.col("us") == F.col("_c")) & (F.col("tp") < conv))
            ),
            F.lit("closed"),
        ),
    ).localCheckpoint(eager=False)
    acc = cls.filter(F.col("_reason").isNull()).select(
        "k", "us", "tp", "cents", F.lit(False).alias("_seed")
    )

    # seeded window input: frozen extremes as two pseudo-rows + the
    # exploded horizon suffix + the batch's survivors
    union = acc
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
    union = union.unionByName(
        seeds.select("k", F.explode("suffix").alias("_s")).select(
            "k",
            F.col("_s.us").alias("us"),
            F.col("_s.tp").alias("tp"),
            F.lit(0).cast("bigint").alias("cents"),
            F.lit(True).alias("_seed"),
        )
    )

    w = (
        Window.partitionBy("k")
        .orderBy(F.col("us").asc(), F.col("tp").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("tp") != conv, F.struct("us", "tp"))
    passed = union.select(
        "k", "us", "tp", "cents", "_seed",
        F.min(touch).over(w).alias("_ft"),
        F.max(touch).over(w).alias("_lt"),
    ).localCheckpoint(eager=False)

    convs = passed.filter((F.col("tp") == conv) & (~F.col("_seed"))).select(
        "k", "us", "cents",
        F.col("_ft.us").alias("f_us"), F.col("_ft.tp").alias("f_tp"),
        F.col("_lt.us").alias("l_us"), F.col("_lt.tp").alias("l_tp"),
    )
    convs.write.mode("overwrite").parquet(
        f"{state_root}/results/batch={batch_id}"
    )
    (
        cls.filter(F.col("_reason").isNotNull())
        .groupBy(F.col("_reason").alias("reason"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .write.mode("overwrite")
        .parquet(f"{state_root}/audit/batch={batch_id}")
    )

    # new per-key state: one aggregate over the classified batch rows
    # (collect_list skips the CASE's nulls), one left join to the old
    # state, then array HOFs split the combined touch list at the NEW
    # horizon — frozen prefix folds into the extremes, the rest stays
    # the explicit suffix
    per_key = cls.groupBy("k").agg(
        F.max("us").alias("_bh"),
        F.max(
            F.when(F.col("_reason").isNull() & (F.col("tp") == conv), F.col("us"))
        ).alias("_bc"),
        F.collect_list(
            F.when(
                F.col("_reason").isNull() & (F.col("tp") != conv),
                F.struct("us", "tp"),
            )
        ).alias("_bt"),
    )
    joined = per_key.join(seeds, "k", "left")
    fseed = F.when(
        F.col("f_us").isNotNull(),
        F.struct(F.col("f_us").alias("us"), F.col("f_tp").alias("tp")),
    )
    lseed = F.when(
        F.col("l_us").isNotNull(),
        F.struct(F.col("l_us").alias("us"), F.col("l_tp").alias("tp")),
    )
    comb = F.array_sort(
        F.concat(
            F.coalesce(F.col("suffix"), F.expr(f"CAST(array() AS {_SUFFIX_T})")),
            F.col("_bt"),
        )
    )
    new_hwm = F.greatest(F.col("_bh"), F.col("hwm"))
    horizon = new_hwm - F.lit(late_us)
    staged = joined.select(
        "k", fseed.alias("_fs"), lseed.alias("_ls"),
        F.greatest(F.col("_bc"), F.col("cus")).alias("cus"),
        new_hwm.alias("hwm"),
        F.filter(comb, lambda t: t["us"] >= horizon).alias("suffix"),
        F.filter(comb, lambda t: t["us"] < horizon).alias("_froz"),
    )
    new_state = staged.select(
        F.col("k").alias(key_col),
        # frozen prefix folds into the extremes (F.least/greatest skip
        # nulls; F.get is out-of-range-safe — empty frozen → null)
        F.least(F.col("_fs"), F.get(F.col("_froz"), 0)).alias("_f"),
        F.greatest(
            F.col("_ls"), F.get(F.col("_froz"), F.size("_froz") - 1)
        ).alias("_l"),
        "suffix", "hwm", "cus",
    ).select(
        key_col,
        F.col("_f.us").alias("f_us"), F.col("_f.tp").alias("f_tp"),
        F.col("_l.us").alias("l_us"), F.col("_l.tp").alias("l_tp"),
        "suffix", "hwm", "cus",
    )

    store.merge_batch(new_state, batch_id)


def streaming_touch_attribution_wm(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    lateness: str = "1 day",
    value_col: str | None = None,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the watermarked foreachBatch attribution maintainer; read
    with :func:`read_touch_attribution_wm`."""
    from healthcare_api_spark.operators.temporal import _parse_duration_secs

    l_us = _parse_duration_secs(lateness) * 1_000_000

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        touch_wm_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            convert_type, l_us, value_col, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_touch_attribution_wm(
    spark: SparkSession, state_root: str
) -> DataFrame:
    """w15's output schema over the emitted per-conversion rows, plus
    one audit row per drop reason — ('(dropped:late)' /
    '(dropped:closed)', n_dropped, 0, 0)."""
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
    out = (
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
    audit = (
        spark.read.parquet(f"{state_root}/audit").drop("batch")
        .groupBy("reason")
        .agg(F.sum("n").cast("bigint").alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            F.concat(
                F.lit("(dropped:"), F.col("reason"), F.lit(")")
            ).alias("touch_type"),
            F.col("_n").alias("first_touch"),
            F.lit(0).cast("bigint").alias("last_touch"),
            F.lit(0).cast("bigint").alias("last_touch_value_cents"),
        )
    )
    return out.unionByName(audit)
