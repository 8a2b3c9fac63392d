"""Streaming multi-touch attribution WITH a late-data contract (r12,
VERDICT r11 #1 — the st* family's first watermark semantics).

The plain st14 pipeline (streaming/multitouch.py) leans on the
st7/st11 input contract "batches arrive in per-user time order" — the
one assumption a real event feed violates daily. This module replaces
the contract with a DEFINED lateness rule, judged per key against the
state carried from STRICTLY EARLIER batches (batch-granularity
watermarking, the Structured Streaming model):

1. **Too late (watermark)**: a row older than ``lateness`` before the
   key's high-water mark ``hwm`` (max event time OBSERVED so far —
   dropped rows still advance it, like Spark's own watermark) is
   dropped and counted: ``us < hwm − lateness``.
2. **Closed path**: a surviving row that sorts (us, type) LEXICO-
   GRAPHICALLY before the key's last emitted conversion is dropped and
   counted separately — its path's credit rows are already written and
   exact-integer emission is append-only (no retraction). The
   lexicographic boundary (not a bare timestamp compare) makes the
   surviving set EXACTLY the set the batch operator would walk into
   post-conversion paths, so:
3. **In-window late rows are ACCEPTED by path recompute**: the carried
   open path is the seed, the batch walk sorts seed ∪ survivors in
   (us, type) order — a late touch lands at its true event-time
   position inside the open path and the whole path re-credits on the
   closing conversion.

Equivalence contract (what the st15 gate hash-checks): after any batch
sequence, ``read_multitouch_wm`` EQUALS the batch w17 attribution over
the SURVIVING rows, plus one audit row per drop reason —
``('(dropped:late)' | '(dropped:closed)', n_dropped, 0, 0, 0)``. The
oracle applies the identical rule in SQL (per-key pre-batch max / max-
conversion aggregates), so lateness handling itself is hash-verified,
not just asserted.

State per key (BucketedVersionedState, the r8 machinery): the open
path PLUS ``hwm`` and ``cus`` (last closed conversion's event time) —
two BIGINTs on top of st14's list state. Honesty: the open path is
unbounded for a never-converting user, exactly as documented for st14.

Intra-batch disorder needs no rule: the walk's (us, type) sort IS the
handling. Lateness is judged against pre-batch state only, so a batch
is replay-idempotent (same inputs → same drops → same emission).
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


def multitouch_wm_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    halflife_us: int,
    lateness_us: int,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of the watermarked seeded path walk —
    module-level so replay semantics are directly testable."""
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
    path_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("us", T.LongType()),
                T.StructField("tp", T.StringType()),
            ]
        )
    )
    if carry is not None:
        seeds = ev.select("k").distinct().join(
            carry.select(
                F.col(key_col).alias("k"), "path", "hwm", "cus"
            ),
            "k",
            "inner",
        )
    else:
        seeds = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("k", key_dt),
                    T.StructField("path", path_t),
                    T.StructField("hwm", T.LongType()),
                    T.StructField("cus", T.LongType()),
                ]
            ),
        )
    # r12 optimization (guide §4.1, the st14 device): the watermarked
    # walk is pure window SQL too — no grouped Python. The lateness
    # rule classifies each batch row against the key's CARRIED
    # (hwm, cus) with two flag expressions; survivors then MERGE-SORT
    # with the exploded seed path under one (us, tp) window sort (the
    # walk's `sorted(keep + path)`), and the st14 aggregates emit the
    # identical integer credit/pathless rows, the drop audit, and the
    # per-key state triple (open path, advanced hwm, last conversion).
    from pyspark.sql import Window

    h_us = int(halflife_us)
    late_us = int(lateness_us)
    conv = str(convert_type)
    sinfo = seeds.select("k", "hwm", "cus")
    cls = (
        ev.join(sinfo, "k", "left")
        .withColumn(
            "_late",
            F.col("hwm").isNotNull()
            & (F.col("us") < F.col("hwm") - F.lit(late_us)),
        )
        .withColumn(
            "_closed",
            ~F.col("_late")
            & F.col("cus").isNotNull()
            & (
                (F.col("us") < F.col("cus"))
                | (
                    (F.col("us") == F.col("cus"))
                    & (F.col("tp") < F.lit(conv))
                )
            ),
        )
        .localCheckpoint(eager=False)
    )
    seedrows = seeds.select("k", F.explode("path").alias("e")).select(
        "k", F.col("e.us").alias("us"), F.col("e.tp").alias("tp")
    )
    survivors = cls.filter(~F.col("_late") & ~F.col("_closed")).select(
        "k", "us", "tp"
    )
    w = Window.partitionBy("k").orderBy("us", "tp")
    w_next = w.rowsBetween(1, Window.unboundedFollowing)
    x = (
        survivors.unionByName(seedrows)
        # the walk's merged loop treats ANY conv-typed entry as a
        # closer, seed or not — same here (seed paths never carry one)
        .withColumn("_ic", F.col("tp") == F.lit(conv))
        .select(
            "k", "us", "tp", "_ic",
            F.min(F.when(F.col("_ic"), F.col("us"))).over(w_next).alias(
                "_ncus"
            ),
            F.lag("_ic").over(w).alias("_pic"),
        )
        .localCheckpoint(eager=False)
    )
    lag_expr = F.col("_ncus") - F.col("us")
    h = F.least(
        ((lag_expr - F.pmod(lag_expr, F.lit(h_us))) / F.lit(h_us)).cast(
            "long"
        ),
        F.lit(62),
    ).cast("int")
    credits = (
        x.filter(~F.col("_ic") & F.col("_ncus").isNotNull())
        .groupBy("k", F.col("_ncus").alias("conv_us"), "tp", h.alias("h"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "k", F.lit(0).alias("kind"), "conv_us", "tp", "h", "cnt"
        )
    )
    pathless = x.filter(
        F.col("_ic") & F.coalesce(F.col("_pic"), F.lit(True))
    ).select(
        "k",
        F.lit(0).alias("kind"),
        F.col("us").alias("conv_us"),
        F.lit(None).cast("string").alias("tp"),
        F.lit(None).cast("int").alias("h"),
        F.lit(1).cast("bigint").alias("cnt"),
    )
    drop_counts = cls.groupBy("k").agg(
        F.max("us").alias("_bmax"),
        F.sum(F.when(F.col("_late"), 1)).cast("bigint").alias("_ln"),
        F.sum(F.when(F.col("_closed"), 1)).cast("bigint").alias("_cn"),
    )
    audits = drop_counts.selectExpr(
        "k",
        "stack(2, 'late', _ln, 'closed', _cn) AS (tp, cnt)",
    ).filter(F.col("cnt") > 0).select(
        "k",
        F.lit(2).alias("kind"),
        F.lit(None).cast("bigint").alias("conv_us"),
        "tp",
        F.lit(None).cast("int").alias("h"),
        "cnt",
    )
    credits.unionByName(pathless).unionByName(audits).select(
        "k", "kind", "conv_us", "tp", "h", "cnt"
    ).write.mode("overwrite").parquet(
        f"{state_root}/results/batch={batch_id}"
    )

    open_touches = (
        x.filter(~F.col("_ic") & F.col("_ncus").isNull())
        .groupBy("k")
        .agg(
            F.sort_array(F.collect_list(F.struct("us", "tp"))).alias(
                "path"
            )
        )
    )
    conv_k = (
        x.filter(F.col("_ic"))
        .groupBy("k")
        .agg(F.max("us").alias("_cmax"))
    )
    path_sql = "array<struct<us:bigint,tp:string>>"
    new_state = (
        ev.select("k").distinct()
        .join(sinfo, "k", "left")
        .join(open_touches, "k", "left")
        .join(conv_k, "k", "left")
        .join(drop_counts.select("k", "_bmax"), "k", "left")
        .select(
            F.col("k").alias(key_col),
            F.coalesce(
                F.col("path"), F.expr(f"CAST(array() AS {path_sql})")
            ).alias("path"),
            # dropped rows still advance the mark (observed-data
            # watermark); every batch key has ≥1 batch row so _bmax
            # is never null here
            F.greatest(
                F.coalesce(F.col("hwm"), F.col("_bmax")), F.col("_bmax")
            ).alias("hwm"),
            F.coalesce(F.col("_cmax"), F.col("cus")).alias("cus"),
        )
    )

    store.merge_batch(new_state, batch_id)


def streaming_multitouch_wm(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    type_col: str,
    convert_type: str,
    halflife: str = "1 hour",
    lateness: str = "1 day",
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch watermarked multi-touch maintainer; read
    the credit + audit table with :func:`read_multitouch_wm`."""
    from healthcare_api_spark.operators.temporal import _parse_duration_secs

    h_us = _parse_duration_secs(halflife) * 1_000_000
    l_us = _parse_duration_secs(lateness) * 1_000_000

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        multitouch_wm_batch(
            batch_df, batch_id, state_root, key_col, ts_col, type_col,
            convert_type, h_us, l_us, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_multitouch_wm(spark: SparkSession, state_root: str) -> DataFrame:
    """w17's output schema over the emitted integer credit rows
    (reconstruction identical to st14's read side), UNION one audit
    row per drop reason: ('(dropped:late)' / '(dropped:closed)',
    n_dropped, 0, 0, 0) — the lateness rule's visible ledger."""
    rows = spark.read.parquet(f"{state_root}/results").drop("batch")
    cred_rows = rows.filter(F.col("kind") == 0).drop("kind")
    d38 = "decimal(38,0)"
    tch = cred_rows.filter(F.col("tp").isNotNull()).select(
        "k", "conv_us", "tp",
        "cnt",
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
        cred_rows.filter(F.col("tp").isNull())
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
    audit = (
        rows.filter(F.col("kind") == 2)
        .groupBy("tp")
        .agg(F.sum("cnt").cast("bigint").alias("_n"))
        .select(
            F.concat(
                F.lit("(dropped:"), F.col("tp"), F.lit(")")
            ).alias("touch_type"),
            F.col("_n").alias("n_touches"),
            F.lit(0).cast("bigint").alias("paths_touched"),
            F.lit(0).cast("bigint").alias("linear_credit_ppm"),
            F.lit(0).cast("bigint").alias("decay_credit_ppm"),
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
        .unionByName(audit)
    )
