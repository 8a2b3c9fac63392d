"""Streaming session flows WITH a late-data contract (r12, VERDICT
r11 #8 — the st15 watermark device applied to the OTHER order-
sensitive state, sessionization).

st7 (streaming/flows.py) carries only each key's LAST event, which is
sufficient exactly when batches arrive in per-key time order: a late
event landing INSIDE an already-counted session would change committed
transitions the last-event state cannot see. This module makes the
watermark the boundary between MUTABLE and FROZEN state:

- per key the state retains the event SUFFIX inside the lateness
  horizon ``[hwm − lateness, hwm]`` plus ONE anchor — the newest
  frozen event — because the anchor→suffix boundary transition is
  still mutable (a late event can land between them);
- a batch row older than ``hwm − lateness`` (pre-batch hwm, the st15
  rule; observed rows advance the mark even when dropped) is dropped
  and counted ('(dropped:late)');
- accepted rows — late or not — are merged into the suffix and the
  key's transitions RECOMPUTE: the batch emits the exact ± delta
  ``T(suffix ∪ accepted) − T(suffix)`` into the mergeable counts
  store. Count merges are sums, so retraction is just a negative
  delta; transitions at or before the anchor are provably unreachable
  by accepted rows (accepted ≥ hwm − lateness > anchor) and never
  re-emitted.

Equivalence contract (the st16 gate): after any batch sequence the
matrix EQUALS ``analytics.session_flows`` over the surviving rows,
plus the audit row — the oracle restates the drop rule in SQL.

State size honesty: the suffix is bounded by each key's event VOLUME
inside one lateness window (+1), not by history — the tunable
memory/lateness trade every watermarking system makes. Replay safety
rides the versioned store exactly as st7: deltas are a pure function
of pre-batch state + batch input, and a complete version
short-circuits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState, sum_merge


def _suffix_store(
    state_root: str, key_col: str, nb: int
) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/suffix",
        key_cols=[key_col],
        num_buckets=nb,
        replace=True,
    )


def _counts_store(state_root: str, nb: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        f"{state_root}/counts",
        key_cols=["src", "dst"],
        num_buckets=nb,
        merge_fn=sum_merge(["src", "dst"], "n"),
    )


# the drop audit rides the counts store as ('(dropped)', reason) rows —
# drop totals are mergeable sums exactly like transition counts, and a
# separate store would add a third per-batch version commit for one row
_AUDIT_SRC = "(dropped)"


def flows_wm_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    key_col: str,
    ts_col: str,
    state_col: str,
    gap_minutes: int,
    lateness_us: int,
    num_state_buckets: int = 16,
) -> None:
    """One micro-batch of watermarked transition maintenance."""
    import pyspark.sql.types as T

    spark = batch_df.sparkSession
    suffix_store = _suffix_store(state_root, key_col, num_state_buckets)
    counts_store = _counts_store(state_root, num_state_buckets)
    gap_us = gap_minutes * 60 * 1_000_000
    late_us = int(lateness_us)

    ev = batch_df.select(
        F.col(key_col).alias("k"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(state_col).alias("st"),
    ).localCheckpoint(eager=False)

    touched = suffix_store.touched_buckets(
        ev.select(F.col("k").alias(key_col))
    )
    carry = suffix_store.read(spark, before_batch=batch_id, buckets=touched)
    key_dt = ev.schema["k"].dataType
    suffix_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("us", T.LongType()),
                T.StructField("st", T.StringType()),
            ]
        )
    )
    if carry is not None:
        seeds = ev.select("k").distinct().join(
            carry.select(F.col(key_col).alias("k"), "suffix", "hwm"),
            "k",
            "inner",
        )
    else:
        seeds = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("k", key_dt),
                    T.StructField("suffix", suffix_t),
                    T.StructField("hwm", T.LongType()),
                ]
            ),
        )
    # r12 optimization (guide §4.1, the st14/st15 device): the per-key
    # recompute walk is pure window SQL — no grouped Python. Lateness
    # classifies each batch row against the key's CARRIED hwm with one
    # flag expression; the transition delta T(suffix ∪ accepted) −
    # T(suffix) falls out of ONE window pass over a two-sided union —
    # the OLD side (suffix only, weight −1) and the MERGED side (suffix
    # plus accepted rows, weight +1) each sort per (k, side) by
    # (us, st) (the walk's ``sorted()``), and every in-gap lag pair is
    # one transition. Suffix-shrink (horizon keep + one frozen anchor)
    # is a per-key aggregate: collect the in-horizon events, take the
    # max-(us, st) event below the horizon as the anchor.
    from pyspark.sql import Window

    sinfo = seeds.select("k", "hwm")
    cls = (
        ev.join(sinfo, "k", "left")
        .withColumn(
            "_late",
            F.col("hwm").isNotNull()
            & (F.col("us") < F.col("hwm") - F.lit(late_us)),
        )
        .localCheckpoint(eager=False)
    )
    suffixrows = seeds.select("k", F.explode("suffix").alias("e")).select(
        "k", F.col("e.us").alias("us"), F.col("e.st").alias("st")
    )
    accepted = cls.filter(~F.col("_late")).select("k", "us", "st")
    # one checkpoint: this frame feeds the two-sided transition window
    # AND the new-suffix aggregate
    # EAGER: events is the shared parent of both store deltas, which
    # run on concurrent threads below — materializing it (and, as a
    # side effect, cls) up front means neither thread can race the
    # other into double-computing shared partitions
    events = (
        suffixrows.withColumn("_b", F.lit(False))
        .unionByName(accepted.withColumn("_b", F.lit(True)))
        .localCheckpoint(eager=True)
    )
    sided = (
        events.filter(~F.col("_b")).withColumn("side", F.lit(0))
        .unionByName(events.withColumn("side", F.lit(1)))
    )
    w = Window.partitionBy("k", "side").orderBy("us", "st")
    tr = sided.select(
        "k", "side", "us", "st",
        F.lag("us").over(w).alias("_pus"),
        F.lag("st").over(w).alias("_pst"),
    )
    trans = tr.filter(
        F.col("_pus").isNotNull()
        & ((F.col("us") - F.col("_pus")) <= F.lit(gap_us))
    ).select(
        F.col("_pst").alias("src"),
        F.col("st").alias("dst"),
        F.when(F.col("side") == 1, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("dn"),
    )
    late_audit = (
        cls.agg(
            F.sum(F.when(F.col("_late"), F.lit(1)))
            .cast("bigint")
            .alias("dn")
        )
        .filter(F.col("dn").isNotNull() & (F.col("dn") > 0))
        .select(
            F.lit(_AUDIT_SRC).alias("src"),
            F.lit("late").alias("dst"),
            "dn",
        )
    )
    # a (src, dst) whose ± contributions cancel to 0 merges identically
    # to no row at all (count sums; the read side filters n > 0), so
    # drop it here
    delta_counts = (
        trans.unionByName(late_audit)
        .groupBy("src", "dst")
        .agg(F.sum("dn").cast("bigint").alias("n"))
        .filter(F.col("n") != 0)
    )

    # dropped rows still advance the mark (observed-data watermark);
    # every batch key has ≥1 batch row so _bmax is never null
    hwm_new = (
        cls.groupBy("k")
        .agg(F.max("us").alias("_bmax"))
        .join(sinfo, "k", "left")
        .select(
            "k",
            F.greatest(
                F.coalesce(F.col("hwm"), F.col("_bmax")), F.col("_bmax")
            ).alias("hwm"),
        )
    )
    suffix_sql = "array<struct<us:bigint,st:string>>"
    kept = (
        events.join(hwm_new, "k")
        .withColumn("_hz", F.col("hwm") - F.lit(late_us))
        .groupBy("k")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("us") >= F.col("_hz"), F.struct("us", "st")
                    )
                )
            ).alias("_keep"),
            F.max(
                F.when(F.col("us") < F.col("_hz"), F.struct("us", "st"))
            ).alias("_anchor"),
        )
    )
    # left join: a key whose every batch row was dropped late and whose
    # carried suffix was empty has no events row — its suffix is empty
    new_suffix = (
        hwm_new.join(kept, "k", "left")
        .select(
            F.col("k").alias(key_col),
            F.coalesce(
                F.when(
                    F.col("_anchor").isNotNull(),
                    F.concat(F.array(F.col("_anchor")), F.col("_keep")),
                ).otherwise(F.col("_keep")),
                F.expr(f"CAST(array() AS {suffix_sql})"),
            ).alias("suffix"),
            "hwm",
        )
    )

    # the two stores are independent and their (now delta-only, guide
    # §6) commits read only the materialized events/cls blocks — run
    # them on two driver threads (guide §2.6: concurrent jobs
    # back-fill each other's task tails)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fc = pool.submit(counts_store.merge_batch, delta_counts, batch_id)
        fs = pool.submit(suffix_store.merge_batch, new_suffix, batch_id)
        fc.result()
        fs.result()


def streaming_session_flows_wm(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    ts_col: str,
    state_col: str,
    gap_minutes: int = 30,
    lateness: str = "1 day",
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start the foreachBatch watermarked transition maintainer; read
    the live matrix + audit with :func:`read_session_flows_wm`."""
    from healthcare_api_spark.operators.temporal import _parse_duration_secs

    l_us = _parse_duration_secs(lateness) * 1_000_000

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        flows_wm_batch(
            batch_df, batch_id, state_root, key_col, ts_col, state_col,
            gap_minutes, l_us, num_state_buckets,
        )

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_session_flows_wm(
    spark: SparkSession, state_root: str, num_state_buckets: int = 16
) -> DataFrame:
    """Current matrix in w13's shape — (src, dst, n_transitions,
    prob), pairs whose counts cancelled to zero filtered out — plus
    one '(dropped:late)' audit row (NULL prob)."""
    from pyspark.sql import Window

    counts = _counts_store(state_root, num_state_buckets).read(spark)
    if counts is None:
        return spark.createDataFrame(
            [], "src string, dst string, n_transitions bigint, prob double"
        )
    live = counts.filter(
        (F.col("n") > 0) & (F.col("src") != F.lit(_AUDIT_SRC))
    )
    tot = Window.partitionBy("src")
    flows = live.select(
        "src",
        "dst",
        F.col("n").alias("n_transitions"),
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(tot).cast("double"),
            6,
        ).alias("prob"),
    )
    audit = counts.filter(
        (F.col("src") == F.lit(_AUDIT_SRC)) & (F.col("n") > 0)
    ).select(
        "src",
        "dst",
        F.col("n").alias("n_transitions"),
        F.lit(None).cast("double").alias("prob"),
    )
    return flows.unionByName(audit)
