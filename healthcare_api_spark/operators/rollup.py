"""Hypertable-style hierarchical time rollups (brief: "hypertable
rollup" as an archetypal custom operator).

The continuous-aggregate pattern: aggregate raw events once at the
finest resolution, then derive each coarser tier FROM THE PREVIOUS TIER
(sums of sums, counts of counts, min of mins…). At 100 TB the raw table
is touched exactly once; the hour→day→month re-aggregations run over
tables that are orders of magnitude smaller. The naive alternative —
one groupBy per resolution over raw — scans the fact table N times.

``RollupSpec`` keeps only decomposable aggregates (sum/count/min/max);
avg is derived as sum/count at read time, exactly like TimescaleDB /
Druid / Mesa-style systems do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TRUNC = {"minute": "minute", "hour": "hour", "day": "day", "week": "week",
          "month": "month", "year": "year"}
_ORDER = ["minute", "hour", "day", "week", "month", "year"]


def _merged_partials():
    """Re-aggregate tier partials: counts and sums add, min/max
    combine."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ]


def merge_tiers(a: DataFrame, b: DataFrame,
                group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge two tiers of one level bucket by bucket — the associative
    reduce behind ``refresh_tier`` and the streaming tier store."""
    return a.unionByName(b).groupBy("bucket", *group_cols).agg(
        *_merged_partials()
    )


def hierarchical_rollup(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    levels: list[str],
    group_cols: tuple[str, ...] = (),
) -> dict[str, DataFrame]:
    """Build one aggregate table per level; each tier derives from the
    previous (finer) tier. Returns {level: DataFrame} with columns
    (bucket, *group_cols, cnt, sum_v, min_v, max_v).
    """
    for lv in levels:
        if lv not in _TRUNC:
            raise ValueError(f"unknown level: {lv}")
    ordered = sorted(levels, key=_ORDER.index)

    tiers: dict[str, DataFrame] = {}
    finest = ordered[0]
    # weeks straddle month/year boundaries, so a week tier is a valid
    # CHILD but never a valid PARENT. When week is the finest REQUESTED
    # level and coarser tiers are wanted, aggregate an internal day-level
    # base instead (days nest into weeks and months/years alike) — never
    # derive month/year from week buckets.
    base_level = finest
    if finest == "week" and len(ordered) > 1:
        base_level = "day"
    base = events.groupBy(
        F.date_trunc(_TRUNC[base_level], F.col(ts_col)).alias("bucket"), *group_cols
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(value_col).cast("double")).alias("sum_v"),
        F.min(F.col(value_col).cast("double")).alias("min_v"),
        F.max(F.col(value_col).cast("double")).alias("max_v"),
    )
    if base_level == finest:
        tiers[finest] = base
        remaining = ordered[1:]
    else:
        remaining = ordered  # week itself also derives from the day base
    prev_nestable = base
    for lv in remaining:
        src = prev_nestable
        tier = src.groupBy(
            F.date_trunc(_TRUNC[lv], F.col("bucket")).alias("bucket"), *group_cols
        ).agg(*_merged_partials())
        tiers[lv] = tier
        if lv != "week":
            prev_nestable = tier
    return tiers


def refresh_tier(existing: DataFrame, new_events: DataFrame, ts_col: str,
                 value_col: str, level: str, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Incrementally maintain a tier: aggregate ONLY the new events at
    this level, then merge-add into the existing tier (cnt/sum add,
    min/max combine). This is the continuous-aggregate refresh — cost is
    O(new events + touched buckets), never a re-scan of history.

    Use from a Structured Streaming foreachBatch for true streaming
    maintenance; idempotence requires exactly-once batch delivery
    (checkpointed foreachBatch provides it).
    """
    delta = hierarchical_rollup(new_events, ts_col, value_col, [level], group_cols)[level]
    return merge_tiers(existing, delta, group_cols)


def rollup_union(tiers: dict[str, DataFrame]) -> DataFrame:
    """All tiers as one frame with a ``level`` discriminator — the
    queryable 'continuous aggregate' view."""
    out = None
    for lv, df in tiers.items():
        tagged = df.withColumn("level", F.lit(lv))
        out = tagged if out is None else out.unionByName(tagged)
    return out
