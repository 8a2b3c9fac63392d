"""Streaming continuous-aggregate maintenance (SURVEY.md §2.9 + the
hypertable-rollup custom operator, streaming flavor).

``streaming_rollup_refresh`` runs the tier refresh in a checkpointed
``foreachBatch``: each micro-batch aggregates ONLY its own events at
the tier's resolution (``hierarchical_rollup``) and commits that
partial tier as a delta to a ``BucketedVersionedState`` keyed by
``(bucket, *group_cols)``. The store's associative reduce is
``merge_tiers`` — the same cnt/sum add and min/max combine
``refresh_tier`` applies — so commit cost is O(batch), never a re-scan
of history, and ``read_tier`` folds the committed partials into the
current tier in one pass.

Exactly-once semantics come from the store: ``foreachBatch`` is
at-least-once, a replayed batch whose delta is complete is skipped, a
crashed one (no ``_SUCCESS``) is invisible to reads and rewritten by
the replay, and a commit never reads the tier it extends — so a
corrupt committed version surfaces as a read error instead of being
silently replaced by one batch's totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from healthcare_api_spark.operators.rollup import hierarchical_rollup, merge_tiers
from healthcare_api_spark.streaming.state import BucketedVersionedState, pairwise

_TIER_SCHEMA = "bucket timestamp, cnt bigint, sum_v double, min_v double, max_v double"


def _store(
    tier_path: str, group_cols: tuple[str, ...], keep_versions: int = 2
) -> BucketedVersionedState:
    return BucketedVersionedState(
        tier_path,
        key_cols=["bucket", *group_cols],
        keep_versions=keep_versions,
        merge_fn=pairwise(merge_tiers, group_cols),
    )


def read_tier(
    spark: SparkSession, tier_path: str, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The current streaming-maintained tier (empty frame with the tier
    schema if no batch committed yet)."""
    tier = _store(tier_path, group_cols).read(spark)
    if tier is not None:
        return tier
    schema = _TIER_SCHEMA + "".join(f", {g} string" for g in group_cols)
    return spark.createDataFrame([], schema)


def apply_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    tier_path: str,
    ts_col: str,
    value_col: str,
    level: str,
    group_cols: tuple[str, ...] = (),
    keep_versions: int = 2,
) -> None:
    """Idempotently commit one micro-batch's partial tier: replaying a
    committed ``batch_id`` is a no-op, so foreachBatch's at-least-once
    delivery never double counts."""
    delta = hierarchical_rollup(batch_df, ts_col, value_col, [level], group_cols)[level]
    _store(tier_path, group_cols, keep_versions).merge_batch(delta, batch_id)


def streaming_rollup_refresh(
    stream_df: DataFrame,
    tier_path: str,
    ts_col: str,
    value_col: str,
    level: str,
    group_cols: tuple[str, ...] = (),
    checkpoint: str | None = None,
    keep_versions: int = 2,
):
    """readStream → per-batch incremental tier refresh persisted in the
    state store under ``tier_path``; read it with ``read_tier``.
    Returns the StreamingQuery."""
    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(
            batch_df, batch_id, tier_path, ts_col, value_col, level,
            group_cols, keep_versions,
        )

    writer = stream_df.writeStream.foreachBatch(_refresh).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
