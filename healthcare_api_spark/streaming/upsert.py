"""Structured-Streaming operators (SURVEY.md §2.9).

The reference's only stream-shaped semantic is the FHIR store's
``--enable-update-create`` flag (README.md:29) — incremental upsert.
Expressed here as the canonical foreachBatch merge; plus windowed
aggregation over the driver's ``events`` table shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.operators.relational import agg_state, merge_agg_state
from healthcare_api_spark.sources.store import ResourceStore, upsert_frames
from healthcare_api_spark.streaming.state import BucketedVersionedState, pairwise


def streaming_upsert(
    stream_df: DataFrame,
    store: ResourceStore,
    resource_type: str,
    id_col: str = "id",
    version_col: str | None = None,
    checkpoint: str | None = None,
):
    """readStream → foreachBatch merge-by-id into the store.

    Each micro-batch is first deduped internally (several updates to one
    id within a batch: highest version wins), then merged last-write-wins
    — exactly the update-create semantics of README.md:29. Returns the
    StreamingQuery.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        batch_dedup = upsert_frames(
            batch_df.limit(0), batch_df, id_col=id_col, version_col=version_col
        )
        store.upsert(batch_dedup, resource_type, id_col=id_col, version_col=version_col)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts; works identically on batch and streaming
    DataFrames (with a watermark bounding state for the latter)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_len).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "cnt")
    )


def hopping_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Hopping (sliding) window counts — each event contributes to
    ``window_len / slide`` overlapping windows (epoch-aligned starts at
    multiples of ``slide``). Identical semantics batch vs streaming;
    output volume is input × overlap factor, so keep the factor small
    at scale or pre-aggregate to ``slide``-sized tumbling buckets and
    roll those up instead (same totals, overlap paid on the tiny
    per-bucket aggregate, not the event stream)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_len, slide).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "cnt")
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Session windows per user (gap-based); batch + streaming."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, gap)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _agg_store(
    state_dir: str, key_cols: list[str], specs: dict[str, str | list[str]]
) -> BucketedVersionedState:
    return BucketedVersionedState(
        state_dir,
        key_cols=key_cols,
        merge_fn=pairwise(merge_agg_state, key_cols, specs),
    )


def streaming_agg_maintenance(
    stream_df: DataFrame,
    state_dir: str,
    key_cols: list[str],
    specs: dict[str, str | list[str]],
    checkpoint: str | None = None,
):
    """Streaming materialized-aggregate maintenance: each micro-batch is
    reduced to its mergeable partials (relational.agg_state) and
    committed to a ``BucketedVersionedState`` at ``state_dir`` whose
    associative reduce is merge_agg_state — the streaming twin of the
    a12 batch path, and the foreachBatch alternative to an unbounded
    `complete`-mode aggregation (whose in-memory state a 100 TB key
    space would blow past; here state lives columnar on disk and each
    commit writes only the batch's partials).

    A commit never reads the state it extends, and replaying a
    committed micro-batch is a no-op, so the maintained view never
    double counts. Returns the StreamingQuery; the maintained view is
    ``read_agg_state(spark, state_dir, key_cols, specs)``.
    """
    store = _agg_store(state_dir, key_cols, specs)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        store.merge_batch(agg_state(batch_df, key_cols, specs), batch_id)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_agg_state(
    spark: SparkSession,
    state_dir: str,
    key_cols: list[str],
    specs: dict[str, str | list[str]],
) -> DataFrame | None:
    """The aggregate state ``streaming_agg_maintenance`` maintains at
    ``state_dir`` (None before the first commit)."""
    return _agg_store(state_dir, key_cols, specs).read(spark)
