"""Continuous heavy hitters: a streaming-maintained token-count state
with top-k reads (SURVEY.md §2.9 composed with the §2.10 heavy-hitter
operator).

Per micro-batch: tokenize ONLY the batch, aggregate its counts, and
commit them as a delta to a ``BucketedVersionedState`` keyed by token
(VERDICT r7 #3) whose reduce sums counts — replay-idempotent (a
committed batch is skipped; a crashed one is rewritten by its replay)
and crash-safe (prior versions are never mutated). State size is the
vocabulary, not the stream; the top-k read is an O(k) TakeOrdered over
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.state import BucketedVersionedState, sum_merge


def _store(state_path: str, num_state_buckets: int) -> BucketedVersionedState:
    return BucketedVersionedState(
        state_path,
        key_cols=["tok"],
        num_buckets=num_state_buckets,
        merge_fn=sum_merge(["tok"], "cnt"),
    )


def _batch_counts(batch_df: DataFrame, text_col: str) -> DataFrame:
    from healthcare_api_spark.functions.text import tokens

    return (
        batch_df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_top_tokens(
    stream_df: DataFrame,
    text_col: str,
    state_path: str,
    checkpoint: str | None = None,
    keep_versions: int = 2,
    num_state_buckets: int = 16,
):
    """readStream → continuously maintained corpus token counts.
    Returns the StreamingQuery; read the current top-k any time with
    ``read_top_tokens``."""
    store = _store(state_path, num_state_buckets)
    store.keep_versions = keep_versions

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        delta = _batch_counts(batch_df, text_col)
        store.merge_batch(delta, batch_id)

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_top_tokens(
    spark: SparkSession,
    state_path: str,
    k: int = 20,
    num_state_buckets: int = 16,
) -> DataFrame:
    """Current top-k heavy hitters from the folded token-count state
    (deterministic tie-break: cnt desc, token asc)."""
    counts = _store(state_path, num_state_buckets).read(spark)
    if counts is None:
        return spark.createDataFrame([], "tok string, cnt bigint")
    return counts.orderBy(F.col("cnt").desc(), F.col("tok").asc()).limit(k)
