"""Streaming sketch maintenance: fold per-micro-batch KMV sketches
into a persistent state table (SURVEY.md §2.9 composed with the §2.10
sketch family).

The point of a MERGEABLE sketch is exactly this deployment: each
micro-batch is sketched independently (one distinct + per-group
bottom-k over BATCH rows only) and ``kmv_merge`` folds it into state
whose size is #groups × k hashes — never the stream. Because bottom-k
merge is associative, commutative and idempotent-on-duplicates, the
final state is bit-identical to a single batch build over the whole
corpus — which is what makes the st6 gate query hash-checkable against
the plain k4 oracle: the cross-batch machinery must EQUAL the batch
semantics, not approximate it.

State layout (r8, VERDICT r7 #3 + ADVICE r7): the per-group sketches
live in a ``BucketedVersionedState`` keyed by the group columns —
per batch only the touched groups' hash buckets are read and
rewritten, each batch writes an immutable ``v{batch_id}`` snapshot
(``_SUCCESS``-gated), and the previous state survives any mid-write
crash. The old single-directory ``mode("overwrite")`` deleted the only
copy of the accumulated state before the new files committed. Read the
live sketch with ``read_kmv_state``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from healthcare_api_spark.operators.sketches import (
    bloom_merge,
    cms_merge,
    hll_merge,
    kmv_build,
    kmv_merge,
)
from healthcare_api_spark.streaming.state import BucketedVersionedState, pairwise


def _store(
    state_root: str,
    group_cols: list[str],
    num_state_buckets: int,
    k: int = 64,
):
    # the read fold re-applies the bottom-k merge, so readers must pass
    # the writer's k (both default to 64); the manifest enforces it
    return BucketedVersionedState(
        f"{state_root}/kmv",
        key_cols=list(group_cols),
        num_buckets=num_state_buckets,
        merge_fn=pairwise(kmv_merge, list(group_cols), k),
        params={"k": k},
    )


def streaming_kmv(
    stream_df: DataFrame,
    state_root: str,
    group_cols: list[str],
    key_col: str,
    k: int = 64,
    checkpoint: str | None = None,
    num_state_buckets: int = 16,
):
    """Start a foreachBatch KMV maintainer. Per micro-batch:

    1. sketch the batch (``kmv_build`` — distinct + bottom-k on batch
       rows only),
    2. merge into the touched groups' state buckets (``kmv_merge``
       against the pre-batch snapshot — replay-idempotent, crash-safe),
    3. commit as the immutable ``v{batch_id}`` snapshot.

    Returns the StreamingQuery; read the live sketch with
    ``read_kmv_state(spark, state_root, group_cols)`` (feed it to
    ``kmv_distinct`` / ``kmv_set_ops`` for estimates — sketch algebra
    works on the streaming state unchanged).
    """
    store = _store(state_root, group_cols, num_state_buckets, k)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = kmv_build(batch_df, group_cols, key_col, k)
        store.merge_batch(delta, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_fold).outputMode("update")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_kmv_state(
    spark: SparkSession,
    state_root: str,
    group_cols: list[str],
    num_state_buckets: int = 16,
    k: int = 64,
) -> DataFrame | None:
    """Newest complete per-group sketch state (None before the first
    commit). ``k`` must match the writer's — the append-protocol fold
    re-applies the bottom-k merge at read time, so a different ``k``
    raises (the store manifest records the writer's)."""
    return _store(state_root, group_cols, num_state_buckets, k).read(spark)


def _cms_store(state_root: str, num_state_buckets: int):
    return BucketedVersionedState(
        f"{state_root}/cms",
        key_cols=["r", "bucket"],
        num_buckets=num_state_buckets,
        merge_fn=pairwise(cms_merge),
    )


def streaming_cms(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
    checkpoint: str | None = None,
    num_state_buckets: int = 8,
):
    """Start a foreachBatch count-min-sketch maintainer — the online
    frequency screen beside the KMV (distinct) and Bloom (membership)
    maintainers. Per micro-batch:

    1. sketch the batch (``cms_build`` — md5 cells over batch rows
       only, ≤ depth×width cells regardless of batch size),
    2. cell-wise-sum into the touched cells' state buckets
       (``cms_merge`` against the pre-batch snapshot),
    3. commit as the immutable ``v{batch_id}`` snapshot.

    Cell-wise sum is associative and commutative but — unlike KMV
    bottom-k and Bloom OR — NOT idempotent, so replay safety here
    rests entirely on the versioned store's contract: a replayed batch
    either short-circuits on its complete ``v{batch_id}`` or re-merges
    against the strictly-pre-batch snapshot, never double-counting.
    That makes the final state bit-identical to one batch build over
    the whole stream (integer sums reassociate exactly), which is what
    lets the st9 gate hash-check a REAL 2-batch streaming run against
    the plain batch SQL oracle. State size is ≤ depth×width cells
    forever; estimate with ``cms_lookup(read_cms_state(...), ...)``.
    """
    from healthcare_api_spark.operators.sketches import cms_build

    store = _cms_store(state_root, num_state_buckets)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = cms_build(
            batch_df, key_col, depth=depth, width=width, weight_col=weight_col
        )
        store.merge_batch(delta, batch_id)

    writer = stream_df.writeStream.foreachBatch(_fold).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_cms_state(
    spark: SparkSession,
    state_root: str,
    num_state_buckets: int = 8,
) -> DataFrame | None:
    """Newest complete CMS cell state (None before the first commit)."""
    return _cms_store(state_root, num_state_buckets).read(spark)


def _hll_store(state_root: str, group_cols: list[str], num_state_buckets: int):
    return BucketedVersionedState(
        f"{state_root}/hll",
        key_cols=[*group_cols, "reg"],
        num_buckets=num_state_buckets,
        merge_fn=pairwise(hll_merge, list(group_cols)),
    )


def streaming_hll(
    stream_df: DataFrame,
    state_root: str,
    group_cols: list[str],
    key_col: str,
    p: int = 9,
    checkpoint: str | None = None,
    num_state_buckets: int = 8,
):
    """Start a foreachBatch HyperLogLog maintainer — the online
    per-group distinct-count screen beside the KMV (bottom-k), Bloom
    (membership) and CMS (frequency) maintainers, completing the
    mergeable-sketch matrix over the same versioned state store. Per
    micro-batch:

    1. sketch the batch (``hll_build`` — one map-side-combined
       groupBy (group, reg) max(rho) over batch rows only,
       ≤ #groups × 2^p rows regardless of batch size),
    2. register-wise-max into the touched registers' state buckets
       (``hll_merge`` against the pre-batch snapshot),
    3. commit as the immutable ``v{batch_id}`` snapshot.

    Register max is associative, commutative AND idempotent (the
    KMV/Bloom class, not the CMS sum class), so the final state is
    ROW-FOR-ROW IDENTICAL to one batch build over the whole stream —
    the contract that lets the st10 gate hash-check a real 2-batch
    streaming run against the plain k8 batch oracle, register checksum
    included. State size is ≤ #groups × 2^p rows forever; estimate
    with ``hll_distinct(read_hll_state(...), group_cols, p)`` or roll
    up with ``hll_rollup`` — sketch algebra works on the streaming
    state unchanged.
    """
    from healthcare_api_spark.operators.sketches import hll_build

    store = _hll_store(state_root, group_cols, num_state_buckets)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = hll_build(batch_df, group_cols, key_col, p)
        store.merge_batch(delta, batch_id)

    writer = stream_df.writeStream.foreachBatch(_fold).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_hll_state(
    spark: SparkSession,
    state_root: str,
    group_cols: list[str],
    num_state_buckets: int = 8,
) -> DataFrame | None:
    """Newest complete per-group register state (None before the first
    commit)."""
    return _hll_store(state_root, group_cols, num_state_buckets).read(spark)


def _bloom_store(state_root: str, num_state_buckets: int):
    return BucketedVersionedState(
        f"{state_root}/bloom",
        key_cols=["word_idx"],
        num_buckets=num_state_buckets,
        merge_fn=pairwise(bloom_merge),
    )


def streaming_bloom(
    stream_df: DataFrame,
    state_root: str,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
    checkpoint: str | None = None,
    num_state_buckets: int = 4,
):
    """Start a foreachBatch Bloom-filter maintainer — the online
    membership screen an ingest pipeline keeps while it crawls ("have
    we shipped this content hash before?"). Per micro-batch:

    1. build the batch's filter (``bloom_build`` — distinct
       coordinates + exact word sums over batch rows only),
    2. OR it into the touched words' state buckets (``bloom_merge``
       against the pre-batch snapshot — replay-idempotent because OR
       is idempotent, crash-safe via the versioned store),
    3. commit as the immutable ``v{batch_id}`` snapshot.

    Because word-OR is associative, commutative and idempotent, the
    final state is BIT-IDENTICAL to one batch build over the whole
    stream — the st6 contract that makes a real streaming run
    hash-checkable against the plain batch oracle. State size is
    ≤ m_bits/32 words forever; probe the live filter with
    ``bloom_probe(read_bloom_state(...), ...)``.
    """
    from healthcare_api_spark.operators.sketches import bloom_build

    store = _bloom_store(state_root, num_state_buckets)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        delta = bloom_build(batch_df, key_col, m_bits, k_hashes)
        store.merge_batch(delta, batch_id)

    writer = stream_df.writeStream.foreachBatch(_fold).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_bloom_state(
    spark: SparkSession,
    state_root: str,
    num_state_buckets: int = 4,
) -> DataFrame | None:
    """Newest complete Bloom word state (None before the first
    commit)."""
    return _bloom_store(state_root, num_state_buckets).read(spark)
