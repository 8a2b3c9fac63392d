"""Bucketed, versioned micro-batch state store (VERDICT r7 #3).

The r7 streaming operators (near-dup admission, KMV fold, heavy-hitter
counts) kept their cross-batch state as ONE parquet table rewritten
whole every micro-batch. Correct — but the per-batch IO was
O(|state| + |delta|), and at a 100 TB corpus the band-owner state is
corpus-scale: rewriting it per batch is the bottleneck. Worse, the
in-place ``mode("overwrite")`` deleted the only copy before the new
files committed (a mid-write crash lost all state) and a foreachBatch
REPLAY after a partial failure read its own output (ADVICE r7: every
doc then collided with itself).

This store fixes all three with the two patterns the repo already
owns, composed:

- **bucketing** (``BucketedResourceStore.upsert``, sources/store.py:140)
  — state rows live in ``num_buckets`` hash-of-key buckets; a batch
  reads and rewrites ONLY the buckets its delta touches;
- **immutable versioned snapshots** (``apply_versioned_merge``,
  streaming/rollup.py:111) — each batch writes a NEW directory
  ``v{batch_id}/`` containing just its touched buckets, with Spark's
  ``_SUCCESS`` marking completeness. Prior versions are never mutated,
  so a crash mid-write loses nothing and a replay reads the exact
  pre-batch state (versions strictly older than the replayed batch).

Layout::

    {path}/v{batch_id}/_pt={bucket}/part-*.parquet
    {path}/v{batch_id}/_SUCCESS

The CURRENT state of bucket b is its newest complete version's
``_pt=b`` directory (a version's bucket dir always holds that bucket's
FULL merged state, because the merge folds the previous copy in).
Reads resolve bucket → newest-version once from a directory listing
(O(versions × buckets) driver-side names, never data) and issue one
multi-path parquet scan. Retention is per BUCKET: an old version is
deleted only when every bucket in it has ``keep_versions`` newer
complete copies — so the pre-batch state needed by an in-flight replay
always survives pruning.

Exactly-once contract (same as the rollup tier): foreachBatch is
at-least-once; ``merge_batch`` skips a batch whose complete snapshot
already exists, and a replayed/crashed batch recomputes from versions
strictly older than it — same inputs, same output, no double count and
no read-own-output.

Append + compact commit protocol (r13, guide §6). The full-snapshot
protocol above rewrites every touched bucket's FULL merged state per
micro-batch — commit I/O ∝ |touched-bucket state|, while only the
delta is new. A store constructed with a declared merge kind switches
to an append protocol whose commit I/O ∝ |delta|:

- ``merge_batch`` writes the RAW delta as an immutable, bucketed
  ``d{batch_id}/`` directory (still ``_SUCCESS``-gated) — no pre-state
  read, no merge execution, no tombstones at commit time;
- ``read`` resolves per bucket the newest complete base snapshot and
  reduces it together with EVERY newer complete delta in ONE pass:
  all pending delta directories are one multi-path scan, unioned with
  the base and reduced once — one aggregate exchange per read,
  whatever the fold depth. The pass runs lazily inside the consumer's
  own job;
- every ``compact_every`` pending deltas, the next commit writes a
  full ``v{batch_id}`` snapshot instead (tombstones included) — the
  same single pass over the base, the pending deltas and the batch's
  own delta — covering the batch's touched buckets AND every bucket
  with a pending delta, which bounds the fold depth and keeps
  retention working.

The two merge kinds, and the contract each one's single pass relies on:

- **associative reduce** (``merge_fn=``): a pure ``(prev_or_None,
  delta) -> merged`` with ``merge_fn(a, b) == reduce(a ∪ b)`` per key —
  sums, struct extremes, bottom-k, register max, bit-or, distinct. The
  pass is ``merge_fn(base, ⋃ deltas)``; with no base it is
  ``merge_fn(merge_fn(None, first), ⋃ other deltas)``, so a merge that
  normalizes on its first fold still sees ``merge_fn(None, d)`` once.
  ``sum_merge``, ``last_merge`` and ``pairwise`` build the common ones.
- **replace, newest wins** (``replace=True``): a delta carries the
  COMPLETE new rows of every key it holds. The pass tags each row with
  its version (base −1, delta ``d{v}`` → v), keeps per key the rows of
  the newest version holding it (one ``max(_v)`` window over the key),
  then drops clear markers — rows whose ``clear_if_null`` column is
  NULL, which a delta writes for a key whose state became empty.

The compaction coverage rule is load-bearing: because a snapshot
always folds in EVERY bucket that has any pending delta, a delta
version is either newer than the newest base snapshot (fold it for
all its buckets) or fully shadowed by one (skip it for all of them) —
``read`` can use one global version cutoff instead of per-bucket
delta resolution. Crash/replay semantics are unchanged: delta dirs
are immutable and ``_SUCCESS``-gated, an incomplete ``d{batch}`` is
invisible to the census and rewritten by the replay, and a replayed
batch reading ``before_batch`` folds exactly the pre-batch versions.

Store manifest: the first append-protocol commit writes
``{path}/_store.json`` — merge kind, ``key_cols``, ``num_buckets`` and
the kind's parameters (e.g. the kmv ``k``). Every ``read`` and
``merge_batch`` compares it with the opening store's configuration and
raises on a mismatch, so a reader built with the wrong ``k`` or bucket
count fails instead of silently folding differently from the writer.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from healthcare_api_spark.streaming.rollup import _fs_and_path

_BUCKET_SEED = 42
_MANIFEST = "_store.json"


def _path_int(pattern: str):
    """The integer ``pattern`` captures from each row's file path."""
    return F.regexp_extract(F.col("_metadata.file_path"), pattern, 1).cast(
        "long"
    )


def sum_merge(key_cols: list[str], col: str):
    """Associative reduce: per-key BIGINT sum of ``col`` (transition
    and token counts; ± deltas retract)."""

    def _merge(prev, d):
        if prev is None:
            return d.select(*key_cols, F.col(col).cast("bigint").alias(col))
        return (
            prev.unionByName(d)
            .groupBy(*key_cols)
            .agg(F.sum(col).cast("bigint").alias(col))
        )

    return _merge


def last_merge(*payload: str):
    """Associative reduce: per key, the greatest ``struct(*payload)``
    (a key's last event by (time, tiebreak)). Keys are every other
    column, introspected from the frame."""

    def _merge(prev, d):
        if prev is None:
            return d
        keys = [c for c in d.columns if c not in payload]
        return (
            prev.unionByName(d)
            .groupBy(*keys)
            .agg(F.max(F.struct(*payload)).alias("_m"))
            .select(*keys, *[F.col(f"_m.{c}").alias(c) for c in payload])
        )

    return _merge


def pairwise(merge, *args):
    """Associative reduce from a two-sketch merge ``merge(a, b, *args)``
    (``cms_merge``, ``kmv_merge``, ``hll_merge``, ``bloom_merge``); the
    first fold keeps the delta as it is."""

    def _merge(prev, d):
        return d if prev is None else merge(prev, d, *args)

    return _merge


class BucketedVersionedState:
    """Keyed micro-batch state partitioned into hash buckets and
    persisted as immutable per-batch versioned snapshots."""

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        num_buckets: int = 16,
        keep_versions: int = 2,
        merge_fn=None,
        compact_every: int = 8,
        replace: bool = False,
        clear_if_null: str | None = None,
        params: dict | None = None,
    ) -> None:
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        if compact_every < 1:
            raise ValueError("compact_every must be >= 1")
        if merge_fn is not None and replace:
            raise ValueError("a store is either merge_fn (reduce) or replace")
        if clear_if_null is not None and not replace:
            raise ValueError("clear_if_null needs replace=True")
        self.path = path
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.keep_versions = keep_versions
        # a declared merge kind → append + compact protocol (see the
        # module docstring); the writer and every reader of this path
        # must declare the same kind — the manifest enforces it
        self.merge_fn = merge_fn
        self.replace = replace
        self.clear_if_null = clear_if_null
        self.params = dict(params or {})
        self.compact_every = compact_every

    @property
    def _append(self) -> bool:
        return self.merge_fn is not None or self.replace

    # -- bucket assignment (deterministic across sessions: xxhash64
    # with a fixed seed, the same family the batch stores use) --------
    def bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols], F.lit(_BUCKET_SEED)),
            F.lit(self.num_buckets),
        ).cast("int")

    # -- directory census (driver-side NAMES only, never data) --------
    def _census(
        self, spark: SparkSession
    ) -> tuple[dict[int, list[int]], dict[int, list[int]]]:
        """(base snapshots: bucket -> ascending batch_ids of complete
        ``v{id}`` versions containing it, deltas: batch_id -> sorted
        buckets present in the complete ``d{id}`` directory)."""
        fs, root, jvm = _fs_and_path(spark, self.path)
        bases: dict[int, list[int]] = {}
        deltas: dict[int, list[int]] = {}
        if not fs.exists(root):
            return bases, deltas
        for vstat in fs.listStatus(root):
            name = vstat.getPath().getName()
            kind = name[0]
            if kind not in ("v", "d"):
                continue
            try:
                vid = int(name[1:])
            except ValueError:
                continue
            if not fs.exists(
                jvm.org.apache.hadoop.fs.Path(vstat.getPath(), "_SUCCESS")
            ):
                continue
            bs = [
                int(bstat.getPath().getName()[4:])
                for bstat in fs.listStatus(vstat.getPath())
                if bstat.getPath().getName().startswith("_pt=")
            ]
            if kind == "v":
                for b in bs:
                    bases.setdefault(b, []).append(vid)
            else:
                deltas[vid] = sorted(bs)
        for versions in bases.values():
            versions.sort()
        return bases, deltas

    def complete_versions(self, spark: SparkSession) -> list[int]:
        bases, deltas = self._census(spark)
        out = {v for vs in bases.values() for v in vs}
        out.update(deltas)
        return sorted(out)

    # -- the store manifest -------------------------------------------
    def _manifest(self) -> dict:
        return {
            "kind": "replace" if self.replace else "reduce",
            "clear_if_null": self.clear_if_null,
            "key_cols": self.key_cols,
            "num_buckets": self.num_buckets,
            "params": self.params,
        }

    def _sync_manifest(self, spark: SparkSession, create: bool) -> None:
        """Raise when ``_store.json`` disagrees with this store's
        configuration; with ``create`` (a commit), write it when it
        does not exist yet."""
        fs, _, jvm = _fs_and_path(spark, self.path)
        mpath = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{_MANIFEST}")
        mine = self._manifest()
        if not fs.exists(mpath):
            if create:
                out = fs.create(mpath, True)
                try:
                    out.write(bytearray(json.dumps(mine).encode()))
                finally:
                    out.close()
            return
        stream = fs.open(mpath)
        try:
            theirs = json.loads(bytes(stream.readAllBytes()).decode())
        finally:
            stream.close()
        diff = [k for k in mine if mine[k] != theirs.get(k)]
        if diff:
            raise ValueError(
                f"state store {self.path} was written with "
                + ", ".join(f"{k}={theirs.get(k)!r}" for k in diff)
                + "; opened with "
                + ", ".join(f"{k}={mine[k]!r}" for k in diff)
            )

    # -- reads --------------------------------------------------------
    def _base_paths(
        self,
        bases: dict[int, list[int]],
        before_batch: int | None,
        buckets: set[int] | None,
    ) -> list[str]:
        paths = []
        for b, versions in bases.items():
            if buckets is not None and b not in buckets:
                continue
            eligible = [
                v
                for v in versions
                if before_batch is None or v < before_batch
            ]
            if eligible:
                paths.append(f"{self.path}/v{eligible[-1]}/_pt={b}")
        return sorted(paths)

    def _read_base(self, spark: SparkSession, paths: list[str]):
        # every snapshot carries ``_tomb`` (the emptied-bucket markers
        # ``_write_snapshot`` adds); deltas never do
        if not paths:
            return None
        df = spark.read.parquet(*paths)
        return df.filter(~F.col("_tomb")).drop("_tomb")

    @staticmethod
    def _pending(
        bases: dict[int, list[int]],
        deltas: dict[int, list[int]],
        before_batch: int | None,
    ) -> list[int]:
        """Complete deltas newer than the newest eligible base ANYWHERE
        (older ones are fully shadowed for every bucket by the
        coverage invariant), ascending."""
        base_max = max(
            (
                v
                for vs in bases.values()
                for v in vs
                if before_batch is None or v < before_batch
            ),
            default=-1,
        )
        return sorted(
            v
            for v in deltas
            if v > base_max and (before_batch is None or v < before_batch)
        )

    def _fold(
        self,
        spark: SparkSession,
        base: DataFrame | None,
        versions: list[int],
        buckets: set[int] | None,
        batch: tuple[int, DataFrame] | None = None,
    ) -> DataFrame | None:
        """ONE reduce over the base, the pending delta ``versions``
        (restricted to ``buckets``) and, for a compaction commit, the
        batch's own ``(batch_id, delta)``."""
        if not versions and batch is None:
            return base

        def scan(vs, schema=None):
            # one scan over the version ROOTS: a path per bucket dir
            # would pass Spark's 32-path threshold and list them in a
            # distributed job; the bucket restriction filters on the
            # file path instead, which prunes files at planning time
            reader = spark.read if schema is None else spark.read.schema(schema)
            df = reader.option("recursiveFileLookup", "true").parquet(
                *[f"{self.path}/d{v}" for v in vs]
            )
            if buckets is None:
                return df
            return df.filter(_path_int(r"/_pt=(\d+)/").isin(*buckets))

        if self.replace:
            parts = [] if base is None else [base.withColumn("_v", F.lit(-1))]
            if versions:
                vtag = _path_int(r"/d(\d+)/_pt=")
                parts.append(scan(versions).withColumn("_v", vtag))
            if batch is not None:
                parts.append(batch[1].withColumn("_v", F.lit(batch[0])))
            u = reduce(DataFrame.unionByName, parts)
            if (base is not None) + len(versions) + (batch is not None) > 1:
                newest = F.max("_v").over(Window.partitionBy(*self.key_cols))
                u = u.withColumn("_vmax", newest).filter(
                    F.col("_v") == F.col("_vmax")
                ).drop("_vmax")
            u = u.drop("_v")
            if self.clear_if_null is not None:
                u = u.filter(F.col(self.clear_if_null).isNotNull())
            return u
        schema = None
        if base is None and versions:
            first = scan(versions[:1])
            base = self.merge_fn(None, first)
            # every delta is the same writer's frame: skip re-inferring
            # the schema (a footer-reading job) for the rest
            schema, versions = first.schema, versions[1:]
        rest = [scan(versions, schema)] if versions else []
        if batch is not None:
            rest.append(batch[1])
        if not rest:
            return base
        return self.merge_fn(base, reduce(DataFrame.unionByName, rest))

    def read(
        self,
        spark: SparkSession,
        before_batch: int | None = None,
        buckets: set[int] | None = None,
    ) -> DataFrame | None:
        """Current state (or the state as of strictly-before
        ``before_batch``, optionally restricted to ``buckets``).
        Returns None when no complete state exists — the first-batch
        signal. Tombstone rows (the emptied-bucket markers written by
        compacting ``merge_batch`` commits) are filtered out here, so
        callers only ever see live state rows.

        With a declared merge kind (append protocol) the result is ONE
        reduce over the newest base snapshots and every newer complete
        delta — ``merge_fn(base, ⋃ deltas)`` for the associative kind,
        newest-version-per-key minus clear markers for the replace
        kind (module docstring) — so the read plan holds one aggregate
        exchange whatever the fold depth, and runs lazily inside the
        consumer's own jobs. The one global cutoff (deltas newer than
        the newest base anywhere) is exact because compaction always
        covers every pending-delta bucket. Raises when the store's
        manifest disagrees with this store's configuration."""
        bases, deltas = self._census(spark)
        base = self._read_base(
            spark, self._base_paths(bases, before_batch, buckets)
        )
        if not self._append:
            return base
        self._sync_manifest(spark, create=False)
        pending = self._pending(bases, deltas, before_batch)
        return self._fold(spark, base, [
            v for v in pending  # an empty delta has no files to scan
            if deltas[v] and (buckets is None or not buckets.isdisjoint(deltas[v]))
        ], buckets)

    # -- the per-batch merge ------------------------------------------
    def touched_buckets(self, delta: DataFrame) -> set[int]:
        """Distinct bucket ids of the delta's keys — a bounded fetch
        (≤ num_buckets values), the store's only collect."""
        return {
            r[0]
            for r in delta.select(self.bucket_expr().alias("_pt"))
            .distinct()
            .collect()
        }

    def is_batch_complete(self, spark: SparkSession, batch_id: int) -> bool:
        fs, _, jvm = _fs_and_path(spark, self.path)
        hpath = jvm.org.apache.hadoop.fs.Path
        return fs.exists(
            hpath(f"{self.path}/v{batch_id}/_SUCCESS")
        ) or fs.exists(hpath(f"{self.path}/d{batch_id}/_SUCCESS"))

    def merge_batch(
        self,
        delta: DataFrame,
        batch_id: int,
        merge_fn=None,
        touched: set[int] | None = None,
        materialize: bool = True,
    ) -> None:
        """Fold ``delta`` into the state. Idempotent: a complete
        ``v{batch_id}`` (or ``d{batch_id}``) short-circuits.

        Legacy protocol (no declared merge kind): read the touched
        buckets' pre-batch state, ``merge_fn(prev_or_None, delta) ->
        DataFrame`` (full post-merge state for those buckets), write
        them as version ``v{batch_id}``, prune shadowed versions.

        Append protocol (a declared merge kind):
        write the RAW delta as bucketed ``d{batch_id}`` — one job, no
        pre-state read, commit I/O ∝ |delta|; ``read`` folds. Every
        ``compact_every`` pending deltas the commit compacts instead:
        a full ``v{batch_id}`` snapshot over the touched buckets plus
        every pending-delta bucket (the coverage invariant ``read``'s
        global cutoff relies on)."""
        spark = delta.sparkSession
        if self._append:
            self._sync_manifest(spark, create=True)
        if self.is_batch_complete(spark, batch_id):
            return
        if self._append:
            self._merge_batch_append(
                delta, batch_id, touched, materialize
            )
            return
        if merge_fn is None:
            raise TypeError(
                "merge_batch needs a merge_fn (argument or constructor)"
            )
        if touched is None:
            # lazy checkpoint: the touched-bucket collect below is
            # the first action, so ONE job materializes the delta AND
            # fetches its bucket ids, and the version write re-reads the
            # blocks instead of re-running the delta plan. Callers whose
            # delta is a cheap projection of a checkpointed frame opt out
            # (``materialize=False``: st16 measured 42→46 jobs without).
            if materialize:
                delta = delta.localCheckpoint(eager=False)
            touched = self.touched_buckets(delta)
        if not touched:
            return
        prev = self.read(spark, before_batch=batch_id, buckets=touched)
        self._write_snapshot(spark, merge_fn(prev, delta), touched, batch_id)
        self._prune(spark, batch_id)

    def _write_snapshot(
        self,
        spark: SparkSession,
        merged: DataFrame,
        cover: set[int],
        batch_id: int,
    ) -> None:
        """Write ``merged`` as the full ``v{batch_id}`` snapshot of the
        ``cover`` buckets (tombstones guarantee every covered bucket
        materializes even when its post-merge state is empty)."""
        out = merged.withColumn("_pt", self.bucket_expr()).withColumn(
            "_tomb", F.lit(False)
        )
        # Emptied-bucket representation (ADVICE r9): a touched bucket
        # whose post-merge state is EMPTY writes no ``_pt=`` directory
        # under partitionBy, so the census would keep resolving it to
        # the older version and its stale rows would resurface. One
        # tombstone row per touched bucket guarantees every touched
        # bucket materializes in this version; tombstones ride the same
        # atomic parquet commit as the data (crash-safe — no separate
        # manifest file to lose between _SUCCESS and a sidecar write)
        # and are filtered out by ``read``.
        null_cols = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in out.schema.fields
            if f.name not in ("_pt", "_tomb")
        ]
        tombs = (
            spark.createDataFrame(
                [(int(b),) for b in sorted(cover)], "_pt int"
            )
            .withColumn("_tomb", F.lit(True))
            .select(*null_cols, "_pt", "_tomb")
        )
        (
            # ONE file per touched bucket per version (r12 audit): the
            # state bytes are tiny next to the batch plan, so commit
            # cost is FILE-COUNT overhead — without this repartition
            # every upstream task holding a bucket's rows writes its
            # own fragment (32 files for 0.09 MB measured at sf0.1).
            # Hashing on _pt makes each bucket exactly one task's
            # output; buckets stay the parallelism unit at scale.
            out.unionByName(tombs)
            .repartition(F.col("_pt"))
            .write.partitionBy("_pt")
            .mode("overwrite")
            .parquet(f"{self.path}/v{batch_id}")
        )

    def _merge_batch_append(
        self,
        delta: DataFrame,
        batch_id: int,
        touched: set[int] | None,
        materialize: bool,
    ) -> None:
        """The append-protocol commit: write the raw delta as
        ``d{batch_id}``, or — once ``compact_every`` deltas are pending
        — fold everything into a full ``v{batch_id}`` snapshot."""
        spark = delta.sparkSession
        bases, deltas = self._census(spark)
        pending = self._pending(bases, deltas, batch_id)
        if len(pending) < self.compact_every:
            if touched is not None and not touched:
                return
            (
                delta.withColumn("_pt", self.bucket_expr())
                .repartition(F.col("_pt"))
                .write.partitionBy("_pt")
                .mode("overwrite")
                .parquet(f"{self.path}/d{batch_id}")
            )
            self._prune(spark, batch_id)
            return
        # compaction commit. Coverage MUST include every pending-delta
        # bucket, not just the batch's touched buckets — read()'s
        # global delta cutoff is only correct because a snapshot never
        # leaves a pending delta partially shadowed.
        if touched is None:
            if materialize:
                delta = delta.localCheckpoint(eager=False)
            touched = self.touched_buckets(delta)
        cover = set(touched)
        for v in pending:
            cover.update(deltas[v])
        if not cover:
            return
        base = self._read_base(
            spark, self._base_paths(bases, batch_id, cover)
        )
        # the pending deltas hold no bucket outside ``cover``
        merged = self._fold(
            spark, base, [v for v in pending if deltas[v]], None,
            (batch_id, delta),
        )
        self._write_snapshot(spark, merged, cover, batch_id)
        self._prune(spark, batch_id)

    def _prune(self, spark: SparkSession, batch_id: int) -> None:
        """Delete complete versions older than ``batch_id`` that are
        fully shadowed, with a ``keep_versions`` replay margin:

        - a base snapshot, when every bucket in it has ``keep_versions``
          newer complete BASE copies (per-bucket retention — no
          bucket's only or replay-needed copy is ever removed);
        - a delta, when ``keep_versions`` newer complete base snapshots
          exist (any base newer than a delta shadows it for every one
          of its buckets, by the compaction coverage invariant).
        """
        bases, deltas = self._census(spark)
        base_versions = sorted({v for vs in bases.values() for v in vs})
        fs, _, jvm = _fs_and_path(spark, self.path)
        for v in base_versions:
            if v >= batch_id:
                continue
            if all(
                sum(1 for x in vs if x > v) >= self.keep_versions
                for vs in bases.values()
                if v in vs
            ):
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{self.path}/v{v}"), True
                )
        for v in sorted(deltas):
            if v >= batch_id:
                continue
            if (
                sum(1 for s in base_versions if s > v)
                >= self.keep_versions
            ):
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{self.path}/d{v}"), True
                )
