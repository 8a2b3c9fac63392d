"""The resource store (SURVEY.md §2.1 S6-S8).

Replaces the reference's GCS-upload + Google-FHIR-store-import path
(upload.sh:23, README.md:77-90) with a Parquet lakehouse: one snapshot
history per resource type. Layout::

    root/resourceType=T/v=K/bucket=NN/part-*.parquet   rows written by snapshot K
    root/resourceType=T/_manifests/K.json             snapshot K's manifest

- Ids hash (md5 — reproducible across Spark versions and engines) into
  ``num_buckets`` buckets. The default of one bucket is the plain
  type-partitioned store: a query for one type scans its directories
  only.
- ``import_resources`` (S7) starts a type's history at ``v=1``.
  ``upsert`` (S8, ``--enable-update-create``, README.md:29: merge by id,
  last write wins) and the copy-on-write ``delete`` rewrite only the
  buckets their ids hash into, into a new ``v=K+1``; ``compact``
  rewrites every bucket. No file of an older snapshot is modified, so
  ``table(T, as_of=K)`` reads any retained snapshot exactly, and a lazy
  frame over the store stays valid while a commit writes the next
  version. ``expire`` is the vacuum.
- Snapshot K's manifest maps every non-empty bucket to the version
  directory holding its rows and records the layout contract
  (``num_buckets``, the id column) and the row schema. It is read and
  written on the driver (``healthcare_api_spark.manifest``), so
  ``table`` builds with no Spark job: the scan is the listed bucket
  directories under the recorded schema, with no footer inference. An
  operation whose ``num_buckets`` or id column differs from the
  manifest's raises ``ValueError``.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from healthcare_api_spark.manifest import (
    check_contract,
    filesystem,
    glob_paths,
    read_json,
    write_json,
)

# a version directory's bucket directories and a type's manifests, matched
# against the ``{a,b}`` string of a glob listing
_BUCKET_DIR = re.compile(r"/bucket=(\d+)(?=,|\}$)")
_MANIFEST_FILE = re.compile(r"/(\d+)\.json(?=,|\}$)")
_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _nullable(t):
    """A schema's JSON with every field, element and value nullable —
    the schema Parquet footers give back for any written frame."""
    if isinstance(t, dict):
        return {k: True if k in _NULLABLE_KEYS else _nullable(v) for k, v in t.items()}
    if isinstance(t, list):
        return [_nullable(x) for x in t]
    return t


class ResourceStore:
    """A Parquet-backed, type-partitioned, snapshot-versioned FHIR
    resource store (module docstring)."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 1):
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets

    def _type_path(self, resource_type: str) -> str:
        return f"{self.root}/resourceType={resource_type}"

    def _version_path(self, resource_type: str, version: int) -> str:
        return f"{self._type_path(resource_type)}/v={version}"

    def _manifest_path(self, resource_type: str, version) -> str:
        return f"{self._type_path(resource_type)}/_manifests/{version}.json"

    def _bucket_expr(self, id_col: str):
        # 15 hex chars of the md5 fit in a long
        digest = F.md5(F.col(id_col).cast("string"))
        return F.pmod(
            F.conv(F.substring(digest, 1, 15), 16, 10).cast("long"),
            F.lit(self.num_buckets),
        ).cast("int")

    def versions(self, resource_type: str) -> list[int]:
        """The type's retained snapshot versions, ascending."""
        fs, hpath_cls = filesystem(self.spark, self.root)
        listing = glob_paths(self.spark, fs, hpath_cls, self._manifest_path(resource_type, "*"))
        return sorted(int(v) for v in _MANIFEST_FILE.findall(listing))

    def _snapshot(self, resource_type: str, as_of: int | None = None,
                  id_col: str | None = None) -> dict:
        """The manifest of snapshot ``as_of`` (default: the newest),
        checked against this store's ``num_buckets`` and, for a write,
        its ``id_col``."""
        have = self.versions(resource_type)
        if not have:
            raise ValueError(f"no snapshots for {resource_type!r}")
        version = have[-1] if as_of is None else as_of
        if version not in have:
            raise ValueError(
                f"snapshot v={version} of {resource_type!r} does not exist (have {have})"
            )
        doc = read_json(self.spark, self._manifest_path(resource_type, version))
        mine = {"num_buckets": self.num_buckets}
        if id_col is not None:
            mine["id_col"] = id_col
        check_contract(f"resource store {self._type_path(resource_type)}", doc, mine)
        return doc

    def _scan(self, resource_type: str, doc: dict, buckets=None) -> DataFrame:
        """The rows of snapshot ``doc``, of ``buckets`` only when given:
        its listed bucket directories read with its recorded schema."""
        schema = StructType.fromJson(doc["schema"])
        paths = [
            f"{self._version_path(resource_type, v)}/bucket={b}"
            for b, v in enumerate(doc["buckets"])
            if v is not None and (buckets is None or b in buckets)
        ]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def _touched(self, ids: DataFrame, id_col: str) -> list[int]:
        """The buckets ``ids`` hash into: one bounded collect (at most
        ``num_buckets`` values), none when there is one bucket."""
        if self.num_buckets == 1:
            return [0]
        return [r[0] for r in ids.select(self._bucket_expr(id_col)).distinct().collect()]

    def _commit(self, resource_type: str, rows: DataFrame, id_col: str, touched,
                doc: dict | None = None, options: dict | None = None) -> None:
        """Write ``rows`` as the next version of the ``touched`` buckets
        after snapshot ``doc`` (none: ``v=1``), then publish its
        manifest. The directory is written even when empty (an empty
        one-bucket version is an empty, still readable ``bucket=0``),
        and the manifest last, so a failed write publishes nothing and
        the retry overwrites it."""
        version = 1 if doc is None else doc["version"] + 1
        path = self._version_path(resource_type, version)
        options = options or {}
        if self.num_buckets == 1:
            # the one bucket's directory is the output: no hash column,
            # and no partitioned writer with its per-row sort
            rows.write.mode("overwrite").options(**options).parquet(f"{path}/bucket=0")
            written = {0}
        else:
            (
                rows.withColumn("bucket", self._bucket_expr(id_col))
                .write.mode("overwrite")
                .options(**options)
                .partitionBy("bucket")
                .parquet(path)
            )
            fs, hpath_cls = filesystem(self.spark, path)
            listing = glob_paths(self.spark, fs, hpath_cls, f"{path}/bucket=*")
            written = {int(b) for b in _BUCKET_DIR.findall(listing)}
        buckets = [None] * self.num_buckets if doc is None else doc["buckets"]
        for b in touched:
            buckets[b] = version if b in written else None
        write_json(self.spark, self._manifest_path(resource_type, version), {
            "version": version,
            "num_buckets": self.num_buckets,
            "id_col": id_col,
            "schema": _nullable(json.loads(rows._jdf.schema().json())),
            "buckets": buckets,
        })

    def import_resources(self, df: DataFrame, resource_type: str, id_col: str = "id",
                         bloom_cols: list[str] | None = None) -> None:
        """S7: bulk import one resource type as snapshot ``v=1`` of a new
        history; the type's earlier history is removed, other types are
        untouched. ``bloom_cols`` writes parquet bloom filters for those
        columns so id point-lookups skip row groups
        (layout.bloom_filter_options)."""
        fs, hpath_cls = filesystem(self.spark, self.root)
        fs.delete(hpath_cls(self._type_path(resource_type)), True)
        options = None
        if bloom_cols:
            from healthcare_api_spark.operators.layout import bloom_filter_options

            options = bloom_filter_options(bloom_cols)
        self._commit(resource_type, df, id_col, range(self.num_buckets), options=options)

    def table(self, resource_type: str, as_of: int | None = None,
              buckets: list[int] | None = None) -> DataFrame:
        """Snapshot read (§2.7 'type scan'): the newest snapshot, or
        ``as_of``'s. ``buckets`` restricts it to those hash buckets
        before the scan — only their directories are listed and read,
        which bounds the IO of ``upsert`` and ``delete`` to the buckets
        they touch. Builds with no Spark job."""
        return self._scan(resource_type, self._snapshot(resource_type, as_of), buckets)

    def upsert(self, updates: DataFrame, resource_type: str, id_col: str = "id",
               version_col: str | None = None) -> None:
        """S8 update-create semantics: merge by id, last write wins —
        the highest ``version_col``, else the update (``upsert_frames``).
        The merged rows of the touched buckets become the next snapshot;
        the first upsert of a type imports it."""
        if not self.versions(resource_type):
            self.import_resources(updates, resource_type, id_col=id_col)
            return
        doc = self._snapshot(resource_type, id_col=id_col)
        touched = self._touched(updates, id_col)
        existing = self._scan(resource_type, doc, touched)
        merged = upsert_frames(existing, updates, id_col, version_col)
        self._commit(resource_type, merged, id_col, touched, doc)

    def delete(self, ids: DataFrame, resource_type: str, id_col: str = "id") -> None:
        """Copy-on-write delete by id: the touched buckets are rewritten
        without the deleted rows into the next snapshot, and the
        previous snapshot still serves them. Deleting an absent id
        changes no row; a later ``upsert`` of a deleted id creates it
        again."""
        doc = self._snapshot(resource_type, id_col=id_col)
        doomed = ids.select(id_col).distinct()
        touched = self._touched(doomed, id_col)
        kept = self._scan(resource_type, doc, touched).join(doomed, id_col, "left_anti")
        self._commit(resource_type, kept, id_col, touched, doc)

    def compact(self, resource_type: str, target_files: int = 1,
                zorder: tuple[str, str] | None = None) -> None:
        """Small-file compaction: rewrite every bucket into the next
        snapshot. Incremental upserts fragment the layout (every merge
        emits one file per shuffle task); the repartition keys rows by
        their bucket, so each write task emits whole buckets and the
        file count drops to about one a bucket while the id-hash layout
        (and so bounded upsert IO) is kept — OPTIMIZE in Delta/Iceberg.

        ``zorder=(col_a, col_b)`` also clusters each bucket by the
        rank-normalized Morton key of the two columns
        (``layout.zorder_by_ranked``), as ``OPTIMIZE ... ZORDER BY``
        does: row groups then carry tight min/max on both columns and
        scans prune on either.
        """
        doc = self._snapshot(resource_type)
        rows = self._scan(resource_type, doc)
        bucket = self._bucket_expr(doc["id_col"])
        if zorder is not None:
            from healthcare_api_spark.operators.layout import zorder_by_ranked

            # attach zkey FIRST: zorder_by_ranked's rank-normalize join
            # re-shuffles when the distinct-rank frame is not broadcast
            # sized, which would destroy a prior repartition-by-bucket
            # and fragment each bucket across O(write-tasks) files
            rows = zorder_by_ranked(rows, *zorder)
        rows = rows.repartition(self.num_buckets * target_files, bucket)
        if zorder is not None:
            # the partitioned writer needs its rows ordered by bucket,
            # which this order already is, so rows inside each bucket
            # file stay z-clustered
            rows = rows.sortWithinPartitions(bucket, "zkey").drop("zkey")
        self._commit(resource_type, rows, doc["id_col"], range(self.num_buckets), doc)

    def expire(self, resource_type: str, keep_last: int = 1) -> list[int]:
        """Vacuum: drop the manifests older than the last ``keep_last``
        snapshots and the version directories no retained manifest
        references. Returns the removed directory versions."""
        if keep_last < 1:
            raise ValueError("keep_last must be ≥ 1")
        have = self.versions(resource_type)
        keep = have[-keep_last:]
        referenced = {
            v for k in keep for v in self._snapshot(resource_type, k)["buckets"]
        }
        fs, hpath_cls = filesystem(self.spark, self.root)
        for v in have:
            if v not in keep:
                fs.delete(hpath_cls(self._manifest_path(resource_type, v)), False)
        return [
            v
            for v in have
            if v not in referenced
            and fs.delete(hpath_cls(self._version_path(resource_type, v)), True)
        ]

    def counts_by_type(self, types: list[str]) -> DataFrame:
        """A4: per-type counts across the store catalog."""
        frames = [
            self.table(t).agg(F.count(F.lit(1)).alias("cnt")).select(F.lit(t).alias("resourceType"), "cnt")
            for t in types
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out


def import_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Co-location sink: hash-bucketed (and optionally sorted) managed
    table. Two tables bucketed identically on their join key join with
    NO shuffle on either side — at 100 TB this turns the repeated
    fact⋈fact join from a full exchange into a local zip per bucket.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def upsert_frames(existing: DataFrame, updates: DataFrame, id_col: str = "id",
                  version_col: str | None = None) -> DataFrame:
    """Pure merge: union + keep one row per id.

    Priority: updates beat existing; among duplicates, higher
    ``version_col`` wins, deterministic. One shuffle on the id.
    """
    e = existing.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    merged = e.unionByName(u, allowMissingColumns=True)
    order = [F.col("_src").desc()]
    if version_col is not None:
        order = [F.col(version_col).desc(), F.col("_src").desc()]
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "id",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC between two table snapshots: one row per changed id with
    ``change ∈ {insert, delete, update}`` — the feed a downstream
    incremental consumer (index refresh, cache invalidation, reverse
    ETL) reads instead of re-scanning the table.

    One full-outer join on the id; ``update`` detection compares
    ``compare_cols`` (default: all shared non-id columns) null-safely
    via a struct equality, so NULL→value and value→NULL both register.
    Unchanged rows are filtered out, so output is proportional to the
    churn, not the table. At lake scale run it per id-hash bucket
    (``ResourceStore.table(T, as_of=K, buckets=...)`` of two snapshots)
    so both sides co-partition and the join never shuffles the full
    snapshots.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c != id_col and c in set(old.columns)
        ]
    o = old.select(
        F.col(id_col).alias("_oid"),
        F.struct(*[F.col(c) for c in compare_cols]).alias("_ov"),
    )
    n = new.select(
        F.col(id_col).alias("_nid"),
        F.struct(*[F.col(c) for c in compare_cols]).alias("_nv"),
    )
    j = o.join(n, F.col("_oid") == F.col("_nid"), "full_outer")
    change = (
        F.when(F.col("_oid").isNull(), F.lit("insert"))
        .when(F.col("_nid").isNull(), F.lit("delete"))
        .when(~F.col("_ov").eqNullSafe(F.col("_nv")), F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            F.coalesce(F.col("_nid"), F.col("_oid")).alias(id_col),
            "change",
        )
    )
