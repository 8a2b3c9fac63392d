"""The store's type-partitioned layout must actually prune: a one-type
query reads one partition directory, never the whole store. With several
buckets, upsert and delete IO is bounded to the touched bucket
directories, every snapshot stays readable, and the manifest enforces
the layout contract and carries the schema."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from healthcare_api_spark.sources.store import ResourceStore


def _bucket_files(version_path: str) -> dict[str, set[tuple[str, int]]]:
    """{bucket_dir: {(file_name, size)}} snapshot of the physical layout."""
    out = {}
    for d in os.listdir(version_path):
        if not d.startswith("bucket="):
            continue
        full = os.path.join(version_path, d)
        out[d] = {
            (f, os.path.getsize(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_type_scan_reads_single_partition(spark, tmp_path):
    store = ResourceStore(spark, str(tmp_path / "store"))
    store.import_resources(
        spark.createDataFrame([(f"p{i}",) for i in range(100)], ["id"]), "Patient"
    )
    store.import_resources(
        spark.createDataFrame([(f"o{i}",) for i in range(1000)], ["id"]), "Observation"
    )
    df = store.table("Patient")
    files = df.inputFiles()
    assert files and all("resourceType=Patient" in f for f in files)
    assert not any("resourceType=Observation" in f for f in files)
    assert df.count() == 100


def test_bucketed_upsert_semantics_match_plain_store(spark, tmp_path):
    # the same last-write-wins merge (S8) at eight buckets and at one
    tables = []
    for nb in (8, 1):
        store = ResourceStore(spark, str(tmp_path / f"bs{nb}"), num_buckets=nb)
        store.import_resources(
            spark.createDataFrame([(f"p{i}", 1, f"v{i}") for i in range(50)],
                                  ["id", "version", "payload"]), "Patient"
        )
        store.upsert(
            spark.createDataFrame([("p3", 2, "updated"), ("p999", 1, "created")],
                                  ["id", "version", "payload"]),
            "Patient", version_col="version",
        )
        rows = {r["id"]: r for r in store.table("Patient").collect()}
        assert len(rows) == 51
        assert rows["p3"]["payload"] == "updated" and rows["p999"]["payload"] == "created"
        # stale update loses to a higher existing version
        store.upsert(
            spark.createDataFrame([("p3", 1, "stale")], ["id", "version", "payload"]),
            "Patient", version_col="version",
        )
        assert {r["payload"] for r in store.table("Patient").filter(F.col("id") == "p3").collect()} \
            == {"updated"}
        tables.append(sorted(tuple(r) for r in store.table("Patient").collect()))
    assert tables[0] == tables[1]


def test_bucketed_upsert_touches_bounded_file_set(spark, tmp_path):
    # VERDICT r1 #6: an upsert must rewrite ONLY the buckets its update
    # batch hashes into — the new version holds the touched bucket only,
    # and the previous version's files stay bit-identical.
    store = ResourceStore(spark, str(tmp_path / "bs2"), num_buckets=8)
    store.import_resources(
        spark.createDataFrame([(f"p{i}", f"v{i}") for i in range(200)], ["id", "payload"]),
        "Patient",
    )
    before = _bucket_files(store._version_path("Patient", 1))
    assert len(before) == 8  # 200 spread ids populate every bucket

    updates = spark.createDataFrame([("p7", "new")], ["id", "payload"])
    store.upsert(updates, "Patient")
    touched = {f"bucket={r[0]}" for r in
               updates.select(store._bucket_expr("id")).distinct().collect()}
    assert len(touched) == 1
    assert set(_bucket_files(store._version_path("Patient", 2))) == touched
    assert _bucket_files(store._version_path("Patient", 1)) == before
    # the snapshot reads the touched bucket from v=2, the others from v=1
    live = store.table("Patient").inputFiles()
    assert {f.split("/v=")[1].split("/")[0] for f in live} == {"1", "2"}
    assert all("/v=2/" in f for f in live if any(f"/{d}/" in f for d in touched))
    assert store.table("Patient").count() == 200
    assert {r["payload"] for r in
            store.table("Patient").filter(F.col("id") == "p7").collect()} == {"new"}


def test_compact_bounds_file_count_and_preserves_data(spark, tmp_path):
    root = str(tmp_path / "bstore")
    store = ResourceStore(spark, root, num_buckets=4)
    store.import_resources(
        spark.createDataFrame([(f"p{i}", 0) for i in range(40)], ["id", "v"]), "Patient"
    )
    # several incremental upserts fragment the bucket directories (AQE
    # coalescing is disabled so the merge keeps its multi-task shuffle —
    # at test scale AQE would collapse everything onto one writer task
    # and mask the fragmentation compaction exists to fix)
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        for v in range(1, 4):
            store.upsert(
                spark.createDataFrame(
                    [(f"p{i}", v) for i in range(0, 40, 3)], ["id", "v"]
                ),
                "Patient",
                version_col="v",
            )
    finally:
        spark.conf.set(coalesce_key, old)
    before = len(store.table("Patient").inputFiles())
    assert before > 4  # fragmented: more live files than buckets
    expect = {r["id"]: r["v"] for r in store.table("Patient").collect()}

    store.compact("Patient")
    after_layout = _bucket_files(store._version_path("Patient", store.versions("Patient")[-1]))
    after = len(store.table("Patient").inputFiles())
    assert after == sum(len(fs) for fs in after_layout.values())  # all in the new version
    assert after <= len(after_layout)  # ~one file per bucket dir
    assert after < before
    got = {r["id"]: r["v"] for r in store.table("Patient").collect()}
    assert got == expect


def test_plain_store_compact(spark, tmp_path):
    store = ResourceStore(spark, str(tmp_path / "pstore"))
    df = spark.createDataFrame([(f"p{i}", i) for i in range(50)], ["id", "v"])
    store.import_resources(df.repartition(8), "Patient")
    assert len(store.table("Patient").inputFiles()) > 1
    expect = {r["id"]: r["v"] for r in store.table("Patient").collect()}
    store.compact("Patient")
    assert len(store.table("Patient").inputFiles()) == 1
    assert {r["id"]: r["v"] for r in store.table("Patient").collect()} == expect


def test_bucketed_first_upsert_creates_table(spark, tmp_path):
    store = ResourceStore(spark, str(tmp_path / "bs3"), num_buckets=4)
    store.upsert(spark.createDataFrame([("a", 1)], ["id", "v"]), "Patient")
    assert store.table("Patient").count() == 1


def test_whole_store_scan_with_partition_filter(spark, tmp_path):
    """Reading the store root partitioned-by-resourceType also prunes via
    a partition filter — the Hive-style layout is readable as one table."""
    store = ResourceStore(spark, str(tmp_path / "store"))
    store.import_resources(spark.createDataFrame([("p1",)], ["id"]), "Patient")
    store.import_resources(spark.createDataFrame([("o1",), ("o2",)], ["id"]), "Observation")
    whole = spark.read.option("basePath", store.root).parquet(
        f"{store.root}/resourceType=*"
    )
    pruned = whole.filter(F.col("resourceType") == "Patient")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "resourceType" in plan.split("PartitionFilters")[1][:120]
    assert pruned.count() == 1
    counts = {r["resourceType"]: r["cnt"] for r in
              whole.groupBy("resourceType").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {"Patient": 1, "Observation": 2}


def test_bloom_filter_options_write_filters(spark, tmp_path):
    """bloom_cols grows the files by the serialized filters (pyarrow
    can't read bloom offsets, so assert behaviorally by size delta on
    identical data) and the data remains intact."""
    from pyspark.sql import functions as F

    from healthcare_api_spark.sources.store import ResourceStore

    df = spark.range(20000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("id"),
        (F.col("id") % 7).alias("v"),
    ).coalesce(1)

    def total_size(root):
        import os

        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    plain = ResourceStore(spark, str(tmp_path / "plain"))
    plain.import_resources(df, "T")
    bloomy = ResourceStore(spark, str(tmp_path / "bloom"))
    bloomy.import_resources(df, "T", bloom_cols=["id"])
    sz_plain, sz_bloom = total_size(str(tmp_path / "plain")), total_size(str(tmp_path / "bloom"))
    # ndv=100k default → filter blob is tens of KB; data identical
    assert sz_bloom > sz_plain + 10_000, (sz_plain, sz_bloom)
    assert bloomy.table("T").count() == 20000
    got = bloomy.table("T").filter(F.col("id") == "id-137").collect()
    assert len(got) == 1 and got[0]["v"] == 137 % 7


def test_snapshot_diff_change_taxonomy(spark):
    from healthcare_api_spark.sources.store import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        ["id", "s", "v"],
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),        # unchanged → absent from output
         (2, "b", 99.0),       # update
         (3, "c", 3.0),        # NULL → value is an update (null-safe)
         (5, "e", 5.0)],       # insert; 4 deleted
        ["id", "s", "v"],
    )
    out = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id").collect()}
    assert out == {2: "update", 3: "update", 4: "delete", 5: "insert"}
    # compare_cols narrows change detection: only 's' → 2 and 3 unchanged
    out_s = {
        r["id"]: r["change"]
        for r in snapshot_diff(old, new, "id", compare_cols=["s"]).collect()
    }
    assert out_s == {4: "delete", 5: "insert"}


def test_upsert_resurrects_deleted_ids_even_when_bucket_fully_clears(spark, tmp_path):
    root = str(tmp_path / "store")
    store = ResourceStore(spark, root, num_buckets=4)
    base = spark.createDataFrame(
        [(i, 1, f"v{i}") for i in range(20)], ["id", "version", "val"]
    )
    store.import_resources(base, "T")
    # delete every id of id 7's bucket: the delete's version writes no
    # directory for it and the manifest maps the bucket to nothing; the
    # upsert into the emptied bucket must bring id 7 back
    in_bucket = base.withColumn("b", store._bucket_expr("id"))
    b7 = in_bucket.filter(F.col("id") == 7).first()["b"]
    doomed = in_bucket.filter(F.col("b") == b7).select("id")
    n_doomed = doomed.count()
    store.delete(doomed, "T")
    assert not os.path.exists(f"{store._version_path('T', 2)}/bucket={b7}")
    assert store.table("T").filter(F.col("id") == 7).count() == 0
    assert store.table("T").count() == 20 - n_doomed
    store.upsert(
        spark.createDataFrame([(7, 2, "reborn")], ["id", "version", "val"]),
        "T", version_col="version",
    )
    got = store.table("T").filter(F.col("id") == 7).collect()
    assert len(got) == 1 and got[0]["val"] == "reborn"
    assert store.table("T").count() == 20 - n_doomed + 1


def _vstore(spark, tmp_path, rows, nb=4):
    store = ResourceStore(spark, str(tmp_path / "vstore"), num_buckets=nb)
    df = spark.createDataFrame(rows, "id bigint, version int, val double")
    store.import_resources(df, "T")
    return store


def test_time_travel_snapshots_are_exact(spark, tmp_path):
    store = _vstore(
        spark, tmp_path, [(i, 1, float(i)) for i in range(1, 21)]
    )
    ups = spark.createDataFrame(
        [(i, 2, float(i) + 100.0) for i in (5, 10, 15, 20)],
        "id bigint, version int, val double",
    )
    store.upsert(ups, "T", version_col="version")
    dels = spark.createDataFrame([(7,), (14,)], "id bigint")
    store.delete(dels, "T")
    assert store.versions("T") == [1, 2, 3]
    v1 = {r["id"]: (r["version"], r["val"]) for r in store.table("T", as_of=1).collect()}
    assert v1 == {i: (1, float(i)) for i in range(1, 21)}
    v2 = {r["id"]: (r["version"], r["val"]) for r in store.table("T", as_of=2).collect()}
    assert v2[5] == (2, 105.0) and v2[7] == (1, 7.0) and len(v2) == 20
    v3 = {r["id"]: r["version"] for r in store.table("T").collect()}
    assert 7 not in v3 and 14 not in v3 and len(v3) == 18 and v3[10] == 2


def test_time_travel_writes_only_touched_buckets(spark, tmp_path):
    import glob

    store = _vstore(
        spark, tmp_path, [(i, 1, float(i)) for i in range(1, 41)], nb=8
    )
    ups = spark.createDataFrame([(3, 2, 999.0)], "id bigint, version int, val double")
    store.upsert(ups, "T", version_col="version")
    v2_buckets = {
        p.split("bucket=")[1]
        for p in glob.glob(str(tmp_path / "vstore/resourceType=T/v=2/bucket=*"))
    }
    assert len(v2_buckets) == 1  # one id -> one rewritten bucket
    # v1 files untouched: all 8 bucket dirs still present
    v1_buckets = glob.glob(str(tmp_path / "vstore/resourceType=T/v=1/bucket=*"))
    assert len(v1_buckets) == 8


def test_copy_on_write_delete_empties_bucket_and_reads_survive(spark, tmp_path):
    # a delete that empties a whole bucket writes no files for it — the
    # manifest still points there and the read treats it as empty
    store = _vstore(spark, tmp_path, [(1, 1, 1.0)], nb=2)
    store.delete(spark.createDataFrame([(1,)], "id bigint"), "T")
    assert [r["id"] for r in store.table("T").collect()] == []
    assert [r["id"] for r in store.table("T", as_of=1).collect()] == [1]


def test_expire_vacuums_unreferenced_versions(spark, tmp_path):
    import glob

    store = _vstore(spark, tmp_path, [(i, 1, float(i)) for i in range(1, 9)], nb=2)
    for k in (2, 3):
        ups = spark.createDataFrame(
            [(i, k, float(i * k)) for i in range(1, 9)],
            "id bigint, version int, val double",
        )
        store.upsert(ups, "T", version_col="version")
    assert store.versions("T") == [1, 2, 3]
    live_before = sorted(
        (r["id"], r["version"]) for r in store.table("T").collect()
    )
    removed = store.expire("T", keep_last=1)
    # every bucket was rewritten in v3 (full-table upserts), so v1/v2
    # data dirs are unreferenced and must be gone
    assert removed == [1, 2]
    assert store.versions("T") == [3]
    assert not glob.glob(str(tmp_path / "vstore/resourceType=T/v=1"))
    live_after = sorted(
        (r["id"], r["version"]) for r in store.table("T").collect()
    )
    assert live_after == live_before
    with pytest.raises(ValueError):
        store.table("T", as_of=1)
    with pytest.raises(ValueError):
        store.expire("T", keep_last=0)


def test_versioned_store_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="num_buckets"):
        ResourceStore(spark, str(tmp_path / "v0"), num_buckets=0)
    store = ResourceStore(spark, str(tmp_path / "v2"), num_buckets=2)
    with pytest.raises(ValueError, match="no snapshots"):
        store.table("T")
    with pytest.raises(ValueError, match="no snapshots"):
        store.delete(spark.createDataFrame([(1,)], "id bigint"), "T")
    df = spark.createDataFrame([(1, 1, 1.0)], "id bigint, version int, val double")
    store.import_resources(df, "T")
    with pytest.raises(ValueError, match="does not exist"):
        store.table("T", as_of=9)


def test_versioned_table_bucket_pruning_bounds_input_files(spark, tmp_path):
    """ADVICE r9: upsert/delete must read ONLY touched buckets' files.
    table(buckets=...) scans only the wanted buckets' directories, as
    the manifest routes them; the md5-re-derivation the write path used
    before could not prune."""
    store = _vstore(
        spark, tmp_path, [(i, 1, float(i)) for i in range(1, 41)], nb=8
    )
    # derive id=3's bucket the same way the store does
    probe = spark.createDataFrame([(3,)], "id bigint").withColumn(
        "bucket", store._bucket_expr("id")
    )
    b3 = probe.collect()[0]["bucket"]
    pruned = store.table("T", buckets=[b3])
    # the scan's root paths are that bucket's directory only
    files = pruned.inputFiles()
    assert files and all(f"/v=1/bucket={b3}/" in f for f in files)
    # and the rows are exactly that bucket's rows
    full = store.table("T").withColumn("bucket", store._bucket_expr("id"))
    want = sorted(
        r["id"] for r in full.filter(F.col("bucket") == b3).collect()
    )
    assert sorted(r["id"] for r in pruned.collect()) == want


def test_versioned_table_pruned_read_of_emptied_bucket(spark, tmp_path):
    """When every wanted bucket's version dir is absent (copy-on-write
    delete emptied them), the pruned read must return an EMPTY frame
    with the right schema — not raise, not resurface old rows."""
    store = _vstore(spark, tmp_path, [(1, 1, 1.0)], nb=2)
    probe = spark.createDataFrame([(1,)], "id bigint").withColumn(
        "bucket", store._bucket_expr("id")
    )
    b1 = probe.collect()[0]["bucket"]
    store.delete(spark.createDataFrame([(1,)], "id bigint"), "T")
    got = store.table("T", buckets=[b1])
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "version", "val"]
    # upsert into the emptied bucket still works end-to-end
    store.upsert(
        spark.createDataFrame([(1, 2, 9.0)], "id bigint, version int, val double"),
        "T",
        version_col="version",
    )
    assert [(r["id"], r["version"]) for r in store.table("T").collect()] == [(1, 2)]


@pytest.mark.parametrize("written, opened", [(8, 16), (16, 8)])
def test_num_buckets_mismatch_raises(spark, tmp_path, written, opened):
    """The manifest records num_buckets: a store opened on the same
    directory with another bucket count would hash upserted ids into
    other buckets than their existing rows, so the type would read back
    with duplicated or lost ids. Every operation through it raises."""
    root = str(tmp_path / "store")
    base = spark.range(1000).select(
        F.concat(F.lit("id-"), F.col("id")).alias("id"), F.lit(1).alias("version")
    )
    ResourceStore(spark, root, num_buckets=written).import_resources(base, "T")
    wrong = ResourceStore(spark, root, num_buckets=opened)
    ups = spark.createDataFrame(
        [("id-3", 2), ("id-400", 2), ("id-777", 2)], "id string, version int"
    )
    for op in (
        lambda: wrong.upsert(ups, "T", version_col="version"),
        lambda: wrong.delete(ups.select("id"), "T"),
        lambda: wrong.table("T"),
        lambda: wrong.compact("T"),
    ):
        with pytest.raises(ValueError, match=f"num_buckets={written}"):
            op()
    right = ResourceStore(spark, root, num_buckets=written)
    assert right.versions("T") == [1]
    right.upsert(ups, "T", version_col="version")
    got = right.table("T")
    assert got.count() == 1000 and got.select("id").distinct().count() == 1000


def test_id_col_mismatch_raises(spark, tmp_path):
    """The manifest records the id column the type was imported with: an
    upsert or delete keyed by another column raises."""
    store = ResourceStore(spark, str(tmp_path / "store"), num_buckets=4)
    base = spark.createDataFrame(
        [(i, i, f"v{i}") for i in range(10)], "id bigint, other_id bigint, val string"
    )
    store.import_resources(base, "T")
    with pytest.raises(ValueError, match="id_col='id'"):
        store.upsert(
            spark.createDataFrame([(3, 3, "x")], "id bigint, other_id bigint, val string"),
            "T", id_col="other_id",
        )
    with pytest.raises(ValueError, match="id_col='id'"):
        store.delete(spark.createDataFrame([(4,)], "other_id bigint"), "T", id_col="other_id")
    assert store.versions("T") == [1]
    store.delete(spark.createDataFrame([(4,)], "id bigint"), "T")
    assert {r["id"] for r in store.table("T").collect()} == set(range(10)) - {4}


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize("nb", [1, 4])
def test_table_builds_without_a_job(spark, tmp_path, nb):
    """Building a snapshot read submits no Spark job: the manifest is
    read on the driver and names the bucket directories and the row
    schema, so no footer-inference or manifest-reading job runs."""
    store = ResourceStore(spark, str(tmp_path / "store"), num_buckets=nb)
    store.import_resources(
        spark.createDataFrame([(i, 1) for i in range(20)], "id bigint, version int"), "T"
    )
    store.upsert(spark.createDataFrame([(3, 2), (30, 2)], "id bigint, version int"), "T",
                 version_col="version")
    first = _next_job_id(spark)
    now, then = store.table("T"), store.table("T", as_of=1)
    assert _next_job_id(spark) == first
    assert now.count() == 21 and then.count() == 20


def test_table_schema_is_the_footer_schema(spark, tmp_path):
    """The manifest's schema is what footer inference of the same files
    gives: same names, same types, every field, element and value
    nullable."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("id", StringType(), False),
        StructField("meta", StructType([
            StructField("n", IntegerType(), False),
            StructField("tags", ArrayType(StringType(), False), False),
        ]), False),
        StructField("attrs", MapType(StringType(), IntegerType(), False), True),
    ])
    df = spark.createDataFrame(
        [("a", (1, ["x"]), {"k": 1}), ("b", (2, []), {})], schema
    )
    store = ResourceStore(spark, str(tmp_path / "store"), num_buckets=4)
    store.import_resources(df, "T")
    footer = spark.read.parquet(store._version_path("T", 1)).drop("bucket").schema
    assert store.table("T").schema == footer
    assert store.table("T", as_of=1).schema == footer
    assert all(f.nullable for f in footer.fields)
    # an upsert that adds a column records the widened schema; rows of
    # untouched buckets read it as NULL
    store.upsert(
        spark.createDataFrame([("a", (3, ["y"]), None, "new")],
                              StructType([*schema.fields, StructField("note", StringType())])),
        "T",
    )
    got = {r["id"]: (r["meta"]["n"], r["note"]) for r in store.table("T").collect()}
    assert got == {"a": (3, "new"), "b": (2, None)}
    assert store.table("T", as_of=1).schema == footer
