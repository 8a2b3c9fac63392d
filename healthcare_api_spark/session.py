"""SparkSession factory with scale-oriented defaults.

The reference executes single-threaded Python (transform.py:154-169); this
engine targets a multi-executor cluster. The configs below are the ones
that matter at 100 TB and are harmless at test scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion (SURVEY.md §4).
- nested schema pruning: FHIR structs are wide; reading only the touched
  nested fields is the columnar win (SURVEY.md §4 "column pruning").
- Arrow: vectorized transfer for the pandas_udf / mapInPandas paths
  (multimodal decode, similarity, the grouped streaming operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "healthcare-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    use every core; on a real cluster callers pass their own master/deploy
    config and only the SQL confs below carry over.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # permissive semantics (OOB array index → null, lenient casts) to
        # match the reference's dict-access behavior and SQL oracles
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark's defaults, kept after measurement: a bytes-based advisory
        # size with parallelismFirst=false sped up the scan/join gates
        # but coalesced the explode-heavy class (small shuffle bytes,
        # large downstream CPU) by +48..96%. Deployments with another
        # mix override them through extra_conf. OPTIMIZATION_r13.md §2.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd: ~30% smaller at-rest than snappy at similar scan speed —
        # at 100 TB the difference is real storage/IO money
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # whole-stage-codegen compiled-class cache (static conf, default
        # 100): a workload cycling through >100 distinct plan fragments
        # (this suite: 45 headline queries/pass) evicts and re-Janinos
        # every fragment every pass — measured +0.04..0.3 s per query,
        # +2.5 s on the 18-query comparable subtotal. Same math applies
        # per-executor on a cluster running a varied query mix.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_WAREHOUSE", "/tmp/spark-warehouse"))
        .config("spark.ui.enabled", "false")
        # off: with it on, every Column method and F.col records its
        # Python call site for error messages, about five py4j round
        # trips each — thousands per plan build (e.g. derive_assays).
        # PySpark caches the flag once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
