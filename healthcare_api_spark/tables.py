"""Load the driver's Parquet tables (TESTDATA.md) as DataFrames.

One Parquet file per table mirrors the reference's one-NDJSON-per-resource
-type layout (scripts/README-transform.md:35-43) — scanning only the tables
a query needs is the reference's "partition pruning" (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Bind one table. The driver's ``events`` table carries
    TIMESTAMP(NANOS) — unsupported by Spark's Parquet reader — so it is
    read via the nanosAsLong escape hatch and converted to a microsecond
    timestamp (integer div: no double-precision loss on epoch-nanos)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if f_.name == "ts" and f_.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Lazily bind each table; Catalyst prunes columns/filters per query."""
    return {name: load_table(spark, sf_dir, name) for name in names}
