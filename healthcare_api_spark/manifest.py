"""Driver-side store metadata on a Hadoop ``FileSystem``.

The resource store (``sources/store.py``) and the streaming state store
(``streaming/state.py``) keep a small JSON manifest beside their data:
the layout contract a writer fixed (bucket count, key columns, merge
kind) and the row schema that lets a read build without a Parquet
footer job. Both read and write it here, on the driver, through the same
``FileSystem`` calls that address local paths and object stores, and both
enforce their contract with ``check_contract``.
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


def jclass(spark: SparkSession, name: str) -> JavaClass:
    """A JVM class by its full name: ``jvm.a.b.C`` would cost one py4j
    round trip per name segment."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def filesystem(spark: SparkSession, path: str):
    """(Hadoop FileSystem of ``path``, the Path class) — the same
    listing code addresses local paths and object stores."""
    hpath_cls = jclass(spark, "org.apache.hadoop.fs.Path")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return hpath_cls(path).getFileSystem(conf), hpath_cls


def glob_paths(spark: SparkSession, fs, hpath_cls, pattern: str) -> str:
    """The paths matching ``pattern`` as one ``{a,b}`` string — the
    listing and the conversion are one py4j call each."""
    stats = fs.globStatus(hpath_cls(pattern))
    return jclass(spark, "org.apache.commons.lang3.ArrayUtils").toString(
        jclass(spark, "org.apache.hadoop.fs.FileUtil").stat2Paths(stats)
    )


def read_json(spark: SparkSession, path: str) -> dict | None:
    """The JSON document at ``path``, or None when there is none."""
    fs, hpath_cls = filesystem(spark, path)
    hpath = hpath_cls(path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def write_json(spark: SparkSession, path: str, doc: dict) -> None:
    """Write ``doc`` to ``path``, replacing what is there."""
    fs, hpath_cls = filesystem(spark, path)
    out = fs.create(hpath_cls(path), True)
    try:
        out.write(bytearray(json.dumps(doc).encode()))
    finally:
        out.close()


def check_contract(what: str, recorded: dict, mine: dict) -> None:
    """Raise ``ValueError`` naming every key of ``mine`` whose value
    differs from the ``recorded`` manifest: a reader or writer opened
    with another layout than the store was written with would fold or
    bucket its rows differently, silently."""
    diff = [k for k in mine if mine[k] != recorded.get(k)]
    if diff:
        raise ValueError(
            f"{what} was written with "
            + ", ".join(f"{k}={recorded.get(k)!r}" for k in diff)
            + "; opened with "
            + ", ".join(f"{k}={mine[k]!r}" for k in diff)
        )
