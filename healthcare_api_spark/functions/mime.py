"""MIME-type inference (SURVEY.md §2.6 F5/F6).

The reference uses Python ``mimetypes.guess_type`` plus custom
registrations for bioinformatics extensions (assay.py:11-20) and a
fallback of ``application/octet-stream`` (assay.py:134-136), applied to
the path component of the attachment url (assay.py:131).

Spark-first design: **no UDF**. Extension extraction is a regexp on the
url path (``parse_url``), and the extension→MIME table is a small
broadcast-joined lookup DataFrame — at 100 TB the lookup side stays a
broadcast hash join with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Extension → MIME. Mirrors the semantics of mimetypes.guess_type with the
# reference's add_type registrations (assay.py:11-20) for the types its
# data actually carries; octet-stream fallback per assay.py:134-136.
MIME_BY_EXT: dict[str, str] = {
    "r": "text/x-r",
    "maf": "text/tab-separated-values",
    "bed5": "text/tab-separated-values",
    "bed": "text/tab-separated-values",
    "vcf": "text/tab-separated-values",
    "sam": "text/tab-separated-values",
    "yaml": "text/yaml",
    "md": "text/x-markdown",
    "markdown": "text/x-markdown",
    "tsv": "text/tab-separated-values",
    "csv": "text/csv",
    "txt": "text/plain",
    "pdf": "application/pdf",
    "json": "application/json",
    "xml": "text/xml",
    "html": "text/html",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "svg": "image/svg+xml",
    "zip": "application/zip",
    "tar": "application/x-tar",
    "bam": "application/octet-stream",
    "wav": "audio/x-wav",
    "mp3": "audio/mpeg",
    "mp4": "video/mp4",
}

OCTET_STREAM = "application/octet-stream"

# Matches the trailing '.ext' of a path; empty string when no extension.
_EXT_PATTERN = r"\.([^./]+)$"
# Compression-encoding suffixes mimetypes.guess_type treats as encodings,
# not types: 'x.vcf.gz' has type text/tab-separated-values + encoding
# gzip, and the reference keeps only the type (assay.py:131-136). A bare
# 'x.gz' types as (None, gzip) → octet-stream fallback.
_ENCODING_SUFFIX = r"(?i)\.(gz|bz2|xz|Z)$"


def url_path(url: Column) -> Column:
    """``urllib.parse.urlparse(url).path`` equivalent (assay.py:131)."""
    return F.parse_url(url, F.lit("PATH"))


def extension(path: Column) -> Column:
    """Lower-cased trailing extension of a path after stripping a
    compression-encoding suffix ('.vcf.gz' → 'vcf'); '' if none."""
    stripped = F.regexp_replace(path, _ENCODING_SUFFIX, "")
    return F.lower(F.regexp_extract(stripped, _EXT_PATTERN, 1))


def mime_lookup_df(spark: SparkSession) -> DataFrame:
    """The extension→MIME table as a broadcastable dimension."""
    return spark.createDataFrame(
        [(ext, mime) for ext, mime in MIME_BY_EXT.items()], ["ext", "mime"]
    )


def mime_from_name(file_name: Column) -> Column:
    """Extension→MIME lookup over any file-name/path column — the single
    source of truth (used by guess_mime_expr and the assay rewrite's
    title/url fallback). One map literal indexed by the extension, so
    the extension is derived once per value, also inside a lambda where
    no common-subexpression elimination applies."""
    table = F.create_map(*[F.lit(x) for kv in MIME_BY_EXT.items() for x in kv])
    return F.coalesce(table[extension(file_name)], F.lit(OCTET_STREAM))


def guess_mime_expr(url: Column) -> Column:
    """Pure-expression variant: the MIME map lookup on the url path.

    For narrow pipelines where a join is overkill; the map is a
    constant-folded literal inside the codegen stage.
    """
    return mime_from_name(url_path(url))


def guess_mime(df: DataFrame, url_col: str, out_col: str = "contentType") -> DataFrame:
    """Join-based variant: broadcast the MIME dimension (scales to 100 TB
    fact side with no shuffle — the dimension is ~30 rows)."""
    spark = df.sparkSession
    lookup = F.broadcast(mime_lookup_df(spark))
    with_ext = df.withColumn("_ext", extension(url_path(F.col(url_col))))
    joined = with_ext.join(lookup, with_ext["_ext"] == lookup["ext"], "left")
    return joined.withColumn(out_col, F.coalesce(F.col("mime"), F.lit(OCTET_STREAM))).drop(
        "_ext", "ext", "mime"
    )
