"""Scalar function layer (SURVEY.md §2.6, F1-F12).

All pure Column expressions (JVM-side, whole-stage-codegen friendly),
the byte-exact RFC-4122 ``uuid5_dns`` included: no Python UDF.
"""

from healthcare_api_spark.functions.refs import make_ref, ref_id, ref_type
from healthcare_api_spark.functions.mime import guess_mime, mime_lookup_df
from healthcare_api_spark.functions.ids import uuid5_dns
from healthcare_api_spark.functions.text import (
    char_ngrams,
    fingerprint,
    normalize_text,
    token_count,
    tokens,
    word_shingles,
)

__all__ = [
    "make_ref",
    "ref_id",
    "ref_type",
    "guess_mime",
    "mime_lookup_df",
    "uuid5_dns",
    "normalize_text",
    "tokens",
    "token_count",
    "word_shingles",
    "char_ngrams",
    "fingerprint",
]
