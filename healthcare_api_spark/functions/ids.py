"""Deterministic id generation (SURVEY.md §2.6 F7).

The reference derives stable Assay ids with
``uuid.uuid5(uuid.NAMESPACE_DNS, doc_id + '-assay')`` (assay.py:100).
RFC-4122 v5 is SHA-1 of namespace||utf8(name) with the version and
variant bits forced; v3 is the same with MD5. Both are built here from
built-in hash/substring/conv expressions, so the byte-exact ids stay
inside whole-stage codegen with no Python worker.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F


def _name_uuid(digest, name: Column, namespace: uuid.UUID, version: str) -> Column:
    """RFC-4122 name-based UUID string: ``digest``(namespace bytes ||
    utf8(name)) as hex, the version nibble (hex char 13) forced to
    ``version`` and the variant's top two bits (hex char 17 →
    (n & 0x3) | 0x8) forced to 10. NULL for a NULL name."""
    h = digest(F.concat(F.lit(namespace.bytes), F.encode(name, "UTF-8")))
    variant_nibble = F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
    return F.when(
        name.isNotNull(),
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.concat(F.lit(version), F.substring(h, 14, 3)),
            F.concat(
                # (n & 0x3) | 0x8 cycles with period 4 over the nibble value
                F.substring(F.lit("89ab89ab89ab89ab"), variant_nibble + 1, 1),
                F.substring(h, 18, 3),
            ),
            F.substring(h, 21, 12),
        ),
    )


def uuid5_dns(name: Column) -> Column:
    """Byte-exact ``uuid.uuid5(NAMESPACE_DNS, name)`` (assay.py:100
    parity). Pinned against CPython in tests/test_properties.py,
    multi-byte UTF-8 and the empty string included. DuckDB 1.0 has no
    sha1, so the f7 gate is rows-only and its md5 twin ``uuid3_ns``
    hash-verifies the bit surgery."""
    return _name_uuid(F.sha1, name, uuid.NAMESPACE_DNS, "5")


def uuid3_ns(name: Column, namespace: uuid.UUID = uuid.NAMESPACE_DNS) -> Column:
    """RFC-4122 v3 (md5-based) UUID — byte-exact vs CPython.

    The md5 twin of ``uuid5_dns`` and, unlike it, cross-engine
    hash-verifiable (DuckDB has md5 but no sha1). Byte-exactness vs
    ``uuid.uuid3`` is pinned in tests/test_properties.py for both
    NAMESPACE_DNS and ASCII namespaces.
    """
    return _name_uuid(F.md5, name, namespace, "3")

