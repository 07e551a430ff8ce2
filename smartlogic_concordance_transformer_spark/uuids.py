"""Deterministic UUID derivation kernels — pure native Column expressions.

The reference derives concordance UUIDs two ways (empirically recovered and
verified against all 13 golden UUIDs in its test suite; see SURVEY.md 2.4):

* TME / DBpedia / Geonames / Wikidata ids
  (``/root/reference/smartlogic/service.go:298,308-310``):
  ``uuid.NewMD5(uuid.UUID{}, id)`` with pborman's zero-value UUID, which is a
  0-byte slice — i.e. plain ``MD5(id)`` with the v3 version nibble and
  RFC-4122 variant bits forced in.

* FACTSET ids (``service.go:305`` via FT uuid-utils-go):
  ``MD5(MD5(id))`` — the inner digest fed as raw 16 bytes — then the same
  version/variant surgery on the outer digest only.

The KG job derives both inside its fold (``pyfold._md5_uuid`` /
``_factset_uuid``). This module keeps them as **native Spark SQL column
expressions** (``md5``, ``unhex``, ``substring``, ``translate``,
``concat``) for the ``kg_uuid_tme`` / ``kg_uuid_factset`` queries:

* they run inside whole-stage codegen on the JVM — no Python in the hot
  path, no Arrow exchange, vectorized end to end;
* the single-MD5 expression is runnable in DuckDB for the oracle check
  (DuckDB's ``md5`` is VARCHAR-only, so the FACTSET kernel's oracle is a
  hashlib-literal table instead).

Hex surgery on the 32-char lowercase digest ``h``:

* version: char 13 (1-indexed) := ``'3'``
* variant: char 17 := ``hex(8 | (nibble & 3))`` — a pure character map,
  ``translate(c, '0123456789abcdef', '89ab89ab89ab89ab')``
* hyphenate 8-4-4-4-12
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_VARIANT_MAP = "89ab89ab89ab89ab"


def _hex_to_uuid(h: Column) -> Column:
    """8-4-4-4-12 hyphenation + v3 version/variant bit surgery on a 32-char
    lowercase hex digest column."""
    return F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-3"),
        F.substring(h, 14, 3),
        F.lit("-"),
        F.translate(F.substring(h, 17, 1), "0123456789abcdef", _VARIANT_MAP),
        F.substring(h, 18, 3),
        F.lit("-"),
        F.substring(h, 21, 12),
    )


def ft_md5_uuid(col: Column | str) -> Column:
    """TME / DBpedia / Geonames / Wikidata UUID: set_v3_bits(MD5(id)).

    Parity: /root/reference/smartlogic/service.go:298,308-310.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _hex_to_uuid(F.md5(c.cast("string")))


def ft_factset_uuid(col: Column | str) -> Column:
    """FACTSET UUID: set_v3_bits(MD5(raw_bytes(MD5(id)))).

    Parity: /root/reference/smartlogic/service.go:305 (uuid-utils-go
    DeriveFactsetUUID). The inner digest is fed to the outer MD5 as raw
    bytes, hence ``md5(unhex(md5(id)))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _hex_to_uuid(F.md5(F.unhex(F.md5(c.cast("string")))))


# SQL-fragment builders (same expressions as strings, for spark.sql and for
# the DuckDB oracle; both engines support md5/substr/translate/concat ||).

def ft_md5_uuid_sql(expr: str) -> str:
    """ANSI-ish SQL string computing ft_md5_uuid(expr); valid in both Spark
    SQL and DuckDB (used by the correctness oracle)."""
    h = f"md5({expr})"
    return (
        f"substr({h},1,8) || '-' || substr({h},9,4) || '-3' || substr({h},14,3)"
        f" || '-' || translate(substr({h},17,1),'0123456789abcdef','{_VARIANT_MAP}')"
        f" || substr({h},18,3) || '-' || substr({h},21,12)"
    )

