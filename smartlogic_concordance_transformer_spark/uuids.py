"""Deterministic UUID derivation kernel — a pure native Column expression.

The reference derives concordance UUIDs two ways (empirically recovered and
verified against all 13 golden UUIDs in its test suite; see SURVEY.md 2.4):

* TME / DBpedia / Geonames / Wikidata ids (``smartlogic/service.go:298,308-310``):
  ``uuid.NewMD5(uuid.UUID{}, id)`` with pborman's zero-value UUID, which is a
  0-byte slice — i.e. plain ``MD5(id)`` with the v3 version nibble and
  RFC-4122 variant bits forced in.

* FACTSET ids (``service.go:305`` via FT uuid-utils-go):
  ``MD5(MD5(id))`` — the inner digest fed as raw 16 bytes — then the same
  version/variant surgery on the outer digest only.

The KG job derives both inside its fold (``pyfold._md5_uuid`` /
``_factset_uuid``). This module keeps the single-MD5 one as a **native
Spark SQL column expression** (``md5``, ``substring``, ``translate``,
``concat``) for the ``kg_uuid_tme`` query:

* it runs inside whole-stage codegen on the JVM — no Python in the hot
  path, no Arrow exchange, vectorized end to end;
* the same expression is runnable in DuckDB for the oracle check
  (``ft_md5_uuid_sql``).

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

