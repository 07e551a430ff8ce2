"""Skew-resilient join: explicit key salting.

A hash join shuffles both sides by the key, so one hot key (the empty
document, the null-ish placeholder entity, the one mega-publisher host)
lands its entire match volume in ONE reducer task — the classic 99%-done
straggler at 100 TB. AQE's skew-join split handles many cases after the
fact; explicit salting is the planned-for version. This module is the
general operator.

Mechanics: the probe (big, skewed) side gets a salt in ``[0, salt)``
hashed from the FULL row (hashing only the key would put the hot key back
in one bucket); the build side replicates each row to every salt value.
The join key becomes ``(key..., _salt)``, so the hot key's matches spread
over ``salt`` tasks. Each probe row sees each build match exactly once —
in its own salt bucket — so multiplicities are preserved and the result
is row-identical to the plain join for ``inner`` and ``left``.

Cost model: build-side rows replicate ``salt``× (choose the smaller side
as ``right``); probe side is untouched. That trade is exactly when
salting wins: a dimension too large or too hot to broadcast, joined by a
skewed fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` (big/skewed probe) to ``right`` (replicated build)
    on ``on`` with the shuffle key widened by a ``salt``-way suffix.
    Row-identical to ``left.join(right, on, how)``; supports ``inner``
    and ``left``. Fully-duplicate probe rows share a salt value (the salt
    hashes the whole row) — correct, merely less spread for that case.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if salt < 1:
        raise ValueError("salt must be >= 1")
    lsalt = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    rsalt = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return lsalt.join(rsalt, [*on, "_salt"], how).drop("_salt")
