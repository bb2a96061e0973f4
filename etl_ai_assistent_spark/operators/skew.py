"""Skew-mitigation operators (100 TB posture; SURVEY.md §4).

The testdata is too small to *suffer* skew, but the operators are the
real thing: a salted equi-join (hot keys spread over `salt` subkeys —
the manual fallback when AQE's skew-join split can't apply, e.g. under
a required child distribution) and a two-phase salted aggregation
(partial agg on (key, salt), final on key — what Catalyst's partial
aggregation already does automatically for algebraic aggregates, shown
explicitly for the cases it can't, like exact distinct collection).

Salting is DETERMINISTIC here (hash of the probe-side row id, not
rand()): replayable under task retries and oracle-checkable — identical
results to the unsalted join by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_bucket


def salted_join(
    big: DataFrame,
    small: DataFrame,
    *,
    on: str,
    salt_from: str | Column,
    buckets: int = 8,
) -> DataFrame:
    """Inner equi-join `big ⋈ small` on `on`, with the big (skewed) side
    salted into `buckets` subkeys and the small side replicated once per
    bucket. Shuffle key becomes (on, salt): a hot key's rows spread over
    `buckets` reducers instead of one straggler.

    `salt_from` names a big-side column whose md5 drives the bucket
    choice — deterministic, uniform, retry-safe. Result set is
    provably identical to big.join(small, on)."""
    salt = (
        md5_bucket(
            (F.col(salt_from) if isinstance(salt_from, str) else salt_from)
            .cast("string")
        )
        % buckets
    ).cast("int")
    big_s = big.withColumn("__salt", salt)
    small_s = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>")),
    )
    return big_s.join(small_s, [on, "__salt"]).drop("__salt")
