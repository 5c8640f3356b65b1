"""Skew mitigation: salted joins.

AQE's skew-join splitting (on in session.py) handles most skew at runtime by
splitting oversized partitions. Salting is the *planned* alternative for the
cases AQE can't fix: a single group key so hot that even one split of it
overwhelms a task (the classic null-key / power-law-head problem in web-scale
dedup and joins).

``salted_join`` is an algebraic rewrite with identical results: salt the
skewed (big) side randomly; explode the small side ``num_salts``× so every
(key, salt) pair still matches. Join cardinality is unchanged; the hot key
now lands on ``num_salts`` tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, num_salts: int) -> DataFrame:
    """Uniform random salt in [0, num_salts). Nondeterministic by design —
    never use in an oracle-checked value path, only as a partitioning aid."""
    if num_salts <= 0:
        raise ValueError("num_salts must be positive")
    return df.withColumn(SALT_COL, (F.rand() * num_salts).cast("int"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over ``num_salts``
    tasks. The small side is exploded ``num_salts``× (acceptable precisely
    when it is the small side); results equal ``big.join(small, on, how)``.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner and left joins")
    salted_big = with_salt(big, num_salts)
    exploded_small = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return salted_big.join(exploded_small, [*on, SALT_COL], how).drop(SALT_COL)
