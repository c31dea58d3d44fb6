"""Skew salting for joins on a known-hot key.

``salted_skew_join`` spreads a hot join key over ``n_salts`` reducers by
salting the fact side (``with_salt``) and replicating the dim side —
the manual fallback when AQE skew handling (enabled in
``session.get_spark``) isn't applicable. The ``warehouse`` plans and
``tools/bench_skew.py`` use it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Append a deterministic salt in [0, n_salts) — spreads a hot key
    over ``n_salts`` reducers. Derived from a hash of the whole row's
    monotonically-increasing id surrogate so it is uniform and cheap;
    crc32-of-key variants would re-skew when one key dominates."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join for a KNOWN-hot key distribution: the
    fact side gets a uniform salt, the dim side is replicated
    ``n_salts``× (explode over the salt range), and the join runs on
    (key, salt) — the hot key's rows spread over ``n_salts`` reducers
    instead of one straggler. AQE's skew-join split handles this
    reactively per stage; the explicit salt is the proactive form for
    repeatable pipelines (and the only option when the skewed join
    feeds an operator AQE can't re-split, e.g. a window on the key).

    The dim side is replicated, so keep it the smaller input (at
    dim×n_salts sizes near the broadcast threshold, broadcasting the
    unsalted dim is strictly better — this helper targets the middle
    ground: dim too big to broadcast, fact skewed on the key)."""
    salted_fact = with_salt(fact, n_salts)
    salt_range = F.explode(
        F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).alias("__salt")
    salted_dim = dim.select("*", salt_range).withColumn(
        "__salt", F.col("__salt").cast("bigint")
    )
    return salted_fact.join(salted_dim, [key, "__salt"], how).drop("__salt")
