"""Skew mitigation: salted two-stage aggregation.

AQE splits skewed JOIN partitions at runtime, but a groupBy on a pathological
key distribution (one key holding half the table) still funnels that key's
rows into one reducer.  Salting splits each key into ``n_salts`` synthetic
sub-keys for a partial aggregate, then merges the partials — two small
shuffles instead of one hot one.  Only algebraic aggregates (sum/count/
min/max and avg via sum+count) can be salted this way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
_PARTIAL = {"sum": F.sum, "count": lambda c: F.count(c), "min": F.min,
            "max": F.max}


def salted_agg(df: DataFrame, keys: list[str],
               aggs: dict[str, tuple[str, str]],
               n_salts: int = 16) -> DataFrame:
    """Two-stage salted groupBy.

    ``aggs`` maps output column → (fn, field) with fn in
    sum/count/min/max.  Example::

        salted_agg(df, ["k"], {"n": ("count", "*"),
                               "total": ("sum", "v")}, n_salts=32)

    Stage 1 groups by (keys..., salt) — the hot key spreads over n_salts
    reducers; stage 2 merges partials per key (count merges by summing).
    """
    for fn, _ in aggs.values():
        if fn not in _PARTIAL:
            raise ValueError(f"non-algebraic aggregate cannot be salted: {fn}")
    salt = (F.rand(seed=42) * n_salts).cast("int")
    partial_cols = [
        _PARTIAL[fn](F.lit(1) if field == "*" else F.col(field))
        .alias(f"__p_{out}")
        for out, (fn, field) in aggs.items()
    ]
    partial = (df.withColumn("__salt", salt)
               .groupBy(*keys, "__salt").agg(*partial_cols))
    merge_cols = [
        _MERGE[fn](F.col(f"__p_{out}")).alias(out)
        for out, (fn, _) in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*merge_cols)


def salted_join(left: DataFrame, right: DataFrame, on: str,
                n_salts: int = 16, how: str = "inner",
                salt_by: str | None = None) -> DataFrame:
    """Skew-safe equi-join: the LEFT (large, skewed) side gets a
    deterministic salt — md5 of ``salt_by`` (default: every left column,
    so identical rows spread too) mod ``n_salts`` — and the RIGHT side is
    exploded into ``n_salts`` replicas, so a hot join key's rows land on
    ``n_salts`` reducers instead of one.

    Use when the right side is too big to broadcast but the left key
    distribution is pathological (AQE's skew-join split handles moderate
    skew; salting is the deliberate fix for one-key-dominates).  Join
    semantics are exactly ``left.join(right, on, how)`` for how in
    inner/left — each left row carries exactly one salt and meets exactly
    one replica of its matching right rows."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left' "
                         "(the right side is replicated)")
    # cast + coalesce so a NULL or non-string salt_by column can never
    # yield a NULL salt (which would match no right replica and silently
    # drop/unmatch the row)
    seed_col = (F.coalesce(F.col(salt_by).cast("string"), F.lit("")) if salt_by
                else F.concat_ws("\x1f", *[F.col(c).cast("string")
                                           for c in left.columns]))
    salt = (F.conv(F.substring(F.md5(seed_col), 1, 8), 16, 10)
            .cast("long") % n_salts).cast("int")
    l2 = left.withColumn("__salt", salt)
    r2 = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    out = l2.join(r2, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def heavy_hitters(df: DataFrame, keys: list[str],
                  min_share: float = 0.01) -> DataFrame:
    """Exact heavy-hitter detection: keys holding at least ``min_share``
    of the table, the measurement that DECIDES when to salt.

    Shape: one hash-aggregate over ``keys`` (map-side partial combine —
    the per-partition partial is at most |distinct keys| rows, and hot
    keys by definition compress best), the total row count folded in as
    a 1-row broadcast join inside the same plan (no separate .count()
    action, no driver round-trip).  Output is tiny (share >= s bounds it
    to at most 1/s rows), so the result itself is broadcastable straight
    into a salting decision.

    Returns (keys..., n, share) sorted nowhere — callers order as needed.
    """
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    out = (counts.crossJoin(total)
           .withColumn("share", F.col("n") / F.col("__total"))
           .filter(F.col("share") >= min_share)
           .drop("__total"))
    return out
