"""Data-layout optimization: small-file compaction and Z-ORDER clustering.

The reference's storage layer bin-packs rows into fixed-size pages and
keeps B+tree indexes per field (SURVEY §2.1/§4.2); the Parquet-native
counterpart is FILE layout: right-sized files (a 100 TB table of 1 MB
files drowns the driver in listing and task overhead) and multi-column
clustering so parquet min/max footer stats actually prune.

Z-order: each clustering column is scaled to a ``bits``-wide integer
rank (min/max scaling — the stats ride the plan as a 1-row broadcast,
no driver round-trip), the bit-planes are interleaved into one z-value,
and the rewrite range-partitions + sorts by it.  Rows close in EVERY
clustering dimension land in the same file, so each file's min/max
range per column is ~N^(-1/c) of the global range instead of ~100% —
a predicate on ANY of the c columns skips most files.  (Linear scaling
assumes roughly uniform value spread; heavily skewed columns cluster
better after a quantile transform upstream.)

The rewrite is layout-only (same rows, new order), expressed as a
normal table mutation: ``optimize_table`` re-registers the re-laid-out
frame and the standard CAS flush writes it as the next version — time
travel, vacuum, and concurrent-writer safety all apply unchanged.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(df: DataFrame, cols: Sequence[str],
           bits: Optional[int] = None) -> DataFrame:
    """Append a ``__z`` long column: interleaved bit-planes of the
    min/max-scaled clustering columns (Morton code).  Pure column math
    inside whole-stage codegen; the per-column min/max fold in as a
    1-row broadcast in the same plan."""
    cols = list(cols)
    if not cols:
        raise ValueError("zvalue needs at least one column")
    if bits is None:
        bits = min(16, 60 // len(cols))
    top = (1 << bits) - 1
    stats = df.agg(*[F.min(c).cast("double").alias(f"__mn_{c}")
                     for c in cols],
                   *[F.max(c).cast("double").alias(f"__mx_{c}")
                     for c in cols])
    out = df.crossJoin(stats)
    qs: list[Column] = []
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        q = F.floor((F.col(c).cast("double") - mn) / span * top)
        # NULLs rank 0 (cluster at the origin) — a null z-value would
        # otherwise poison the whole row's code
        qs.append(F.coalesce(
            F.least(F.greatest(q, F.lit(0)), F.lit(top)).cast("long"),
            F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qs):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)),
                            i * len(qs) + j))
    return (out.withColumn("__z", z)
            .drop(*[f"__mn_{c}" for c in cols],
                  *[f"__mx_{c}" for c in cols]))


def optimize_layout(df: DataFrame, target_partitions: int,
                    zorder: Optional[Sequence[str]] = None) -> DataFrame:
    """The re-laid-out frame: ``target_partitions`` output files, rows
    z-order-clustered when ``zorder`` columns are given (range-partition
    + in-partition sort on the z-value), plain round-robin rebalance
    otherwise."""
    if zorder:
        return (zvalue(df, zorder)
                .repartitionByRange(target_partitions, "__z")
                .sortWithinPartitions("__z")
                .drop("__z"))
    return df.repartition(target_partitions)


def optimize_table(engine, table: str, target_partitions: int = 8,
                   zorder: Optional[Sequence[str]] = None) -> list[str]:
    """Rewrite a registered table's layout (compaction and/or z-order)
    and flush it as the next version through the normal per-table CAS
    path.  Returns the flushed table list (empty without a warehouse —
    the re-laid-out frame is still registered and checkpointed)."""
    out = optimize_layout(engine.df(table), target_partitions,
                          zorder=zorder)
    engine.set_df(table, out)
    # scope the flush to THIS table: a layout rewrite must not commit
    # unrelated pending mutations as a side effect
    return engine.flush(only=[table])


def quantile_rank(df: DataFrame, col: str, n_buckets: int = 1024,
                  rel_error: float = 0.001) -> "tuple[DataFrame, str]":
    """Skew-robust rank transform for z-ordering: replaces min/max
    linear scaling with approx-quantile bucket ids, so a heavy-tailed
    column (e.g. view counts) spreads uniformly over the code space
    instead of collapsing into one bucket.

    One ``approxQuantile`` pass (Greenwald-Khanna sketch, bounded driver
    memory) computes the boundaries; the bucket id is a map-side
    ``width_bucket`` over the broadcast boundary array.  Returns
    (df + rank column, rank column name) — feed the rank column to
    ``zvalue``/``optimize_layout`` in place of the raw column."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.stat.approxQuantile(col, probs, rel_error)
    # dedupe (constant stretches collapse boundaries) and keep sorted
    uniq = sorted(set(bounds))
    rank_col = f"__qr_{col}"
    if not uniq:
        return df.withColumn(rank_col, F.lit(0).cast("long")), rank_col
    # true quantile buckets (boundaries are NOT uniformly spaced):
    # rank = count of boundaries <= value, a codegen array filter over
    # the broadcast literal array; NULLs rank 0 like zvalue
    arr = F.array(*[F.lit(float(b)) for b in uniq])
    out = df.withColumn(
        rank_col,
        F.coalesce(
            F.size(F.filter(arr, lambda b: b <= F.col(col).cast("double")))
            .cast("long"),
            F.lit(0).cast("long")))
    return out, rank_col
