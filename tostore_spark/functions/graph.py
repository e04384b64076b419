"""Graph algorithms as iterative DataFrame programs.

``pagerank`` runs the classic damped iteration

    r₀(v) = 1
    rₜ₊₁(v) = (1 − d) + d · Σ_{u→v} rₜ(u) / deg(u)

for a FIXED number of rounds (dangling-node mass is not redistributed —
the common simplified formulation, stated so the oracle can reproduce
it).  Each round is one equi-join (ranks onto edges, uniform keys) plus
one hash-aggregate on the destination — the same two-shuffle round
shape as the connected-components pointer jumping in llmops/dedup.

Determinism across engines: per-edge contributions round to
``round_dp`` decimals and sum as DECIMAL, so the hash-aggregate order
cannot perturb the float; each round's rank is itself rounded, making
round t+1 a pure function of round t's exact values.

Lineage control: ``checkpoint_every`` truncates the plan with a
``pin`` — an unbounded loop otherwise doubles the DAG per round
(driver-side planning blowup long before any executor limit).

Reference scope: the reference has no graph operators; parity-plus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from tostore_spark.pin import pin


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 10, damping: float = 0.85,
             round_dp: int = 9, checkpoint_every: int = 4) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank) for every node appearing as a source or a
    destination.  Duplicate edges count once (the edge list is
    de-duplicated first — pass a weighted variant explicitly if
    multi-edges should add mass)."""
    # edges feed every round (contrib join): pin once instead of
    # re-evaluating the scan+distinct subtree per iteration
    e = pin(edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
                 .filter(F.col("__s").isNotNull() & F.col("__d").isNotNull())
                 .distinct())
    # nodes and deg feed EVERY iteration's plan (ranks_i references
    # nodes both directly and through ranks_{i-1}) — without a pin the
    # final DAG embeds one union+distinct and one degree aggregate PER
    # ITERATION LEVEL.  Both frames are node-count-sized.
    nodes = pin(e.select(F.col("__s").alias("node"))
                 .union(e.select(F.col("__d")))
                 .distinct())
    deg = pin(e.groupBy("__s").agg(F.count(F.lit(1)).alias("__deg")))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    d = float(damping)
    # single-parse SQL twins of the per-iteration expressions (same
    # Catalyst trees; repr() round-trips the damping floats exactly, so
    # the literals match the old F.lit values bit-for-bit)
    contrib_sql = (f"CAST(round(rank / __deg, {int(round_dp)})"
                   " AS DECIMAL(38,18)) AS __c")
    rank_sql = (f"round({1.0 - d!r}D + {d!r}D * coalesce(__in, 0.0D),"
                f" {int(round_dp)}) AS rank")
    for it in range(int(n_iter)):
        contrib = (e.join(ranks.withColumnRenamed("node", "__s"), "__s")
                    .join(deg, "__s")
                    .selectExpr("__d AS node", contrib_sql))
        summed = contrib.groupBy("node").agg(
            F.sum("__c").cast("double").alias("__in"))
        ranks = (nodes.join(summed, "node", "left")
                      .selectExpr("node", rank_sql))
        if checkpoint_every and (it + 1) % checkpoint_every == 0 \
                and it + 1 < n_iter:
            ranks = pin(ranks)
    return ranks
