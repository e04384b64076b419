"""The one broadcast rule.

No hint by default.  Catalyst broadcasts a join side whose size
estimate is under ``spark.sql.autoBroadcastJoinThreshold`` (64 MB, set
in ``session.get_spark``), and AQE turns a shuffle join into a
broadcast join at run time once a materialized side is under it.
Scans, filters and aggregates carry an estimate, and a pin
(``pin.py``), lazy or eager, keeps its origin's (``test_broadcast.py``).
So a one-row total, a key set or a node frame needs no hint: the
threshold is its size gate, and a side above it shuffles.

A hint (``broadcast(df)``) stays only where the planner cannot see a
size that is bounded by construction; the call site says why in one
line.  A frame built by ``createDataFrame`` from Python rows reports
``Long.MaxValue``, a grouped aggregate is sized as its input and an
inner join as the product of its sides.  Unhinted, such a side
shuffles, the planner builds the *other* side, or a non-equi join
becomes a cartesian product.  Spark never broadcasts a side of a
``full_outer`` join, hint or not.

``fits(df)`` is the size gate for code whose plan *shape* changes with
size (today ``graph_search_many``'s small mode): true exactly when the
planner would broadcast ``df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast(df: DataFrame) -> DataFrame:
    """Hint ``df`` as a join's broadcast side."""
    return F.broadcast(df)


def size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def fits(df: DataFrame) -> bool:
    """True when ``df``'s estimate is under the session threshold."""
    thresh = df.sparkSession._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    est = size_bytes(df)
    return thresh > 0 and est is not None and est <= thresh
