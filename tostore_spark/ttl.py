"""Table TTL: the read-time live filter.

Reference: ``TableTtlConfig`` (table_schema.dart:1804-1885) — ttlMs plus an
optional datetime source field (default: internal ingest timestamp); a
background manager deletes expired rows (ttl_cleanup_manager.dart:40+).

Spark-first: expiry is a pushdown-friendly predicate on the source field
(Parquet row-group stats skip whole files of expired data).  The cleanup
job is the flush's rewrite, which writes the same filter's survivors —
so a row is swept exactly when every read already hides it.  Reads and
the sweep reach ``ttl_filter`` through ``at_rest.to_visible``, the one
stored→visible boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tostore_spark.schema import TableTtlConfig


def ttl_active(ttl: TableTtlConfig | None) -> bool:
    """The one "TTL is on" test: a positive ``ttl_ms`` and a source
    field.  Zero or negative ``ttl_ms`` keeps every row."""
    return ttl is not None and ttl.ttl_ms > 0 and bool(ttl.source_field)


def ttl_filter(df: DataFrame, ttl: TableTtlConfig | None) -> DataFrame:
    """Rows are live while source_field + ttl > now; a null source
    never expires."""
    if not ttl_active(ttl) or ttl.source_field not in df.columns:
        return df
    cutoff = F.current_timestamp() - F.expr(
        f"INTERVAL {int(ttl.ttl_ms)} MILLISECONDS")
    col = F.col(ttl.source_field)
    return df.filter(col.isNull() | (col.cast("timestamp") >= cutoff))
