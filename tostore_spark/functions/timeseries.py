"""Time-series window features over event streams: lag/lead, moving
aggregates, cumulative sums — the feature-engineering staples for
sessionized event data.

Every window here is PARTITIONED (by the entity key), so the work spreads
across the cluster: one shuffle on the key, per-key ordered scan inside
each partition.  No unpartitioned window ever appears (the global-window
anti-pattern the plan audit guards against).  All semantics are exact
ANSI-SQL window functions, reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast
from tostore_spark.functions.colutil import epoch_us
from tostore_spark.pin import pin


def resample(df: DataFrame, partition: str, ts_field: str, value: str,
             interval_s: int, fill: str | None = "ffill") -> DataFrame:
    """Align each ``partition`` entity's series to a regular ``interval_s``
    grid: bucket-aggregate observations, generate the full per-entity grid
    between its first and last bucket, and fill the empty buckets.

    Output: (partition, bucket_ts, avg_value, n_obs, is_observed) — one
    row per entity per grid step.  ``fill``:

    - ``"ffill"``: carry the last observed bucket average forward.
    - ``"linear"``: linear interpolation between the surrounding observed
      buckets (edges fall back to nearest-observed).
    - ``None``: leave gap buckets null.

    Scale shape: the bucket aggregate and the grid join both shuffle on
    (entity, bucket) — uniform keys; the grid explode is per-entity and
    distributed; every window is entity-partitioned.  Grid length per
    entity is span/interval_s — pick the interval for the span you query
    (a year of seconds-granularity grid is 31M rows per entity; that is a
    data-volume choice, not an operator limit).

    Exactness: within-bucket averages use an order-independent DECIMAL
    sum over round(value, 6) divided double-side, so partial-aggregation
    order cannot perturb the float; the interpolation formula is fixed
    left-to-right IEEE double math reproducible in ANSI SQL.

    Reference scope: the reference has no time-series resampling — this
    is parity-plus alongside moving_features (SURVEY §2.5).
    """
    if fill not in (None, "ffill", "linear"):
        raise ValueError(f"fill must be None|'ffill'|'linear', got {fill!r}")
    iv_us = int(interval_s) * 1_000_000
    # floor division, not double-divide + cast: casting truncates toward
    # zero, so pre-1970 (negative-epoch) timestamps would land one bucket
    # high and diverge from the oracle's `//` semantics
    idx = F.floor(epoch_us(F.col(ts_field)) / F.lit(iv_us)).cast("bigint")
    # within-bucket exact aggregate.  Both the grid derivation and the
    # grid join read it, and unpinned the plan scans the SOURCE once per
    # reader (no ReusedExchange); the pin is bucket-granular, not
    # row-granular
    buckets = pin(df.groupBy(F.col(partition).alias("__ent"),
                             idx.alias("__idx"))
                    .agg(F.sum(F.round(F.col(value), 6)
                               .cast("decimal(28,6)")).alias("__vsum"),
                         F.count(value).alias("n_obs"))
                    .withColumn("avg_value",
                                F.col("__vsum").cast("double")
                                / F.col("n_obs"))
                    .drop("__vsum"))
    # per-entity grid: one row per step between first and last bucket
    grid = (buckets.groupBy("__ent")
                   .agg(F.min("__idx").alias("__lo"), F.max("__idx").alias("__hi"))
                   .select("__ent", F.explode(
                       F.sequence("__lo", "__hi")).alias("__idx")))
    out = (grid.join(buckets, ["__ent", "__idx"], "left")
               .withColumn("is_observed", F.col("n_obs").isNotNull())
               .withColumn("n_obs", F.coalesce("n_obs", F.lit(0))))
    w = Window.partitionBy("__ent").orderBy("__idx")
    if fill == "ffill":
        out = out.withColumn(
            "avg_value",
            F.last("avg_value", ignorenulls=True)
             .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    elif fill == "linear":
        wp = w.rowsBetween(Window.unboundedPreceding, 0)
        wn = w.rowsBetween(0, Window.unboundedFollowing)
        obs_idx = F.when(F.col("is_observed"), F.col("__idx"))
        out = (out
               .withColumn("__pv", F.last("avg_value", ignorenulls=True).over(wp))
               .withColumn("__pi", F.last(obs_idx, ignorenulls=True).over(wp))
               .withColumn("__nv", F.first("avg_value", ignorenulls=True).over(wn))
               .withColumn("__ni", F.first(obs_idx, ignorenulls=True).over(wn))
               .withColumn(
                   "avg_value",
                   F.when(F.col("is_observed"), F.col("avg_value"))
                    .when(F.col("__pv").isNull(), F.col("__nv"))
                    .when(F.col("__nv").isNull(), F.col("__pv"))
                    .otherwise(
                        F.col("__pv")
                        + (F.col("__nv") - F.col("__pv"))
                        * (F.col("__idx") - F.col("__pi")).cast("double")
                        / (F.col("__ni") - F.col("__pi")).cast("double")))
               .drop("__pv", "__pi", "__nv", "__ni"))
    return out.select(F.col("__ent").alias(partition),
                      F.timestamp_micros(F.col("__idx") * F.lit(iv_us))
                       .alias("bucket_ts"),
                      "avg_value", "n_obs", "is_observed")


def moving_time_features(df: DataFrame, partition: str, ts_field: str,
                         value: str, window_s: int) -> DataFrame:
    """Trailing TIME-window aggregates (vs ``moving_features``' row-count
    frames): for each event, avg/min/max/count of ``value`` over the
    last ``window_s`` seconds of the same entity, current row included.

    RANGE frames include all timestamp peers on both engines, so tied
    timestamps need no tie-break ordering.  The average uses the same
    order-independent DECIMAL sum as ``resample``.  One shuffle on the
    entity key; the frame scan is per-key within a partition."""
    us = int(window_s) * 1_000_000
    w = (Window.partitionBy(partition)
               .orderBy(epoch_us(F.col(ts_field)))
               .rangeBetween(-us, 0))
    v6 = F.round(F.col(value), 6).cast("decimal(28,6)")
    return df.select(
        "*",
        (F.sum(v6).over(w).cast("double")
         / F.count(value).over(w)).alias("t_avg"),
        F.min(F.col(value)).over(w).alias("t_min"),
        F.max(F.col(value)).over(w).alias("t_max"),
        F.count(value).over(w).alias("t_cnt"))


def ewma(df: DataFrame, partition: str, order: str | list[str],
         value: str, alpha: float = 0.3, window_rows: int = 20) -> DataFrame:
    """Exponentially-weighted moving average over the trailing
    ``window_rows`` rows (current included):

        ewma_t = Σⱼ (1−α)ʲ·x_{t−j} / Σⱼ (1−α)ʲ   (j = 0 .. n−1)

    The weight table is a LITERAL array computed once in Python and
    embedded in the plan — both the Spark expression and a SQL oracle
    consume the identical doubles, so no cross-engine ``pow`` ulp can
    fork the result; per-term products round to 9dp and sum as DECIMAL
    (order-independent).  One entity-partitioned window collects the
    trailing values; everything else is per-row array math.

    Null values are skipped (collect_list drops them): the average is
    over the up-to-``window_rows`` most recent NON-NULL observations,
    with weights re-anchored so the newest kept value has weight 1."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    k = int(window_rows)
    orders = [order] if isinstance(order, str) else list(order)
    w = (Window.partitionBy(partition).orderBy(*orders)
               .rowsBetween(-(k - 1), 0))
    # wfull[m] (1-based) = (1-alpha)^(k-m): oldest..newest, newest = 1
    wfull = [float((1.0 - alpha) ** (k - m)) for m in range(1, k + 1)]
    wlit = "array(" + ", ".join(repr(x) for x in wfull) + ")"
    xs = F.collect_list(F.round(F.col(value), 6)).over(w)
    num = (f"aggregate(zip_with(__xs, slice({wlit}, {k} - size(__xs) + 1,"
           f" size(__xs)), (x, wt) -> cast(round(x * wt, 9)"
           f" as decimal(28,9))), cast(0 as decimal(28,9)),"
           f" (a, t) -> cast(a + t as decimal(28,9)))")
    den = (f"aggregate(slice({wlit}, {k} - size(__xs) + 1, size(__xs)),"
           f" cast(0 as decimal(28,9)),"
           f" (a, wt) -> cast(a + cast(round(wt, 9) as decimal(28,9))"
           f" as decimal(28,9)))")
    return (df.withColumn("__xs", xs)
              .withColumn("ewma",
                          F.round(F.expr(num).cast("double")
                                  / F.expr(den).cast("double"), 9))
              .drop("__xs"))


def anomaly_zscore(df: DataFrame, partition: str, order: str | list[str],
                   value: str, window_rows: int = 20,
                   threshold: float = 3.0, min_obs: int = 5) -> DataFrame:
    """Rolling z-score anomaly flags: each row scored against the mean /
    stddev of the PRECEDING ``window_rows`` rows of its entity (the
    current row is excluded so it cannot mask its own spike).

    Adds ``zscore`` (null when the trailing window has fewer than
    ``min_obs`` observations or zero variance) and ``is_anomaly``.
    The moments are DECIMAL-rounded sums (n, Σx, Σx²) — exact and
    order-independent — with the variance/sqrt math in fixed double
    expressions, so an oracle reproduces the flags bit-for-bit.  One
    entity-partitioned window, no Python."""
    orders = [order] if isinstance(order, str) else list(order)
    w = (Window.partitionBy(partition).orderBy(*orders)
               .rowsBetween(-int(window_rows), -1))
    v6 = F.round(F.col(value), 6).cast("decimal(28,6)")
    n = F.count(value).over(w)
    s1 = F.sum(v6).over(w).cast("double")
    s2 = F.sum((v6 * v6).cast("decimal(38,12)")).over(w).cast("double")
    nn = n.cast("double")
    mean = s1 / nn
    var = (s2 - s1 * s1 / nn) / (nn - F.lit(1.0))
    z = F.round((F.col(value) - mean) / F.sqrt(var), 9)
    z = F.when((n >= int(min_obs)) & (var > 0), z)
    return (df.withColumn("zscore", z)
              .withColumn("is_anomaly",
                          F.coalesce(F.abs(F.col("zscore"))
                                     > F.lit(float(threshold)),
                                     F.lit(False))))


def moving_features(df: DataFrame, partition: str,
                    order: str | list[str], value: str,
                    window_rows: int = 5) -> DataFrame:
    """Per-``partition`` ordered features on ``value``:

    - ``lag_1`` / ``lead_1``: previous / next value
    - ``delta``: value - lag_1
    - ``moving_avg`` / ``moving_min`` / ``moving_max``: over the current
      and preceding ``window_rows - 1`` rows
    - ``cum_sum``: running total from the partition start
    - ``row_idx``: 1-based position within the partition

    Pass a list as ``order`` (e.g. ``["ts", "event_id"]``) to break
    timestamp ties deterministically."""
    orders = [order] if isinstance(order, str) else list(order)
    w_ord = Window.partitionBy(partition).orderBy(*orders)
    w_mov = w_ord.rowsBetween(-(window_rows - 1), 0)
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(value)
    return df.select(
        "*",
        F.lag(v, 1).over(w_ord).alias("lag_1"),
        F.lead(v, 1).over(w_ord).alias("lead_1"),
        (v - F.lag(v, 1).over(w_ord)).alias("delta"),
        F.avg(v).over(w_mov).alias("moving_avg"),
        F.min(v).over(w_mov).alias("moving_min"),
        F.max(v).over(w_mov).alias("moving_max"),
        F.sum(v).over(w_cum).alias("cum_sum"),
        F.row_number().over(w_ord).alias("row_idx"))


def rolling_distinct(df: DataFrame, ts_field: str, entity: str,
                     window_days: int = 7,
                     exact: bool = True) -> DataFrame:
    """Sliding count-distinct per day — the WAU/MAU family ("distinct
    users active in the trailing N days, for every day").

    Distinct is not subtractable, so no window frame can maintain it
    incrementally; the standard EXACT formulation is two-stage:

    1. day-grain dedup: ``distinct (day, entity)`` — ONE shuffle over
       the corpus and the big reduction (at 100 TB this collapses
       billions of events to |days| x |daily actives| rows);
    2. trailing-window expansion: every day joins the previous
       ``window_days`` of the DISTINCT frame (a range join whose build
       side is the tiny day list, broadcast) and counts distinct
       entities.  The expansion multiplies the distinct frame by
       ``window_days``, never the corpus.

    ``exact=False`` is the extreme-cardinality tier, where even the
    distinct frame is too wide to expand: ONE corpus aggregate builds a
    Datasketches HLL sketch PER DAY (map-side combining, constant
    memory per partition-day), and the trailing window unions the
    |days|-row SKETCH frame — sketch-merge IS subtotal-able, so the
    corpus is touched exactly once and the window expansion multiplies
    |days| x window_days sketch rows, independent of cardinality
    (~2% relative error at the default lgConfigK).  No DuckDB oracle
    can reproduce the sketch values, so this tier is certified by the
    pytest bound against the exact path, not an oracle entry.

    Output: (day, n_active), one row per day present in the data.

    Reference scope: parity-plus — the reference's aggregates
    (chain_builder.dart aggregate surface) have no sliding-distinct
    form; this is the standard analytics formulation on Spark.
    """
    day = F.to_date(F.col(ts_field).cast("timestamp"))
    cond = ((F.col("__day") <= F.col("day"))
            & (F.col("__day") > F.date_sub(F.col("day"), window_days)))
    if not exact:
        # materialize the |days|-row sketch frame ONCE: `days` re-derives
        # from it for the broadcast side, so without this the per-day
        # HLL aggregate (and its corpus scan) would execute twice
        per_day = pin(df.select(day.alias("__day"),
                                F.col(entity).alias("__ent"))
                        .groupBy("__day")
                        .agg(F.hll_sketch_agg("__ent").alias("__sk")))
        days = per_day.select(F.col("__day").alias("day"))
        # |days| rows, sized by the planner as the whole input
        return (per_day.join(broadcast(days), cond)
                       .groupBy("day")
                       .agg(F.hll_sketch_estimate(
                                F.hll_union_agg("__sk"))
                             .alias("n_active")))
    de = (df.select(day.alias("__day"), F.col(entity).alias("__ent"))
            .distinct())
    days = de.select(F.col("__day").alias("day")).distinct()
    # |days| rows: the planner sizes the distinct as the whole input
    return (de.join(broadcast(days), cond)
              .groupBy("day")
              .agg(F.count_distinct(F.col("__ent")).alias("n_active")))


def seasonal_decompose(df: DataFrame, partition: str, order: str,
                       value: str, period: int = 7) -> DataFrame:
    """Classical additive seasonal decomposition per entity series:
    ``value = trend + seasonal + resid``.  Trend is the centered
    ``period``-point moving average (null at the series edges, where
    the window is incomplete); seasonal is the per-phase mean of the
    detrended values, re-centered so one period's effects sum to ~0;
    resid is the remainder.  The standard pre-model pass for spotting
    weekly/daily cycles and cycle-adjusted anomalies in event volumes.

    ``period`` must be ODD (>= 3): the centered window is then exactly
    symmetric.  For even seasonality use the standard trick of an odd
    bracketing period or pre-smooth with ``resample``.

    Exactness (oracle-reproducible): all means are order-independent
    DECIMAL(28,6) sums of 6dp-rounded terms divided double-side as the
    LAST op; seasonal/resid are plain IEEE double subtractions of those
    quotients — no float accumulation anywhere.  The re-centering term
    is therefore the ROW-WEIGHTED mean of the detrended values (one
    exact DECIMAL sum) rather than the classical mean of phase means —
    identical when every phase has equal support, and the phase-mean
    form would need a second rounding of computed doubles, where
    engines' tie-rounding modes legitimately diverge.

    Scale shape: two entity-partitioned windows (rank + centered MA,
    one reducer per entity — series-length bound, same contract as
    ``ewma``/``resample``), one (entity, phase) hash-aggregate, and a
    broadcast join of the |entities| x period seasonal frame.

    Reference scope: parity-plus — the reference has no time-series
    operators (SURVEY.md §2.5).
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(
            f"period must be odd and >= 3, got {period} (the centered "
            "moving average needs a symmetric window; bracket even "
            "seasonality with period±1 or pre-smooth via resample)")
    h = period // 2
    w = Window.partitionBy(partition).orderBy(order)
    wc = w.rowsBetween(-h, h)
    vdec = F.round(F.col(value), 6).cast("decimal(28,6)")
    trend = F.when(
        F.count(F.lit(1)).over(wc) == period,
        F.sum(vdec).over(wc).cast("double") / F.lit(float(period)))
    base = (df.withColumn("__phase",
                          (F.row_number().over(w) - 1) % period)
              .withColumn("trend", trend))
    det = F.round(F.col(value) - F.col("trend"), 6).cast("decimal(28,6)")
    interior = base.filter(F.col("trend").isNotNull())
    ph = (interior.groupBy(partition, "__phase")
                  .agg((F.sum(det).cast("double")
                        / F.count(F.lit(1))).alias("__sraw")))
    cent = (interior.groupBy(partition)
                    .agg((F.sum(det).cast("double")
                          / F.count(F.lit(1))).alias("__c")))
    seas = (ph.join(cent, on=partition)
              .select(partition, "__phase",
                      (F.col("__sraw") - F.col("__c")).alias("seasonal")))
    # |entities| × period rows, sized by the planner as a join product
    return (base.join(broadcast(seas), on=[partition, "__phase"],
                      how="left")
                .withColumn(
                    "resid",
                    F.when(F.col("trend").isNotNull(),
                           F.col(value) - F.col("trend")
                           - F.col("seasonal")))
                .drop("__phase"))
