"""ANALYZE-style table statistics: the planning input for broadcast /
salting / bucketing decisions.

The reference exposes row counts and sizes through ``getTableInfo``
(table_info.dart via SURVEY §2.12's admin surface) and keeps per-field
B+tree metadata; the Spark-native counterpart is a one-pass column
statistics aggregate — row count, per-column null count, min/max, and
distinct counts — persisted as a tiny DataFrame so downstream planning
(is this dim broadcastable? is this key skewed enough to salt? which
columns are worth z-ordering?) reads stats instead of rescanning data.

Shape: ONE aggregate over the table computes every statistic (all
partials combine map-side; HLL sketches for ndv are constant-size per
partition).  ``exact_ndv`` swaps HLL for exact count_distinct — same
single-aggregate plan, used where bit-exactness matters (oracles) or
cardinalities are small.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast, size_bytes
from tostore_spark.localdf import local_df
from tostore_spark.pin import pin

#: row ceiling for the single-pass percentile tier (one-reducer sort)
_ONEPASS_MAX_ROWS = 4_000_000


def column_stats(df: DataFrame, cols: Optional[Sequence[str]] = None,
                 exact_ndv: bool = True) -> DataFrame:
    """Long-form statistics frame: one row per analyzed column —
    (column, n_rows, n_nulls, ndv, min_str, max_str).

    min/max are rendered as strings so heterogeneous column types share
    one schema (the consumer is planning logic, not arithmetic).
    ``exact_ndv=False`` uses HLL++ (approx_count_distinct) — the 100 TB
    default: constant memory per partition, ~2% error, same one-pass
    plan."""
    cols = list(cols) if cols else list(df.columns)
    ndv = (F.count_distinct if exact_ndv
           else lambda c: F.approx_count_distinct(c))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.when(col.isNull(), 1)).alias(f"__nul_{c}"),
            ndv(col).alias(f"__ndv_{c}"),
            F.min(col).cast("string").alias(f"__mn_{c}"),
            F.max(col).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    # reshape the 1-row aggregate long-form via ONE explode — a union of
    # per-column selects would re-evaluate the aggregate subtree (and
    # rescan the table) once per column
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nul_{c}").cast("long").alias("n_nulls"),
            F.col(f"__ndv_{c}").cast("long").alias("ndv"),
            F.col(f"__mn_{c}").alias("min_str"),
            F.col(f"__mx_{c}").alias("max_str"))
        for c in cols]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def exact_percentiles_frame(df: DataFrame, col: str,
                            fracs: Sequence[float],
                            round_dp: Optional[int] = None,
                            n_parts: Optional[int] = None) -> DataFrame:
    """Exact interpolated percentiles as a 1-row (``__bounds`` array)
    frame — the DISTRIBUTED order-statistic selection that replaces
    Spark's ``percentile`` aggregate for large inputs.

    ``percentile`` buffers a value→count map per partition inside an
    ObjectHashAggregate and merges the maps single-threaded — on a
    high-cardinality double column that is memory-heavy and slow (the
    4s/600k-row wall the bench caught; at 100 TB it simply OOMs).

    Algorithm (sketch-guided, exact by construction):

    1. ``approx_percentile`` proposes ``coarse`` bucket EDGES — the
       sketch affects only bucket BALANCE, never correctness (any
       partition of the value space works);
    2. one codegen hash-aggregate counts rows per bucket exactly →
       cumulative offsets over a |buckets|-row frame;
    3. each target rank maps to its bucket (tiny × tiny non-equi
       broadcast join), and ONLY the hit buckets' rows are window-sorted
       (bucket-partitioned) — local rank + bucket offset = exact global
       rank; the ≤ 2·|fracs| bracketing rows interpolate to the bounds.

    Per-reducer sort state is bounded even on pathological
    distributions: any NEEDED bucket whose exact count exceeds
    8·N/|buckets| is handled without a full window-sort — a CONSTANT
    bucket (min == max, the irreducible case a sketch can never split)
    resolves every rank to that constant directly, and a non-constant
    oversized bucket is recursively re-split with a second sketch pass
    over only that bucket's rows (depth-capped; the cap falls back to
    the window sort).  Tied values make the rank→row assignment
    ambiguous but the VALUE at any rank is well-defined, so the result
    is deterministic.

    The bucketed frame is PINNED (``tostore_spark.pin``) before
    the counting pass, so the exact counts and the rank-selection pass
    read the same rows even when the input lineage is non-deterministic
    (rand()/unseeded sample upstream) — without it, stage-3 ranks could
    disagree with stage-2 counts and mis-bracket.

    Driver traffic is KNOB-bounded, never data-sized (the similarity.py
    n_cells precedent): the edge list (≤ n_parts doubles), the bucket
    counts (≤ n_parts rows per level), and the ≤ 2·|fracs| bracketing
    values.

    SMALL-INPUT tier (r17): inputs at or below ``_ONEPASS_MAX_ROWS``
    (4M — a ~32 MB single-reducer sort, spillable) resolve in ONE
    single-pass job: a global sort window ranks the rows, a whole-frame count
    window carries n, and the ≤ 2·|fracs| bracketing rows are filtered
    in the SAME pass — no sketch job, no checkpoint, no counts
    round-trip (4 Spark jobs → 1).  The tier choice never affects the
    VALUES (exact order statistics either way, interpolated by the
    same driver arithmetic); it only trades job count against bounded
    reducer state, so mis-estimated plan sizes cost time, not
    correctness.  Inputs estimated over the ceiling (e.g. frames built
    from Python rows, which report no size) piggyback an exact count on
    the sketch job and branch on that instead (4 jobs → 2)."""
    spark = df.sparkSession
    vals = df.select(F.col(col).alias("__v")).filter(F.col("__v").isNotNull())
    nb = n_parts or max(32, 4 * len(fracs))
    est = size_bytes(vals)
    # pre-check on the optimizer's size estimate: ~8 payload bytes per
    # row of a single double column (over-estimates route to the big
    # tier — the safe direction)
    if est is not None and 0 <= est <= _ONEPASS_MAX_ROWS * 8:
        return _exact_onepass_bounds(spark, vals, fracs, round_dp)
    # sketch job (needed by the big tier anyway) + an exact count to
    # adjudicate the tier when the plan estimate was unusable
    probe = ", ".join(repr(i / nb) for i in range(1, nb))
    srow = vals.agg(
        F.expr(f"approx_percentile(__v, array({probe}), 1000)").alias("e"),
        F.count(F.lit(1)).alias("n")).first()
    if int(srow["n"]) <= _ONEPASS_MAX_ROWS:
        return _exact_onepass_bounds(spark, vals, fracs, round_dp)
    edges = sorted(set(srow["e"] or []))
    # ONE materialization total: the bucketed frame.  The sketch ran
    # over the raw (possibly non-deterministic) lineage — it only
    # influences bucket BALANCE, never correctness — and N, the rank
    # placement, the exact counts, and the selection all derive from
    # that single checkpointed frame, so counts and ranks can never
    # disagree.
    bucketed, counts, span, offs = _bucketize(spark, vals, nb, edges=edges)
    n = sum(counts.values())
    gfrac, items = {}, []
    if n:
        for i, f in enumerate(fracs):
            r = float(f) * (n - 1)
            glo, ghi = int(math.floor(r)), int(math.ceil(r))
            gfrac[i] = r - glo
            items.append(((i, "lo"), glo))
            items.append(((i, "hi"), ghi))
    if n == 0 or not gfrac:
        return local_df(spark, [([],)], "`__bounds` array<double>")
    resolved = _select_from_buckets(spark, bucketed, counts, span, offs,
                                    items, nb, depth=3)
    bounds = []
    for i in sorted(gfrac):
        vlo, vhi = resolved[(i, "lo")], resolved[(i, "hi")]
        v = vlo + gfrac[i] * (vhi - vlo)
        bounds.append(round(v, round_dp) if round_dp is not None else v)
    return local_df(spark, [(bounds,)], "`__bounds` array<double>")


def _exact_onepass_bounds(spark, vals: DataFrame, fracs, round_dp):
    """Single-pass exact interpolated percentiles for SMALL inputs: one
    global sort window (one reducer — bounded by the _ONEPASS_MAX_ROWS
    gate), rank + whole-frame count in the same pass, bracketing rows
    filtered in-plan.  Because ranks, n, and values all come from ONE
    evaluation, non-deterministic upstream lineage cannot desynchronize
    them — the property the big tier buys with its pin.
    Interpolation stays driver-side with arithmetic identical to the
    bucketed path (same doubles, same Python round)."""
    w = Window.orderBy("__v")
    ww = Window.partitionBy()
    ranked = vals.select(
        "__v",
        (F.row_number().over(w) - 1).alias("__rn"),
        F.count(F.lit(1)).over(ww).alias("__n"))
    cond = F.lit(False)
    for f in fracs:
        r = F.lit(float(f)) * (F.col("__n") - 1).cast("double")
        cond = cond | (F.col("__rn") == F.floor(r)) \
                    | (F.col("__rn") == F.ceil(r))
    hits = ranked.filter(cond).select("__rn", "__v", "__n").collect()
    if not hits:                       # empty input or empty fracs
        return local_df(spark, [([],)], "`__bounds` array<double>")
    byrank = {r["__rn"]: r["__v"] for r in hits}
    n = hits[0]["__n"]
    bounds = []
    for f in fracs:
        r = float(f) * (n - 1)
        glo, ghi = int(math.floor(r)), int(math.ceil(r))
        vlo, vhi = byrank[glo], byrank[ghi]
        v = vlo + (r - glo) * (vhi - vlo)
        bounds.append(round(v, round_dp) if round_dp is not None else v)
    return local_df(spark, [(bounds,)], "`__bounds` array<double>")


def _bucketize(spark, vals: DataFrame, nb: int, edges=None):
    """Sketch-propose bucket edges (unless the caller already ran the
    sketch and passes ``edges``), materialize the bucketed frame
    (a pin — the ONE materialization of the selection),
    and count each bucket exactly with its min/max.  Returns
    (bucketed frame, counts, (min,max) spans, cumulative offsets)."""
    if edges is None:
        probe = ", ".join(repr(i / nb) for i in range(1, nb))
        # stage 1: coarse edges (balance only — accuracy can be low)
        edge_row = vals.agg(F.expr(
            f"approx_percentile(__v, array({probe}), 1000)").alias("e")).first()
        edges = sorted(set(edge_row["e"] or []))
    if not edges:                      # empty input or all-equal sketch
        edges = [0.0]
    # codegen-friendly bucket id: a flat sum of literal comparisons
    # (a higher-order filter() over the edge array is interpreted, not
    # codegen — measured ~1.5x slower on this hot per-row path)
    bucket_id = None
    for e in edges:
        term = (F.col("__v") >= F.lit(float(e))).cast("int")
        bucket_id = term if bucket_id is None else bucket_id + term
    # pinned: the counting collect and the selection below read ONE
    # evaluation of the bucketed frame
    bucketed = pin(vals.withColumn("__b", bucket_id))
    # stage 2: exact per-bucket counts + min/max -> offsets (<= nb rows)
    cnt_rows = bucketed.groupBy("__b").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("__v").alias("mn"),
        F.max("__v").alias("mx")).collect()
    counts = {r["__b"]: r["c"] for r in cnt_rows}
    span = {r["__b"]: (r["mn"], r["mx"]) for r in cnt_rows}
    offs, acc = {}, 0
    for b in sorted(counts):
        offs[b] = acc
        acc += counts[b]
    return bucketed, counts, span, offs


def _select_from_buckets(spark, bucketed, counts, span, offs,
                         items, nb: int, depth: int) -> dict:
    """Exact distributed order-statistic selection over an already
    bucketized+materialized frame: resolve each (key, 0-based global
    rank) in ``items`` to the value at that rank of ``__v`` ascending.
    Constant buckets (min == max — the case no sketch can split) answer
    directly; oversized non-constant buckets re-bucketize ONLY their
    own rows with a fresh sketch (``depth`` levels, then the window
    sort); everything else window-sorts only the hit buckets."""
    if not items:
        return {}
    n = sum(counts.values())
    oversize = 8 * max(n // max(len(counts), 1), 1)
    out: dict = {}
    sort_need = []                     # (key, bucket, local_rank)
    recurse: dict = {}                 # bucket -> [(key, local_rank)]
    for key, rk in items:
        rk = min(max(int(rk), 0), n - 1)
        b = max(bb for bb in offs if offs[bb] <= rk)
        lrk = rk - offs[b]
        mn, mx = span[b]
        if mn == mx:
            out[key] = mn
        elif counts[b] > oversize and depth > 0:
            recurse.setdefault(b, []).append((key, lrk))
        else:
            sort_need.append((key, b, lrk))
    if sort_need:
        need_df = local_df(spark, 
            [(str(k), b, lr) for k, b, lr in sort_need],
            "__key string, __nb int, __lrank long")
        hit_b = sorted({b for _, b, _ in sort_need})
        w_rn = Window.partitionBy("__b").orderBy("__v")
        got = (bucketed.filter(F.col("__b").isin(hit_b))
                       .withColumn("__lrn", F.row_number().over(w_rn) - 1)
                       .join(need_df,
                             (F.col("__b") == F.col("__nb"))
                             & (F.col("__lrn") == F.col("__lrank")))
                       .select("__key", "__v").collect())
        by_key = {r["__key"]: r["__v"] for r in got}
        for k, b, lr in sort_need:
            out[k] = by_key[str(k)]
    for b, sub_items in recurse.items():
        sub = bucketed.filter(F.col("__b") == b).select("__v")
        sb, sc, ss, so = _bucketize(spark, sub, nb)
        out.update(_select_from_buckets(spark, sb, sc, ss, so,
                                        sub_items, nb, depth - 1))
    return out


def column_histogram(df: DataFrame, col: str, n_buckets: int = 10,
                     exact: bool = True, round_dp: int = 6) -> DataFrame:
    """Equi-height histogram for one numeric column: (bucket, lo, hi,
    n_rows, ndv) with boundaries at the exact interpolated percentiles —
    the selectivity-estimation artifact ``ANALYZE TABLE ... FOR COLUMNS``
    keeps in Spark's own catalog, here as a queryable DataFrame feeding
    the same planning loop as ``column_stats``/``join_advice``.

    Two passes by construction (exact equi-height bounds cannot be known
    during the counting pass): one boundary aggregate — broadcast back
    in-plan, never collected — then one bucket-count aggregate.
    ``exact=False`` swaps in approx_percentile for the 100 TB run:
    constant memory, same plan shape.

    Boundaries are rounded to ``round_dp`` before bucketing AND in the
    output (the q_quality_filter precedent): interpolated doubles differ
    in the last ulp across engines, which would flip boundary rows and
    break value-hash parity; data values sit >= one data-gap away from a
    rounded bound, so the comparison is stable."""
    fracs = [i / n_buckets for i in range(n_buckets + 1)]
    if exact:
        # distributed order-statistic selection (see
        # exact_percentiles_frame) — percentile()'s value-map aggregate
        # is memory-heavy on high-cardinality columns
        bounds = exact_percentiles_frame(df, col, fracs, round_dp=round_dp)
    else:
        arr = ", ".join(repr(f) for f in fracs)
        bounds = df.agg(F.expr(
            f"transform(approx_percentile(`{col}`, array({arr})),"
            f" b -> round(b, {round_dp}))").alias("__bounds"))
    # flat indicator sum over the interior bounds instead of a
    # higher-order filter() — HOF lambdas are interpreted, not codegen
    # (the _bucketize comment's measured ~1.5x on hot per-row paths);
    # count of matching elements == sum of indicators, order-free
    bucket = F.least(
        F.lit(n_buckets - 1),
        sum((F.col(col) >= F.element_at("__bounds", i)).cast("int")
            for i in range(2, n_buckets + 1))).cast("int")
    return (df.filter(F.col(col).isNotNull())
              .crossJoin(bounds)
              .withColumn("bucket", bucket)
              .groupBy("bucket")
              .agg(F.first(F.expr("element_at(__bounds, bucket + 1)"))
                    .alias("lo"),
                   F.first(F.expr("element_at(__bounds, bucket + 2)"))
                    .alias("hi"),
                   F.count(F.lit(1)).alias("n_rows"),
                   F.count_distinct(F.col(col)).alias("ndv")))


def column_sketches(df: DataFrame,
                    cols: Optional[Sequence[str]] = None,
                    lg_k: int = 12) -> DataFrame:
    """MERGEABLE column statistics: one row per column of (column,
    n_rows, n_nulls, ndv_sketch) where ndv_sketch is a Datasketches
    HLL sketch (binary, ~2^lg_k bytes).  Unlike ``column_stats`` —
    whose exact/approx ndv numbers cannot be combined after the fact —
    sketches UNION losslessly: compute them per ingest batch (or per
    partition of a 100 TB table), persist the tiny frames, and
    ``merge_column_sketches`` folds any subset into corpus-level stats
    without ever rescanning data.  Values hash through a canonical
    string rendering so every column type shares one sketch domain."""
    cols = list(cols) if cols else list(df.columns)
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count(F.when(col.isNull(), 1)).alias(f"__nul_{c}"),
            F.hll_sketch_agg(col.cast("string"), F.lit(lg_k))
             .alias(f"__sk_{c}"),
        ]
    one = df.agg(*aggs)
    structs = [
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__n_{c}").cast("long").alias("n_rows"),
                 F.col(f"__nul_{c}").cast("long").alias("n_nulls"),
                 F.col(f"__sk_{c}").alias("ndv_sketch"))
        for c in cols]
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def merge_column_sketches(*sketch_frames: DataFrame) -> DataFrame:
    """Fold any number of ``column_sketches`` frames (different batches,
    partitions, or days) into one: counts add, sketches HLL-union —
    the merge reads only the |columns|-row artifacts, never the data.
    Returns the same schema plus ``ndv_est`` (the estimate from the
    merged sketch)."""
    if not sketch_frames:
        raise ValueError("merge_column_sketches needs at least one frame")
    u = sketch_frames[0]
    for f in sketch_frames[1:]:
        u = u.unionByName(f)
    return (u.groupBy("column")
             .agg(F.sum("n_rows").cast("long").alias("n_rows"),
                  F.sum("n_nulls").cast("long").alias("n_nulls"),
                  F.hll_union_agg("ndv_sketch").alias("ndv_sketch"))
             .withColumn("ndv_est",
                         F.hll_sketch_estimate("ndv_sketch").cast("long")))


def column_corr(df: DataFrame, cols: Sequence[str],
                scale: int = 4) -> DataFrame:
    """Pairwise Pearson correlations for numeric columns, engine-exact:
    one long-form row (col_x, col_y, n, corr) per unordered pair — the
    column-affinity input for z-order clustering choices (correlated
    columns share sort benefit) and redundant-predicate detection.

    ONE aggregate computes every pairwise moment; the sums go through
    DECIMAL(18,``scale``) per value (exact, order-independent — the
    repo-wide float policy), so the assembled correlation is
    bit-identical regardless of partitioning or engine.  Null handling
    is pairwise-complete: each pair's moments count only rows where both
    columns are non-null."""
    cols = list(cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    dec = f"decimal(18,{scale})"

    def _m(c: Column, alias: str) -> Column:
        return F.sum(c).cast("double").alias(alias)

    aggs = []
    for a, b in pairs:
        x, y = F.col(a), F.col(b)
        both = x.isNotNull() & y.isNotNull()
        xd = F.when(both, x.cast(dec))
        yd = F.when(both, y.cast(dec))
        p = f"{a}__{b}"
        aggs += [
            F.count(F.when(both, 1)).alias(f"__n_{p}"),
            _m(xd, f"__sx_{p}"), _m(yd, f"__sy_{p}"),
            _m(xd * yd, f"__sxy_{p}"),
            _m(xd * xd, f"__sxx_{p}"), _m(yd * yd, f"__syy_{p}"),
        ]
    one = df.agg(*aggs)
    # single-explode reshape (see column_stats): one aggregate
    # evaluation, one table scan, regardless of pair count
    structs = []
    for a, b in pairs:
        p = f"{a}__{b}"
        n = F.col(f"__n_{p}").cast("double")
        sx, sy = F.col(f"__sx_{p}"), F.col(f"__sy_{p}")
        sxy = F.col(f"__sxy_{p}")
        sxx, syy = F.col(f"__sxx_{p}"), F.col(f"__syy_{p}")
        corr = ((n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
        structs.append(
            F.struct(F.lit(a).alias("col_x"), F.lit(b).alias("col_y"),
                     F.col(f"__n_{p}").cast("long").alias("n"),
                     corr.alias("corr")))
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def estimate_selectivity(hist, lo=None, hi=None) -> float:
    """Estimated fraction of rows a range predicate ``[lo, hi]``
    selects, linearly interpolated from a ``column_histogram`` result —
    the classic equi-height estimate (worst-case error ~1/n_buckets).
    Driver-side on the |buckets|-row artifact, which is the point: the
    planner asks this instead of scanning.  ``None`` bounds are open."""
    rows = hist.collect() if hasattr(hist, "collect") else list(hist)
    total = sum(r["n_rows"] for r in rows)
    if total == 0:
        return 0.0
    hit = 0.0
    for r in rows:
        blo, bhi, n = float(r["lo"]), float(r["hi"]), r["n_rows"]
        a = blo if lo is None else max(float(lo), blo)
        b = bhi if hi is None else min(float(hi), bhi)
        if b < a:
            continue
        width = bhi - blo
        frac = 1.0 if width <= 0 else max(0.0, min(1.0, (b - a) / width))
        hit += n * frac
    return hit / total


def analyze_table(engine, table: str,
                  cols: Optional[Sequence[str]] = None,
                  exact_ndv: bool = False) -> DataFrame:
    """Compute (and cache on the engine, keyed by table generation so
    any write invalidates) the statistics frame for a registered table."""
    key = (engine._resolve(table), engine.generation(table),
           tuple(cols) if cols else None, exact_ndv)
    cache = getattr(engine, "_stats_cache", None)
    if cache is None:
        cache = engine._stats_cache = {}
    if key not in cache:
        # evict only THIS table's stale-generation entries — stats for
        # other tables stay valid (join_advice reads two tables per call)
        for k in list(cache):
            if k[0] == key[0] and k[1] != key[1]:
                del cache[k]
        cache[key] = pin(column_stats(engine.df(table), cols,
                                      exact_ndv=exact_ndv), eager=True)
    return cache[key]


def join_advice(engine, left: str, right: str, key,
                broadcast_threshold_rows: int = 1_000_000,
                skew_share: float = 0.05,
                bloom_ratio: float = 100.0) -> dict:
    """Stats-driven join strategy recommendation — the planning loop the
    statistics exist for.  Reads ONLY the cached ``analyze_table``
    frames plus one bounded heavy-hitter probe (output <= 1/skew_share
    rows); never rescans data it already has stats for.

    ``key``: one name used on both sides, or a (left_key, right_key)
    pair.  Returns {"strategy": "broadcast" | "salt" | "shuffle", ...}:
    - broadcast: either side's row count is under the threshold — ship
      the small side, the big side never shuffles;
    - salt: both sides big AND the join key on the bigger side has a
      heavy hitter holding >= ``skew_share`` of the table — a plain
      shuffle would funnel that key into one reducer
      (``functions/skew.salted_join`` is the matching executor);
    - shuffle: both big, key uniform — AQE's shuffle join is right;
      bucket both sides (``engine.bucket_table``) if the join repeats.

    Shuffle advice additionally carries ``prefilter: "bloom"`` when the
    small side, while over the broadcast threshold, is at least
    ``bloom_ratio`` times smaller than the big side: a
    ``functions/bloom.bloom_join`` bitmap (128 KB at 1 Mbit) then prunes
    the big side's shuffle to ~the matching sliver for far less than the
    rows it saves — the runtime-filter regime between "broadcastable"
    and "both genuinely big".
    """
    from tostore_spark.functions.skew import heavy_hitters

    lk, rk = (key, key) if isinstance(key, str) else key
    keys = {left: lk, right: rk}

    def _rows(t):
        return analyze_table(engine, t, cols=[keys[t]]).first()["n_rows"]

    ln, rn = _rows(left), _rows(right)
    small, big = (left, right) if ln <= rn else (right, left)
    out = {"left_rows": ln, "right_rows": rn, "key": (lk, rk)}
    if min(ln, rn) < broadcast_threshold_rows:
        return {**out, "strategy": "broadcast", "broadcast_side": small}
    bk = keys[big]
    hot = (heavy_hitters(engine.df(big), [bk], min_share=skew_share)
           .orderBy(F.col("share").desc()).limit(5).collect())
    if hot:
        return {**out, "strategy": "salt", "skewed_side": big,
                "hot_keys": [(r[bk], round(r.share, 4)) for r in hot]}
    if max(ln, rn) >= bloom_ratio * min(ln, rn):
        return {**out, "strategy": "shuffle", "prefilter": "bloom",
                "bloom_build_side": small}
    return {**out, "strategy": "shuffle"}


def clip_outliers(df: DataFrame, col: str,
                  lower: float = 0.01, upper: float = 0.99,
                  mode: str = "clip", exact: bool = True,
                  round_dp: int = 6) -> DataFrame:
    """Percentile winsorization: ``clip`` replaces values outside the
    [lower, upper] exact interpolated percentiles with the bound (adds
    ``{col}_clipped``), ``filter`` drops those rows.  Bounds come from
    ``exact_percentiles_frame`` (scale-safe; ``exact=False`` swaps in
    approx_percentile) rounded to ``round_dp`` — engine-portable, the
    histogram contract — and fold in as a broadcast 1-row frame.
    Nulls pass through unclipped (missing, not out-of-range)."""
    if mode not in ("clip", "filter"):
        raise ValueError("mode must be 'clip' or 'filter'")
    if not 0 <= lower < upper <= 1:
        raise ValueError("need 0 <= lower < upper <= 1")
    if exact:
        bounds = exact_percentiles_frame(df, col, [lower, upper],
                                         round_dp=round_dp)
    else:
        bounds = df.agg(F.expr(
            f"transform(approx_percentile(`{col}`,"
            f" array({lower!r}, {upper!r})),"
            f" b -> round(b, {round_dp}))").alias("__bounds"))
    out = df.crossJoin(bounds)
    lo = F.element_at("__bounds", 1)
    hi = F.element_at("__bounds", 2)
    c = F.col(col)
    if mode == "filter":
        return out.filter(c.isNull() | c.between(lo, hi)).drop("__bounds")
    return (out.withColumn(
                f"{col}_clipped",
                F.when(c.isNull(), c).otherwise(F.least(F.greatest(c, lo),
                                                        hi)))
               .drop("__bounds"))


def grouped_percentiles_frame(df: DataFrame, by: str, col: str,
                              fracs: Sequence[float],
                              round_dp: Optional[int] = None,
                              exact: bool = True) -> DataFrame:
    """Interpolated percentiles PER GROUP, long form: one row per
    (group, frac) of (``by``, p, value) — the grouped counterpart of
    ``exact_percentiles_frame``.

    EXACT shape (default): ONE group-partitioned sort window assigns
    in-group ranks and sizes, then ONE hash-aggregate picks each
    frac's bracketing rows with conditional max/min — no
    ``percentile`` value-map aggregate anywhere.  Spark's window sort
    is spillable (external sort per group within a reducer), so a wide
    group degrades to disk instead of OOM — the property the value-map
    aggregate lacks and the reason this path exists
    (``llmops.lm.ppl_buckets`` routes its per-group thresholds here).
    Skew caveat: one GROUP still lands on one reducer — the window's
    partition key is the group; for a group worth a meaningful
    fraction of 100 TB, compute that group alone through the ungrouped
    ``exact_percentiles_frame`` (whose buckets distribute WITHIN the
    column).

    APPROX shape (``exact=False``): ONE hash-aggregate of per-group
    ``approx_percentile`` sketches (GK, accuracy 10000 ≈ 0.01%%
    rank error) — the 100 TB tier for MILLIONS of groups, where even a
    spillable per-group sort is the wrong cost class: sketches combine
    map-side in constant memory per (partition, group), no window, no
    sort, no single-reducer group.  Same long-form output schema, so
    callers swap tiers with one flag (the ndv precedent:
    ``column_stats(exact_ndv=False)``).

    Interpolation (exact tier) is the standard linear rule on ranks
    f·(n−1); nulls are excluded per group.  Deterministic: ties in
    ``col`` make the rank→row map ambiguous but the value at any rank
    is well-defined.
    """
    fr = [float(f) for f in fracs]
    if not fr:
        raise ValueError("fracs must be non-empty")
    vals = df.select(F.col(by).alias("__g"), F.col(col).alias("__v")) \
             .filter(F.col("__v").isNotNull())
    if not exact:
        probe = ", ".join(repr(f) for f in fr)
        agg_a = vals.groupBy(F.col("__g").alias(by)).agg(
            F.expr(f"approx_percentile(__v, array({probe}), 10000)")
             .alias("__qs"))
        structs_a = []
        for i, f in enumerate(fr):
            v = F.col("__qs").getItem(i).cast("double")
            if round_dp is not None:
                v = F.round(v, round_dp)
            structs_a.append(F.struct(F.lit(f).alias("p"),
                                      v.alias("value")))
        return (agg_a.select(by, F.explode(F.array(*structs_a))
                                  .alias("__s"))
                     .select(by, "__s.p", "__s.value"))
    w = Window.partitionBy("__g").orderBy("__v")
    wn = Window.partitionBy("__g")
    ranked = vals.select(
        "__g", "__v",
        (F.row_number().over(w) - 1).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"))
    aggs = []
    for i, f in enumerate(fr):
        r = F.lit(f) * (F.col("__n") - 1).cast("double")
        vlo = F.max(F.when(F.col("__rn") == F.floor(r), F.col("__v")))
        vhi = F.max(F.when(F.col("__rn") == F.ceil(r), F.col("__v")))
        gfrac = F.max(r - F.floor(r).cast("double"))
        aggs += [vlo.alias(f"__lo{i}"), vhi.alias(f"__hi{i}"),
                 gfrac.alias(f"__gf{i}")]
    agg = ranked.groupBy(F.col("__g").alias(by)).agg(*aggs)
    structs = []
    for i, f in enumerate(fr):
        v = (F.col(f"__lo{i}")
             + F.col(f"__gf{i}") * (F.col(f"__hi{i}") - F.col(f"__lo{i}")))
        if round_dp is not None:
            v = F.round(v, round_dp)
        structs.append(F.struct(F.lit(f).alias("p"), v.alias("value")))
    return (agg.select(by, F.explode(F.array(*structs)).alias("__s"))
               .select(by, "__s.p", "__s.value"))


def clip_outliers_grouped(df: DataFrame, by: str, col: str,
                          lower: float = 0.01, upper: float = 0.99,
                          mode: str = "clip",
                          round_dp: int = 6) -> DataFrame:
    """Per-group winsorization: clip (or filter) each row against ITS
    group's exact [lower, upper] percentile bounds — the per-source /
    per-language form of ``clip_outliers`` (a global clip over a mixed
    corpus clips the small sources by the big ones' distribution).

    Bounds come from ``grouped_percentiles_frame`` (one spillable
    group-partitioned sort window, no percentile value-map) and join
    back on the group key — a tiny |groups|×2 frame, broadcast (hinted).
    Nulls pass through unclipped.  Adds ``{col}_clipped`` in clip
    mode."""
    if mode not in ("clip", "filter"):
        raise ValueError("mode must be 'clip' or 'filter'")
    if not 0 <= lower < upper <= 1:
        raise ValueError("need 0 <= lower < upper <= 1")
    gp = grouped_percentiles_frame(df, by, col, [lower, upper],
                                   round_dp=round_dp)
    bounds = gp.groupBy(by).agg(
        F.max(F.when(F.col("p") == float(lower), F.col("value")))
         .alias("__lo"),
        F.max(F.when(F.col("p") == float(upper), F.col("value")))
         .alias("__hi"))
    # |groups| rows: the planner sizes a grouped aggregate by its input
    out = df.join(broadcast(bounds), on=by, how="left")
    c = F.col(col)
    if mode == "filter":
        return (out.filter(c.isNull() | c.between(F.col("__lo"),
                                                  F.col("__hi")))
                   .drop("__lo", "__hi"))
    return (out.withColumn(
                f"{col}_clipped",
                F.when(c.isNull(), c).otherwise(
                    F.least(F.greatest(c, F.col("__lo")), F.col("__hi"))))
               .drop("__lo", "__hi"))


def drift_report(ref: DataFrame, cur: DataFrame, col: str,
                 n_buckets: int = 10, smooth: float = 0.5) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard drift gate between a reference corpus (what
    the model/filters were tuned on) and the current batch.  Buckets
    are equal-width over the REFERENCE min/max (plus one underflow and
    one overflow bucket, so a shifted current batch registers instead
    of clamping silently); per-bucket shares are add-``smooth``
    smoothed so empty buckets stay finite; psi contribution =
    (p_cur - p_ref) * ln(p_cur / p_ref), total PSI = their sum
    (industry rule of thumb: < 0.1 stable, > 0.25 shifted).

    Output: one row per bucket (bucket, lo, hi, n_ref, n_cur, p_ref,
    p_cur, psi) ordered by bucket, with the same ``psi_total`` on
    every row.  The sentinel rows' lo/hi extend one bucket-width
    beyond the reference range (they are catch-alls for ANY out-of-
    range value, not true brackets).  Null values are excluded from both sides (report them
    via ``column_stats`` null counts — a null-rate shift is its own
    signal, not a histogram bucket).

    Exactness: bucket ids are floor((x - min)/width) over doubles both
    engines compute identically; shares divide exact counts
    double-side; psi rounds to 12dp because ln is NOT correctly-
    rounded — JVM and libm legitimately differ by 1 ulp on the same
    input, and 12dp absorbs it while keeping ~8 significant digits at
    PSI magnitudes.

    Scale shape: two column min/max aggregates, two bucket-count
    hash-aggregates (map-side combining, <= n_buckets+2 rows out), a
    broadcast constants join — three linear scans total, no shuffle
    beyond the tiny bucket key.  Reference scope: parity-plus (the
    reference has ANALYZE-style stats only, table_statistics.dart).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if smooth <= 0:
        raise ValueError(f"smooth must be > 0, got {smooth}")
    c = F.col(col)
    bounds = (ref.filter(c.isNotNull())
                 .agg(F.min(c).cast("double").alias("__mn"),
                      F.max(c).cast("double").alias("__mx")))

    def counts(df, name):
        x = c.cast("double")
        # interior buckets 0..n-1; -1 = underflow, n = overflow; a
        # degenerate reference (min == max) puts everything in bucket 0
        b = (F.when(x < F.col("__mn"), F.lit(-1))
              .when(x > F.col("__mx"), F.lit(n_buckets))
              .when(F.col("__mx") == F.col("__mn"), F.lit(0))
              .otherwise(
                  F.least(F.floor((x - F.col("__mn"))
                                  / ((F.col("__mx") - F.col("__mn"))
                                     / F.lit(float(n_buckets))))
                           .cast("int"),
                          F.lit(n_buckets - 1))))
        return (df.filter(c.isNotNull())
                  .crossJoin(bounds)
                  .groupBy(b.alias("bucket"))
                  .agg(F.count(F.lit(1)).alias(name)))

    nb_all = n_buckets + 2    # + underflow + overflow
    grid = (ref.sparkSession.range(-1, n_buckets + 1)
               .select(F.col("id").cast("int").alias("bucket")))
    j = (grid.join(counts(ref, "n_ref"), on="bucket", how="left")
             .join(counts(cur, "n_cur"), on="bucket", how="left")
             .crossJoin(bounds)
             .withColumn("n_ref", F.coalesce("n_ref", F.lit(0)))
             .withColumn("n_cur", F.coalesce("n_cur", F.lit(0))))
    tot = j.agg(F.sum("n_ref").alias("__tr"),
                F.sum("n_cur").alias("__tc"))
    sm = F.lit(float(smooth))
    out = (j.crossJoin(tot)
            .withColumn("p_ref", (F.col("n_ref") + sm)
                        / (F.col("__tr") + sm * F.lit(float(nb_all))))
            .withColumn("p_cur", (F.col("n_cur") + sm)
                        / (F.col("__tc") + sm * F.lit(float(nb_all))))
            .withColumn("psi", F.round(
                (F.col("p_cur") - F.col("p_ref"))
                * F.log(F.col("p_cur") / F.col("p_ref")), 12)))
    # sentinel rows get finite edges one bucket-width beyond the
    # reference range (catch-alls, not real brackets — infinities
    # would be honest but break float normalization downstream)
    w = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_buckets))
    # materialize the <= n_buckets+2-row bucket frame ONCE before the
    # psi_total aggregate re-reads it — otherwise the total's lineage
    # re-executes both side scans a second time
    out = pin(out.withColumn("lo", F.col("__mn") + F.col("bucket") * w)
                 .withColumn("hi", F.col("__mn")
                                   + (F.col("bucket") + 1) * w)
                 .select("bucket", "lo", "hi", "n_ref", "n_cur",
                         "p_ref", "p_cur", "psi"))
    psi_total = out.agg(F.sum(
        F.round(F.col("psi"), 9).cast("decimal(28,9)")).cast("double")
        .alias("psi_total"))
    return (out.crossJoin(psi_total)
               .select("bucket", "lo", "hi", "n_ref", "n_cur",
                       "p_ref", "p_cur", "psi", "psi_total")
               .orderBy("bucket"))


def drift_report_categorical(ref: DataFrame, cur: DataFrame, col: str,
                             smooth: float = 0.5) -> DataFrame:
    """PSI drift for a CATEGORICAL column (source, language, label
    mix) — the corpus-mix companion of ``drift_report``: one row per
    category over the UNION of both snapshots' categories (a category
    that appears or vanishes registers instead of being dropped),
    add-``smooth`` smoothed shares, psi contribution
    (p_cur - p_ref) * ln(p_cur / p_ref) rounded to 12dp (ln is not
    correctly-rounded across engines), total on every row.  Nulls
    count as their own ``(null)`` category — a null-rate shift IS mix
    drift for a categorical column.

    Scale shape: two category hash-aggregates (map-side combining,
    |categories| rows out) + a full-outer category join + broadcast
    totals — two linear scans, category-key shuffle only.
    """
    if smooth <= 0:
        raise ValueError(f"smooth must be > 0, got {smooth}")
    key = F.coalesce(F.col(col).cast("string"), F.lit("(null)"))

    def counts(df, name):
        return (df.groupBy(key.alias("category"))
                  .agg(F.count(F.lit(1)).alias(name)))

    j = (counts(ref, "n_ref")
         .join(counts(cur, "n_cur"), on="category", how="full_outer")
         .withColumn("n_ref", F.coalesce("n_ref", F.lit(0)))
         .withColumn("n_cur", F.coalesce("n_cur", F.lit(0))))
    tot = j.agg(F.sum("n_ref").alias("__tr"),
                F.sum("n_cur").alias("__tc"),
                F.count(F.lit(1)).alias("__k"))
    sm = F.lit(float(smooth))
    out = (j.crossJoin(tot)
            .withColumn("p_ref", (F.col("n_ref") + sm)
                        / (F.col("__tr") + sm * F.col("__k")))
            .withColumn("p_cur", (F.col("n_cur") + sm)
                        / (F.col("__tc") + sm * F.col("__k")))
            .withColumn("psi", F.round(
                (F.col("p_cur") - F.col("p_ref"))
                * F.log(F.col("p_cur") / F.col("p_ref")), 12)))
    # materialize the |categories|-row frame ONCE before psi_total
    # re-reads it (else both side scans execute a second time)
    out = pin(out.select("category", "n_ref", "n_cur", "p_ref", "p_cur",
                         "psi"))
    psi_total = out.agg(F.sum(
        F.round(F.col("psi"), 9).cast("decimal(28,9)")).cast("double")
        .alias("psi_total"))
    return (out.crossJoin(psi_total)
               .select("category", "n_ref", "n_cur", "p_ref", "p_cur",
                       "psi", "psi_total")
               .orderBy("category"))


def drift_report_quantile(ref: DataFrame, cur: DataFrame, col: str,
                          n_buckets: int = 10, smooth: float = 0.5,
                          exact: bool = True) -> DataFrame:
    """PSI over REFERENCE-QUANTILE buckets — the practitioner-standard
    decile form of ``drift_report``: bucket edges are the reference's
    exact interior percentiles (via the distributed order-statistic
    path, rounded to 6dp so the edges themselves are engine-portable),
    so every reference bucket holds ~1/n of the mass and the PSI is
    sensitive across the whole distribution instead of only where
    equal-width bins happen to land.  Out-of-range current values fall
    into the end buckets (the standard decile-PSI convention — use
    ``drift_report`` when explicit under/overflow sentinels matter).

    Output: one row per bucket (bucket, edge_lo, edge_hi as the
    bracketing percentile EDGES — the end buckets' outer edge is the
    bucket's own first/last edge, open-ended by convention), counts,
    smoothed shares, 12dp psi contribution, total on every row.

    Scale shape: the default edge derivation is the
    ``exact_percentiles_frame`` machinery (sketch-guided, bounded
    reducers; ≤ n_buckets-1 doubles of driver traffic — the
    knob-bounded precedent), then ONE bucket-count hash-aggregate per
    side over literal edge comparisons.  Same two linear counting
    scans as the equal-width form.  ``exact=False`` (the 100 TB
    per-batch-gate tier) derives the edges from ONE
    ``approx_percentile`` aggregate instead (GK sketch, accuracy
    10000 ≈ 0.01% rank error) — a single plain scan, no refinement
    loop; edges off by ~0.01% rank move only the boundary-straddling
    mass between adjacent buckets, so the PSI shifts by O(edge
    error); pytest-bounded against the exact tier, no oracle entry.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if smooth <= 0:
        raise ValueError(f"smooth must be > 0, got {smooth}")
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    refv = ref.filter(F.col(col).isNotNull())
    if exact:
        edges = exact_percentiles_frame(
            refv, col, fracs, round_dp=6).first()["__bounds"]
    else:
        probe = ", ".join(repr(f) for f in fracs)
        edges = refv.agg(F.expr(
            f"transform(approx_percentile(cast(`{col}` as double),"
            f" array({probe}), 10000), b -> round(b, 6))")
            .alias("__b")).first()["__b"]
    if not edges:
        raise ValueError(f"reference has no non-null values in {col!r}")
    edges = [float(e) for e in edges]

    x = F.col(col).cast("double")
    bucket = sum((x > F.lit(float(e))).cast("int") for e in edges)

    def counts(df, name):
        return (df.filter(F.col(col).isNotNull())
                  .groupBy(bucket.alias("bucket"))
                  .agg(F.count(F.lit(1)).alias(name)))

    grid = (ref.sparkSession.range(0, n_buckets)
               .select(F.col("id").cast("int").alias("bucket")))
    j = (grid.join(counts(ref, "n_ref"), on="bucket", how="left")
             .join(counts(cur, "n_cur"), on="bucket", how="left")
             .withColumn("n_ref", F.coalesce("n_ref", F.lit(0)))
             .withColumn("n_cur", F.coalesce("n_cur", F.lit(0))))
    tot = j.agg(F.sum("n_ref").alias("__tr"),
                F.sum("n_cur").alias("__tc"))
    sm = F.lit(float(smooth))
    nb = float(n_buckets)
    out = (j.crossJoin(tot)
            .withColumn("p_ref", (F.col("n_ref") + sm)
                        / (F.col("__tr") + sm * F.lit(nb)))
            .withColumn("p_cur", (F.col("n_cur") + sm)
                        / (F.col("__tc") + sm * F.lit(nb)))
            .withColumn("psi", F.round(
                (F.col("p_cur") - F.col("p_ref"))
                * F.log(F.col("p_cur") / F.col("p_ref")), 12)))
    # bracketing EDGES: bucket 0 is (-inf, e0] -> edge_lo = e0 (its own
    # first edge); bucket n-1 is (e_last, inf) -> edge_hi = e_last
    lo_map = F.array(*[F.lit(float(e)) for e in [edges[0]] + edges])
    hi_map = F.array(*[F.lit(float(e)) for e in edges + [edges[-1]]])
    # materialize the n_buckets-row frame ONCE before psi_total
    # re-reads it (else both side counting scans execute twice)
    out = pin(out.withColumn("edge_lo",
                             F.element_at(lo_map, F.col("bucket") + 1))
                 .withColumn("edge_hi",
                             F.element_at(hi_map, F.col("bucket") + 1))
                 .select("bucket", "edge_lo", "edge_hi", "n_ref",
                         "n_cur", "p_ref", "p_cur", "psi"))
    psi_total = out.agg(F.sum(
        F.round(F.col("psi"), 9).cast("decimal(28,9)")).cast("double")
        .alias("psi_total"))
    return (out.crossJoin(psi_total)
               .select("bucket", "edge_lo", "edge_hi", "n_ref",
                       "n_cur", "p_ref", "p_cur", "psi", "psi_total")
               .orderBy("bucket"))


def robust_outliers(df: DataFrame, col: str, k: float = 3.5,
                    by: Optional[str] = None,
                    exact: bool = True) -> DataFrame:
    """Median/MAD outlier flags — the robust z-score
    (|x - median| / (1.4826 * MAD) > k, Iglewicz-Hoaglin's 3.5
    default): unlike mean/stddev z-scores, a handful of extreme rows
    cannot drag the threshold toward themselves, which is what makes
    this the standard outlier gate for heavy-tailed quality scores
    and price-like columns.

    Adds ``<col>_rz`` (robust z, null for null values and for a
    degenerate MAD of 0) and ``<col>_outlier`` (boolean, null rows
    false).

    ``by=``: per-GROUP median/MAD (the per-source quality-gate form —
    a global gate over a mixed corpus flags the small sources by the
    big ones' spread).  Constants derive through
    ``grouped_percentiles_frame`` (both tiers) and join back broadcast
    on the group key, the ``clip_outliers_grouped`` pattern; rows
    whose group has no non-null values (or MAD 0) get null rz / False.

    Tiers (the ``column_stats(exact_ndv=False)`` convention):
    - ``exact=True`` (default, oracle-reproducible): constants from
      the exact distributed order-statistic path, 6dp-rounded.
      Global shape: two bounded-reducer percentile derivations (the
      second over the |x - median| column) + one linear flagging scan.
    - ``exact=False`` (the 100 TB per-batch-gate tier): ONE
      ``approx_percentile`` aggregate per derivation (GK sketch,
      accuracy 10000 ≈ 0.01% rank error) — two plain linear scans
      plus the flagging pass, no sketch-guided refinement loops.  The
      flags are threshold decisions, so a ~0.01% rank error on the
      constants only moves values sitting ON the threshold;
      pytest-bounded against the exact tier, no oracle entry.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    c = F.col(col)
    rz_col, fl_col = f"{col}_rz", f"{col}_outlier"
    vals = df.filter(c.isNotNull())
    if by is not None:
        med = (grouped_percentiles_frame(vals, by, col, [0.5],
                                         round_dp=6, exact=exact)
               .select(by, F.col("value").alias("__med")))
        # |groups| rows: the planner sizes a grouped aggregate by its input
        dev = (vals.join(broadcast(med), on=by)
                   .select(by, F.round(F.abs(c - F.col("__med")), 6)
                               .alias("__d")))
        mad = (grouped_percentiles_frame(dev, by, "__d", [0.5],
                                         round_dp=6, exact=exact)
               .select(by, F.col("value").alias("__mad")))
        consts = med.join(mad, on=by)     # |groups| rows
        rz = F.round(F.abs(c - F.col("__med"))
                     / (F.lit(1.4826) * F.col("__mad")), 9)
        ok = c.isNotNull() & (F.col("__mad") > 0)
        # |groups| rows; the planner sizes a join by its inputs' product
        return (df.join(broadcast(consts), on=by, how="left")
                  .withColumn(rz_col, F.when(ok, rz))
                  .withColumn(fl_col,
                              F.when(ok, rz > F.lit(float(k)))
                               .otherwise(F.lit(False)))
                  .drop("__med", "__mad"))

    def _p50(frame, column):
        if exact:
            b = exact_percentiles_frame(frame, column, [0.5],
                                        round_dp=6).first()["__bounds"]
            return b[0] if b else None
        return frame.agg(F.expr(
            f"round(approx_percentile(cast(`{column}` as double),"
            f" 0.5, 10000), 6)").alias("__m")).first()["__m"]

    med = _p50(vals, col)
    if med is None:
        raise ValueError(f"no non-null values in {col!r}")
    dev = vals.select(
        F.round(F.abs(c - F.lit(float(med))), 6).alias("__d"))
    mad = _p50(dev, "__d")
    if mad == 0:
        # degenerate spread: no finite robust z exists; flag nothing
        return (df.withColumn(rz_col, F.lit(None).cast("double"))
                  .withColumn(fl_col, F.lit(False)))
    rz = F.round(F.abs(c - F.lit(float(med)))
                 / F.lit(1.4826 * float(mad)), 9)
    return (df.withColumn(rz_col, F.when(c.isNotNull(), rz))
              .withColumn(fl_col,
                          F.when(c.isNotNull(), rz > F.lit(float(k)))
                           .otherwise(F.lit(False))))
