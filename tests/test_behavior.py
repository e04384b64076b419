"""Funnel analysis and cohort retention vs DuckDB on the events table."""

import pytest
from pyspark.sql import functions as F

from tostore_spark.functions.behavior import cohort_retention, funnel
from tostore_spark.plans.stats import analyze_table


def test_funnel_matches_duck(spark, db, duck):
    out = funnel(db.df("events"), ["view", "click", "purchase"])
    got = {r.step: (r.step_name, r.n_entities) for r in out.collect()}
    want = {s: (n_, c) for s, n_, c in duck.execute("""
        WITH e AS (SELECT user_id, event_type, ts FROM events
                   WHERE event_type IN ('view','click','purchase')),
        p0 AS (SELECT user_id,
                      min(ts) FILTER (event_type = 'view') AS t0
               FROM e GROUP BY 1),
        p1 AS (SELECT p0.user_id, p0.t0,
                      min(e.ts) FILTER (e.event_type = 'click'
                                        AND e.ts > p0.t0) AS t1
               FROM p0 LEFT JOIN e USING (user_id) GROUP BY 1, 2),
        p2 AS (SELECT p1.user_id, p1.t0, p1.t1,
                      min(e.ts) FILTER (e.event_type = 'purchase'
                                        AND e.ts > p1.t1) AS t2
               FROM p1 LEFT JOIN e USING (user_id) GROUP BY 1, 2, 3)
        SELECT 1 AS step, 'view' AS nm, count(t0) FROM p2
        UNION ALL SELECT 2, 'click', count(t1) FROM p2
        UNION ALL SELECT 3, 'purchase', count(t2) FROM p2
        """).fetchall()}
    assert got == want
    # funnel counts are monotone non-increasing
    ns = [got[s][1] for s in sorted(got)]
    assert ns == sorted(ns, reverse=True)
    assert ns[0] > 0


def test_funnel_strict_order(spark):
    # u1 does view->click (counts both); u2 clicks BEFORE viewing
    # (counts view only); u3 only clicks (counts nothing)
    df = spark.createDataFrame(
        [(1, "view", "2024-01-01 10:00:00"),
         (1, "click", "2024-01-01 11:00:00"),
         (2, "click", "2024-01-01 09:00:00"),
         (2, "view", "2024-01-01 10:00:00"),
         (3, "click", "2024-01-01 10:00:00")],
        "user_id int, event_type string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.step_name: r.n_entities
           for r in funnel(df, ["view", "click"]).collect()}
    assert got == {"view": 2, "click": 1}


def test_funnel_rejects_empty_steps(db):
    with pytest.raises(ValueError):
        funnel(db.df("events"), [])


def test_cohort_retention_matches_duck(spark, db, duck):
    out = cohort_retention(db.df("events"), granularity="week")
    got = {(str(r.cohort), r.offset): (r.n_active, r.cohort_size,
                                       round(r.retention, 9))
           for r in out.collect()}
    want = {(str(c), o): (n, cs, round(rt, 9))
            for c, o, n, cs, rt in duck.execute("""
        WITH first AS (SELECT user_id,
                              min(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort
                       FROM events GROUP BY 1),
        active AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket FROM events),
        m AS (SELECT f.cohort,
                     CAST(epoch(a.bucket) - epoch(f.cohort)
                          AS BIGINT) // (7 * 86400) AS off,
                     count(DISTINCT a.user_id) AS n_active
              FROM active a JOIN first f USING (user_id) GROUP BY 1, 2),
        s AS (SELECT cohort, count(*) AS cohort_size
              FROM first GROUP BY 1)
        SELECT m.cohort, m.off, m.n_active, s.cohort_size,
               CAST(m.n_active AS DOUBLE) / s.cohort_size
        FROM m JOIN s USING (cohort)""").fetchall()}
    assert got == want
    # offset-0 retention is 1.0 by construction (the cohort's own week)
    for (c, o), (n, cs, rt) in got.items():
        if o == 0:
            assert rt == 1.0


def test_cohort_retention_rejects_month(db):
    with pytest.raises(ValueError):
        cohort_retention(db.df("events"), granularity="month")


# --------------------------------------------------- column statistics
def test_column_stats_matches_duck(spark, db, duck):
    from tostore_spark.plans.stats import column_stats

    out = column_stats(db.df("orders"),
                       ["o_custkey", "o_orderstatus", "o_totalprice"])
    got = {r.column: (r.n_rows, r.n_nulls, r.ndv) for r in out.collect()}
    for col in got:
        n, nulls, ndv = duck.execute(f"""
            SELECT count(*),
                   count(*) - count({col}),
                   count(DISTINCT {col}) FROM orders""").fetchone()
        assert got[col] == (n, nulls, ndv), col


def test_analyze_table_cache_invalidates_on_write(spark, db):
    from tostore_spark import ToStoreSpark

    eng = ToStoreSpark(spark)
    eng.register_table("t", df=spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, v string"))
    s1 = analyze_table(eng, "t", exact_ndv=True)
    assert {r.column: r.n_rows for r in s1.collect()} == {"id": 2, "v": 2}
    eng.set_df("t", eng.df("t").unionByName(
        spark.createDataFrame([(3, "c")], "id int, v string")))
    s2 = analyze_table(eng, "t", exact_ndv=True)
    assert {r.column: r.ndv for r in s2.collect()} == {"id": 3, "v": 3}


def test_column_histogram_equi_height(spark, db):
    from tostore_spark.plans.stats import column_histogram

    n_buckets = 8
    out = column_histogram(db.df("orders"), "o_totalprice",
                           n_buckets=n_buckets)
    rows = sorted(out.collect(), key=lambda r: r.bucket)
    total = db.df("orders").filter("o_totalprice IS NOT NULL").count()
    assert sum(r.n_rows for r in rows) == total
    assert [r.bucket for r in rows] == list(range(n_buckets))
    # equi-height: every bucket within one interpolation step of n/k
    for r in rows:
        assert abs(r.n_rows - total / n_buckets) <= total / n_buckets * 0.05
    # bounds are a non-decreasing chain covering min..max
    for a, b in zip(rows, rows[1:]):
        assert a.hi == b.lo and a.lo <= a.hi
    # approx variant keeps the same shape with looser bucket balance
    ap = column_histogram(db.df("orders"), "o_totalprice",
                          n_buckets=n_buckets, exact=False)
    arows = ap.collect()
    assert sum(r.n_rows for r in arows) == total


def test_column_corr_matches_duck(spark, db, duck):
    from tostore_spark.plans.stats import column_corr

    out = column_corr(db.df("lineitem"),
                      ["l_quantity", "l_extendedprice", "l_discount"])
    got = {(r.col_x, r.col_y): (r.n, r.corr) for r in out.collect()}
    for (cx, cy), (n, corr) in got.items():
        dn, dcorr = duck.execute(
            f"SELECT count(*), corr({cx}, {cy}) FROM lineitem "
            f"WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL").fetchone()
        assert n == dn
        assert abs(corr - dcorr) < 1e-9, (cx, cy)


def test_column_corr_perfect_and_anti(spark):
    from pyspark.sql import functions as SF

    from tostore_spark.plans.stats import column_corr

    df = spark.range(1, 1000).select(
        SF.col("id").cast("double").alias("x"),
        (SF.col("id") * 2 + 3).cast("double").alias("y"),
        (-SF.col("id")).cast("double").alias("z"))
    got = {(r.col_x, r.col_y): r.corr
           for r in column_corr(df, ["x", "y", "z"], scale=2).collect()}
    assert abs(got[("x", "y")] - 1.0) < 1e-12
    assert abs(got[("x", "z")] + 1.0) < 1e-12


def test_weighted_sample(spark):
    from pyspark.sql import functions as SF

    from tostore_spark.llmops.pipeline import weighted_sample

    docs = spark.range(0, 10000).select(SF.col("id").alias("doc_id"))
    # w=0 keeps nothing, w>=1 keeps everything (clamped)
    assert weighted_sample(docs.withColumn("w", SF.lit(0.0)), "w").count() == 0
    assert weighted_sample(docs.withColumn("w", SF.lit(2.0)), "w").count() == 10000
    # per-row probability: even ids w=0.2, odd ids w=0.8
    mixed = docs.withColumn(
        "w", SF.when(SF.col("doc_id") % 2 == 0, 0.2).otherwise(0.8))
    kept = weighted_sample(mixed, "w")
    even = kept.filter("doc_id % 2 = 0").count()
    odd = kept.filter("doc_id % 2 = 1").count()
    assert abs(even / 5000 - 0.2) < 0.03 and abs(odd / 5000 - 0.8) < 0.03
    # deterministic: identical keep set on re-run
    again = weighted_sample(mixed, "w")
    assert kept.exceptAll(again).count() == 0
    assert again.exceptAll(kept).count() == 0


def test_column_sketches_merge_without_rescan(spark, db, tmp_path):
    from tostore_spark.plans.stats import (
        column_sketches, merge_column_sketches,
    )

    orders = db.df("orders")
    cols = ["o_custkey", "o_orderstatus"]
    full = {r.column: r for r in
            merge_column_sketches(column_sketches(orders, cols)).collect()}
    # two disjoint batches, sketched independently and persisted
    a = column_sketches(orders.filter("o_orderkey % 2 = 0"), cols)
    b = column_sketches(orders.filter("o_orderkey % 2 = 1"), cols)
    pa = str(tmp_path / "a.parquet")
    pb = str(tmp_path / "b.parquet")
    a.write.parquet(pa)
    b.write.parquet(pb)
    merged = {r.column: r for r in merge_column_sketches(
        spark.read.parquet(pa), spark.read.parquet(pb)).collect()}
    for c in cols:
        assert merged[c].n_rows == full[c].n_rows
        assert merged[c].n_nulls == full[c].n_nulls
        # HLL union of disjoint-batch sketches == whole-table sketch
        assert merged[c].ndv_est == full[c].ndv_est
        exact = orders.select(c).distinct().count()
        assert abs(merged[c].ndv_est - exact) / exact < 0.05


def test_estimate_selectivity_from_histogram(spark):
    from pyspark.sql import functions as SF

    from tostore_spark.plans.stats import (
        column_histogram, estimate_selectivity,
    )

    df = spark.range(0, 10000).select(SF.col("id").cast("double").alias("v"))
    hist = column_histogram(df, "v", n_buckets=10)
    # uniform data: a half-range predicate selects ~half
    est = estimate_selectivity(hist, lo=2500, hi=7500)
    true = df.filter("v >= 2500 AND v <= 7500").count() / 10000
    assert abs(est - true) < 0.11          # within one bucket of truth
    assert estimate_selectivity(hist) == 1.0
    assert estimate_selectivity(hist, lo=20000) == 0.0


def test_column_stats_approx_ndv_close(spark, db):
    from tostore_spark.plans.stats import column_stats

    out = column_stats(db.df("orders"), ["o_custkey"], exact_ndv=False)
    approx = out.collect()[0].ndv
    exact = db.df("orders").select("o_custkey").distinct().count()
    assert abs(approx - exact) / exact < 0.05


def test_join_advice_strategies(spark, db):
    from tostore_spark import ToStoreSpark
    from tostore_spark.plans.stats import join_advice

    eng = ToStoreSpark(spark)
    eng.register_table("orders", df=db.df("orders"))
    eng.register_table("customer", df=db.df("customer"))
    # small dim → broadcast it
    adv = join_advice(eng, "orders", "customer",
                      ("o_custkey", "c_custkey"),
                      broadcast_threshold_rows=10_000)
    assert adv["strategy"] == "broadcast"
    assert adv["broadcast_side"] == "customer"

    # both "big" (threshold 1) + skewed key → salt, hot key named
    skewed = spark.range(0, 10000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k", "id AS v")
    eng.register_table("skewed", df=skewed)
    eng.register_table("skewed2", df=skewed)
    adv = join_advice(eng, "skewed", "skewed2", "k",
                      broadcast_threshold_rows=1)
    assert adv["strategy"] == "salt"
    assert adv["hot_keys"][0][0] == 0 and adv["hot_keys"][0][1] >= 0.5

    # both big, uniform key → plain shuffle (same size: no bloom)
    uni = spark.range(0, 10000).selectExpr("id AS k", "id AS v")
    eng.register_table("uni", df=uni)
    eng.register_table("uni2", df=uni)
    adv = join_advice(eng, "uni", "uni2", "k",
                      broadcast_threshold_rows=1)
    assert adv["strategy"] == "shuffle"
    assert "prefilter" not in adv

    # big probe, selective-but-unbroadcastable build → bloom prefilter
    small = spark.range(0, 50).selectExpr("id AS k", "id AS v")
    eng.register_table("small", df=small)
    adv = join_advice(eng, "uni", "small", "k",
                      broadcast_threshold_rows=1, bloom_ratio=100.0)
    assert adv["strategy"] == "shuffle"
    assert adv["prefilter"] == "bloom"
    assert adv["bloom_build_side"] == "small"


def test_analyze_cache_survives_other_table_and_reregister(spark, db):
    from tostore_spark import ToStoreSpark

    eng = ToStoreSpark(spark)
    eng.register_table("a", df=spark.createDataFrame([(1,)], "x int"))
    eng.register_table("b", df=spark.createDataFrame([(1,), (2,)], "y int"))
    sa = analyze_table(eng, "a", exact_ndv=True)
    analyze_table(eng, "b", exact_ndv=True)  # must NOT evict a's entry
    assert analyze_table(eng, "a", exact_ndv=True) is sa
    # re-registering replaces the data → generation bumps → fresh stats
    eng.register_table("a", df=spark.createDataFrame(
        [(1,), (2,), (3,)], "x int"))
    assert analyze_table(eng, "a", exact_ndv=True).first()["n_rows"] == 3


def test_column_stats_empty_table_zero_nulls(spark):
    from tostore_spark.plans.stats import column_stats

    empty = spark.createDataFrame([], "c int")
    r = column_stats(empty, ["c"]).first()
    assert (r.n_rows, r.n_nulls, r.ndv) == (0, 0, 0)


def test_attribution_first_and_last_touch(spark):
    import datetime as dt
    from tostore_spark.functions.behavior import attribution
    t0 = dt.datetime(2024, 1, 1)
    s = lambda x: t0 + dt.timedelta(seconds=x)
    rows = [
        (1, 1, s(0), "view"), (2, 1, s(10), "click"),
        (3, 1, s(20), "purchase"),                 # last=click, first=view
        (4, 1, s(5000), "purchase"),               # outside 60s lookback
        (5, 2, s(0), "purchase"),                  # no touch at all
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts",
                                      "event_type"])
    last = {r.conversion_id: r for r in
            attribution(df, ["view", "click"], "purchase",
                        model="last", lookback_s=60).collect()}
    assert last[3].touch_id == 2 and last[3].touch_type == "click"
    assert last[4].touch_id is None and last[5].touch_id is None
    first = {r.conversion_id: r for r in
             attribution(df, ["view", "click"], "purchase",
                         model="first", lookback_s=60).collect()}
    assert first[3].touch_id == 1 and first[3].touch_type == "view"
    import pytest as _pt
    with _pt.raises(ValueError):
        attribution(df, ["view"], "purchase", model="linear")


def test_attribution_window_partitioned(spark):
    import datetime as dt
    import re
    from tostore_spark.functions.behavior import attribution
    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "view")],
        ["event_id", "user_id", "ts", "event_type"])
    plan = (attribution(df, ["view"], "purchase")
            ._jdf.queryExecution().executedPlan().toString())
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("user_id#"), m.group(0)


def test_event_paths_bigrams_and_trigrams(spark):
    """event_paths counts consecutive n-grams per entity (no cross-
    entity stitching), breaks ties deterministically, and the trigram
    form needs n consecutive events."""
    from tostore_spark.functions.behavior import event_paths
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "buy"),
        (2, 1, "view"), (2, 2, "click"),
        (3, 1, "click"), (3, 2, "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, ev string")
    got = {r["path"]: r["n_occur"] for r in
           event_paths(df, "user_id", "ts", "ev", n=2).collect()}
    assert got == {"view>click": 2, "click>buy": 2}
    tri = {r["path"]: r["n_occur"] for r in
           event_paths(df, "user_id", "ts", "ev", n=3).collect()}
    assert tri == {"view>click>buy": 1}
    import pytest
    with pytest.raises(ValueError):
        event_paths(df, "user_id", "ts", "ev", n=1)
