"""Schema migration, backup/restore, batch export, TTL, watch/stream."""

import time

import pytest

from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  PrimaryKeyType, TableSchema, TableTtlConfig)
from tostore_spark.functions.ranking import top_k_per_group
from tostore_spark.functions.timeseries import resample
from tostore_spark.llmops.search import bm25_build_index, bm25_search_indexed
from tostore_spark.plans.validate import validate_table


def fresh(spark):
    from tostore_spark import ToStoreSpark

    return ToStoreSpark(spark)


def _mk_users(db, n=5):
    db.create_table(TableSchema(
        name="m_users",
        fields=[FieldSchema("name"), FieldSchema("age", DataType.integer)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none)))
    db.batch_insert("m_users", [
        {"id": f"u{i}", "name": f"n{i}", "age": 20 + i} for i in range(n)])


def test_schema_migrations(spark):
    db = fresh(spark)
    _mk_users(db)
    status = (db.schema_builder("m_users")
              .add_field(FieldSchema("score", DataType.double, default_value=1.5))
              .rename_field("name", "full_name")
              .modify_field("age", type=DataType.double)
              .execute())
    assert status["status"] == "completed"
    rows = db.query("m_users").order_by_asc("id").run()
    assert rows[0]["score"] == 1.5
    assert rows[0]["full_name"] == "n0"
    assert isinstance(rows[0]["age"], float)
    db.schema_builder("m_users").remove_field("score").rename_table("m_users2").execute()
    assert "score" not in db.df("m_users2").columns
    assert "m_users2" in db.table_names()


def test_backup_restore(spark, tmp_path):
    db = fresh(spark)
    _mk_users(db, 4)
    bdir = str(tmp_path / "bk")
    db.backup(bdir)
    db2 = fresh(spark)
    restored = db2.restore(bdir)
    assert "m_users" in restored
    assert db2.query("m_users").count() == 4
    assert sorted(r["id"] for r in db2.query("m_users").run()) == \
        ["u0", "u1", "u2", "u3"]


def test_query_each_batch_resume(db):
    batches, tokens = [], []

    def on_batch(records, token):
        batches.append([r["c_custkey"] for r in records])
        tokens.append(token)
        return len(batches) < 2  # stop after two batches

    resume = db.query_each_batch("customer", batch_size=40, on_batch=on_batch,
                                 order_by=["c_custkey"])
    assert len(batches) == 2 and all(len(b) == 40 for b in batches)
    assert resume is not None
    # resume from checkpoint: next batch continues where we stopped
    more = []
    db.query_each_batch("customer", batch_size=40,
                        on_batch=lambda r, t: (more.append([x["c_custkey"] for x in r]), False)[1],
                        checkpoint_cursor=resume, order_by=["c_custkey"])
    flat = [x for b in batches + more[:1] for x in b]
    assert flat == sorted(set(flat))[: len(flat)]  # strictly increasing walk


def test_ttl_read_filter(spark):
    import datetime

    db = fresh(spark)
    sch = TableSchema(
        name="ttl_t",
        fields=[FieldSchema("v", DataType.integer),
                FieldSchema("created", DataType.datetime)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none),
        ttl=TableTtlConfig(ttl_ms=60_000, source_field="created"))
    db.create_table(sch)
    now = datetime.datetime.now()
    old = now - datetime.timedelta(hours=1)
    db.batch_insert("ttl_t", [
        {"id": "fresh", "v": 1, "created": now},
        {"id": "stale", "v": 2, "created": old},
    ])
    ids = [r["id"] for r in db.query("ttl_t").run()]
    assert ids == ["fresh"]


def test_watch_reacts_to_writes(spark):
    db = fresh(spark)
    _mk_users(db, 2)
    snapshots = []
    db.query("m_users").order_by_asc("id").watch(
        lambda recs: snapshots.append([r["id"] for r in recs]))
    assert snapshots == [["u0", "u1"]]
    db.insert("m_users", {"id": "u9", "name": "x", "age": 1})
    assert snapshots[-1] == ["u0", "u1", "u9"]


def test_stream_query(db):
    n = 0
    for rec in (db.query("nation").where("n_regionkey", "=", 0)
                .order_by_asc("n_nationkey").stream()):
        assert "n_name" in rec
        n += 1
    assert n == db.query("nation").where("n_regionkey", "=", 0).count()


def test_structured_streaming_window(spark, db, tmp_path):
    """stream_events: file-source micro-batch with watermark + tumbling
    window produces the same counts as the batch query."""
    from tostore_spark.streaming.reactive import stream_events
    import pyspark.sql.functions as F

    src = str(tmp_path / "events_src")
    ev = db.df("events")
    ev.write.mode("overwrite").parquet(src)
    schema = ev.schema
    agg = stream_events(spark, src, schema, window="1 day", watermark="2 days")
    q = (agg.writeStream.format("memory").queryName("ev_win")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window"]["start"]: r["n"] for r in spark.sql(
        "select * from ev_win").collect()}
    exp = {r["d"]: r["n"] for r in
           ev.groupBy(F.date_trunc("day", "ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp and len(got) > 0


def test_cursor_desc_walk(db, duck):
    qb = (db.query("orders").select(["o_orderkey", "o_totalprice"])
          .order_by_desc("o_totalprice").order_by_asc("o_orderkey").limit(25))
    seen = []
    page = qb.run()
    for _ in range(3):
        seen += [r["o_orderkey"] for r in page]
        if not page.has_more:
            break
        page = page.next_page()
    exp = [r[0] for r in duck.execute(
        "select o_orderkey from orders order by o_totalprice desc, o_orderkey limit 75"
    ).fetchall()]
    assert seen == exp


def test_prev_page(db, duck):
    qb = (db.query("customer").select(["c_custkey", "c_acctbal"])
          .order_by_asc("c_acctbal", "c_custkey").limit(20))
    p1 = qb.run()
    p2 = p1.next_page()
    back = p2.prev_page()
    assert [r["c_custkey"] for r in back] == [r["c_custkey"] for r in p1]


def test_prev_page_deep(db, duck):
    """page3.prev() must equal page2 (last-N-before-pivot, not first-N)."""
    qb = (db.query("customer").select(["c_custkey", "c_acctbal"])
          .order_by_asc("c_acctbal", "c_custkey").limit(20))
    p1 = qb.run()
    p2 = p1.next_page()
    p3 = p2.next_page()
    back2 = p3.prev_page()
    assert [r["c_custkey"] for r in back2] == [r["c_custkey"] for r in p2]
    back1 = back2.prev_page()
    assert [r["c_custkey"] for r in back1] == [r["c_custkey"] for r in p1]


def test_transaction_rollback_and_commit(spark):
    import pytest as _pytest
    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                      PrimaryKeyType, TableSchema)

    db = ToStoreSpark(spark)
    db.create_table(TableSchema(
        name="tx_t", fields=[FieldSchema("v", DataType.integer)],
        primary_key=PrimaryKeyConfig(name="id", type=PrimaryKeyType.none)))
    db.insert("tx_t", {"id": "a", "v": 1})

    # commit path
    with db.transaction():
        db.insert("tx_t", {"id": "b", "v": 2})
        db.update("tx_t").where("id", "=", "a").increment("v", 10)
    assert {r["id"]: r["v"] for r in db.query("tx_t").run()} == {"a": 11, "b": 2}

    # rollback path: all writes in the scope revert
    with _pytest.raises(RuntimeError):
        with db.transaction():
            db.insert("tx_t", {"id": "c", "v": 3})
            raise RuntimeError("boom")
    assert sorted(r["id"] for r in db.query("tx_t").run()) == ["a", "b"]

    # callback form returns a result object
    res = db.transaction(lambda d: d.insert("tx_t", {"id": "d", "v": 4}))
    assert res.success
    res2 = db.transaction(lambda d: (_ for _ in ()).throw(ValueError("x")))
    assert not res2.success and isinstance(res2.error, ValueError)
    assert sorted(r["id"] for r in db.query("tx_t").run()) == ["a", "b", "d"]


def test_crypto_roundtrip_and_deterministic_join(spark):
    import pyspark.sql.functions as F
    from tostore_spark.functions.crypto import decrypt_column, encrypt_column

    sdf = spark.createDataFrame([(1, "secret-a"), (2, "secret-b")], ["id", "v"])
    enc = sdf.select("id", encrypt_column(F.col("v"), "passw0rd").alias("e"))
    dec = enc.select("id", decrypt_column(F.col("e"), "passw0rd").alias("v"))
    assert {r["id"]: r["v"] for r in dec.collect()} == {1: "secret-a", 2: "secret-b"}
    # deterministic mode: equal plaintext -> equal ciphertext (join-able)
    det = sdf.select(encrypt_column(F.col("v"), "k", deterministic=True).alias("e"))
    det2 = sdf.select(encrypt_column(F.col("v"), "k", deterministic=True).alias("e"))
    assert det.collect() == det2.collect()


def test_register_csv_and_json_sources(spark, tmp_path, db):
    from tostore_spark import ToStoreSpark

    nation = db.df("nation")
    csv_p = str(tmp_path / "nation_csv")
    json_p = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").option("header", "true").csv(csv_p)
    nation.write.mode("overwrite").json(json_p)
    db2 = ToStoreSpark(spark)
    db2.register_table("nation_csv", path=csv_p, format="csv")
    db2.register_table("nation_json", path=json_p, format="json")
    assert db2.query("nation_csv").count() == nation.count()
    assert db2.query("nation_json").where("n_regionkey", "=", 0).count() == \
        nation.filter("n_regionkey = 0").count()


def test_validate_table_rules(spark):
    from tostore_spark.plans import validate as V
    rows = [(1, 10.0, "A", "ok-1"), (2, None, "A", "ok-2"),
            (2, 500.0, "Z", "bad"), (None, 50.0, "B", "ok-3")]
    df = spark.createDataFrame(rows, ["id", "v", "cat", "tag"])
    parent = spark.createDataFrame([(1,), (2,)], ["pid"])
    rep = {r.rule: r for r in V.validate_table(df, [
        V.not_null("id"),
        V.in_range("v", 0, 100),
        V.in_set("cat", ["A", "B"]),
        V.matches("tag", "^ok-"),
        V.unique("id"),
        V.fk("id", parent, "pid"),
    ]).collect()}
    assert rep["not_null:id"].n_violations == 1
    # null v is NOT a range violation (missing, not out-of-range)
    assert rep["in_range:v"].n_violations == 1
    assert rep["in_set:cat"].n_violations == 1
    assert rep["matches:tag"].n_violations == 1
    # both id=2 rows participate in the duplicate group
    assert rep["unique:id"].n_violations == 2
    # null id is skipped by fk; ids 1,2,2 all have parents
    assert rep["fk:id"].n_violations == 0 and rep["fk:id"].n_rows == 3
    assert all(r.n_rows == 4 for k, r in rep.items()
               if r.kind in ("not_null", "in_range", "in_set", "matches"))
    import pytest as _pt
    with _pt.raises(ValueError):
        V.validate_table(df, [])


def test_validate_row_rules_single_scan(spark):
    from tostore_spark.plans import validate as V
    df = spark.createDataFrame([(1, 2.0)], ["id", "v"])
    plan = (V.validate_table(df, [V.not_null("id"), V.in_range("v", 0, 1),
                                  V.matches("id", "x")])
            ._jdf.queryExecution().executedPlan().toString())
    # all row rules fold into ONE aggregate over ONE scan
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_engine_facade_new_operators(spark, db):
    from tostore_spark.plans import validate as V
    rep = validate_table(db.df("orders"), [V.not_null("o_orderkey")]).collect()
    assert rep[0].n_violations == 0
    top = top_k_per_group(db.df("events"), "user_id", "-value", 2)
    from pyspark.sql import functions as F
    mx = top.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 2
    rs = resample(db.df("events"), "user_id", "ts", "value", 7 * 86400)
    assert {"bucket_ts", "avg_value", "n_obs", "is_observed"} <= set(rs.columns)


def test_exact_percentiles_edge_cases(spark):
    from tostore_spark.plans.stats import (column_histogram,
                                           exact_percentiles_frame)
    empty = spark.createDataFrame([], "v double")
    assert exact_percentiles_frame(empty, "v", [0.5]).collect()[0][0] == []
    assert column_histogram(empty, "v", 4).count() == 0
    one = spark.createDataFrame([(42.0,)], "v double")
    assert exact_percentiles_frame(one, "v", [0.0, 0.5, 1.0]) \
        .collect()[0][0] == [42.0, 42.0, 42.0]
    # all-equal column: the degenerate single-bucket case still answers
    same = spark.createDataFrame([(7.0,)] * 50, "v double")
    b = exact_percentiles_frame(same, "v", [0.25, 0.75]).collect()[0][0]
    assert b == [7.0, 7.0]


def test_exact_percentiles_degenerate_bucket(spark):
    """A 90%-constant column used to dump 90% of N into ONE bucket and
    window-sort it whole; the constant short-circuit + recursive
    re-split now keep per-reducer sort state bounded AND the result
    exact (verified against numpy's linear interpolation)."""
    import numpy as np
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import exact_percentiles_frame
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 == 0,
               (F.col("id") % 500).cast("double"))
         .otherwise(F.lit(42.0)).alias("v"))
    fracs = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = exact_percentiles_frame(df, "v", fracs, n_parts=8).collect()[0][0]
    want = np.percentile(df.toPandas()["v"].to_numpy(),
                         [f * 100 for f in fracs], method="linear")
    assert all(abs(x - y) < 1e-9 for x, y in zip(got, want))
    # non-deterministic lineage: materialization pins one evaluation, so
    # the selection completes without mis-bracketing (no KeyError) and
    # returns monotone bounds from a single consistent sample
    nd = spark.range(50000).select(
        (F.rand() * 100).alias("v")).sample(0.5)
    got_nd = exact_percentiles_frame(nd, "v", [0.1, 0.5, 0.9]) \
        .collect()[0][0]
    assert got_nd == sorted(got_nd) and len(got_nd) == 3


def test_clip_outliers_modes(spark):
    from tostore_spark.plans.stats import clip_outliers
    rows = [(float(i),) for i in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r.v: r.v_clipped for r in
           clip_outliers(df, "v", 0.1, 0.9).collect()}
    # bounds at the exact interpolated 10th/90th percentiles (10.9, 90.1)
    assert out[1.0] == 10.9 and out[100.0] == 90.1
    assert out[50.0] == 50.0
    assert out[None] is None            # nulls pass through
    kept = clip_outliers(df, "v", 0.1, 0.9, mode="filter")
    vals = [r.v for r in kept.collect()]
    assert None in vals and 1.0 not in vals and 50.0 in vals
    import pytest as _pt
    with _pt.raises(ValueError):
        clip_outliers(df, "v", 0.9, 0.1)
    with _pt.raises(ValueError):
        clip_outliers(df, "v", mode="drop")


def test_engine_text_index_facade(spark, db, tmp_path):
    meta = bm25_build_index(db.df("documents"), str(tmp_path / "tix"))
    assert meta["n_docs"] > 0
    hits = bm25_search_indexed(db.spark, str(tmp_path / "tix"),
                               "spark join", k=5).collect()
    assert len(hits) == 5 and hits[0]["score"] >= hits[-1]["score"]


def test_grouped_percentiles_frame(spark):
    """Per-group exact interpolated percentiles match numpy per group;
    single-row and all-null groups behave (null-excluded, 1-row group
    returns its value at every frac)."""
    import numpy as np
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import grouped_percentiles_frame
    rows = ([("a", float(v)) for v in range(1, 101)]
            + [("b", float(v * v)) for v in range(1, 8)]
            + [("c", 42.0)] + [("d", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    fr = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {(r["g"], r["p"]): r["value"] for r in
           grouped_percentiles_frame(df, "g", "v", fr).collect()}
    for g, vals in (("a", [float(v) for v in range(1, 101)]),
                    ("b", [float(v * v) for v in range(1, 8)]),
                    ("c", [42.0])):
        want = np.percentile(np.array(vals), [f * 100 for f in fr],
                             method="linear")
        for f, wv in zip(fr, want):
            assert abs(got[(g, f)] - wv) < 1e-9, (g, f)
    assert not any(k[0] == "d" for k in got)    # all-null group excluded


def test_grouped_percentiles_approx_tier(spark):
    """exact=False swaps the spillable sort window for ONE per-group
    approx_percentile sketch aggregate (the millions-of-groups tier):
    same long-form schema, rank error bounded by the sketch accuracy,
    and NO window/sort in the plan — sketches combine map-side."""
    import contextlib
    import io

    from tostore_spark.plans.stats import grouped_percentiles_frame
    rows = ([("a", float(v)) for v in range(1, 1001)]
            + [("b", float(v * 3)) for v in range(1, 501)]
            + [("d", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    fr = [0.1, 0.5, 0.9]
    exact = {(r["g"], r["p"]): r["value"] for r in
             grouped_percentiles_frame(df, "g", "v", fr).collect()}
    approx = {(r["g"], r["p"]): r["value"] for r in
              grouped_percentiles_frame(df, "g", "v", fr,
                                        exact=False).collect()}
    assert set(approx) == set(exact)
    for (g, p), av in approx.items():
        n = 1000 if g == "a" else 500
        span = (1000.0 if g == "a" else 1500.0)
        # GK at accuracy 10000 on n<=1000 rows: rank error well under
        # 1% of n -> value error under 1% of the span for uniform data
        assert abs(av - exact[(g, p)]) <= 0.01 * span + 1e-9, (g, p)
    # plan shape: one hash-aggregate, no window, no sort
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        grouped_percentiles_frame(df, "g", "v", fr,
                                  exact=False).explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan and "Sort" not in plan
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_clip_outliers_grouped(spark):
    """Each group clips against its OWN bounds: group a's outliers are
    clipped to a's percentiles even though group b's range dwarfs them;
    nulls pass; filter mode drops out-of-range rows per group."""
    from tostore_spark.plans.stats import clip_outliers_grouped
    rows = ([("a", float(v)) for v in range(1, 101)]
            + [("b", float(v * 1000)) for v in range(1, 101)]
            + [("a", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["g"], r["v"]): r["v_clipped"] for r in
           clip_outliers_grouped(df, "g", "v", 0.1, 0.9).collect()}
    assert out[("a", 1.0)] == 10.9          # a's own 10th pct, not b's
    assert out[("a", 50.0)] == 50.0
    assert out[("b", 1000.0)] == 10900.0    # b scales by 1000
    assert out[("a", None)] is None
    kept = clip_outliers_grouped(df, "g", "v", 0.1, 0.9,
                                 mode="filter")
    assert kept.filter("g = 'a' AND v = 1.0").count() == 0
    assert kept.filter("g = 'a' AND v IS NULL").count() == 1


def test_drift_psi_semantics(spark):
    """PSI ~ 0 for an identical distribution, large for a shifted one;
    out-of-range current values land in the sentinel buckets; the
    per-row psi_total equals the sum of contributions."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import drift_report
    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    same = drift_report(ref, ref, "v", n_buckets=10).collect()
    total = same[0]["psi_total"]
    assert all(r["psi_total"] == total for r in same)
    assert abs(total) < 1e-9          # identical corpus: zero drift
    assert abs(sum(r["psi"] for r in same) - total) < 1e-6
    assert len(same) == 12            # 10 interior + under/overflow

    # shift by +200: every current value overflows the reference range
    cur = spark.range(1000).select(
        (F.col("id") % 100 + 200).cast("double").alias("v"))
    sh = {r["bucket"]: r for r in
          drift_report(ref, cur, "v", n_buckets=10).collect()}
    assert sh[10]["n_cur"] == 1000 and sh[10]["n_ref"] == 0
    assert sh[0]["psi_total"] > 1.0   # way past the 0.25 rule of thumb

    # milder shift: half the mass moves up one bucket
    mild = spark.range(1000).select(
        ((F.col("id") % 100) + F.when(F.col("id") % 2 == 0, 10.0)
         .otherwise(0.0)).alias("v"))
    mt = drift_report(ref, mild, "v", n_buckets=10).collect()[0]["psi_total"]
    assert 0.0 < mt < sh[0]["psi_total"]

    with pytest.raises(ValueError, match="n_buckets"):
        drift_report(ref, ref, "v", n_buckets=1)
    with pytest.raises(ValueError, match="smooth"):
        drift_report(ref, ref, "v", smooth=0.0)


def test_drift_mix_categorical(spark):
    """Categorical PSI: zero for identical mixes; a vanished and an
    appearing category both register; nulls are their own category."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import drift_report_categorical
    ref = spark.createDataFrame(
        [("a",)] * 60 + [("b",)] * 30 + [(None,)] * 10, "src string")
    same = drift_report_categorical(ref, ref, "src").collect()
    assert abs(same[0]["psi_total"]) < 1e-9
    assert {r["category"] for r in same} == {"a", "b", "(null)"}

    cur = spark.createDataFrame(
        [("a",)] * 60 + [("c",)] * 40, "src string")
    rows = {r["category"]: r for r in
            drift_report_categorical(ref, cur, "src").collect()}
    # union of categories: b vanished, c appeared, (null) vanished
    assert set(rows) == {"a", "b", "c", "(null)"}
    assert rows["b"]["n_cur"] == 0 and rows["c"]["n_ref"] == 0
    assert rows["a"]["psi_total"] > 0.25   # a real mix shift

    with pytest.raises(ValueError, match="smooth"):
        drift_report_categorical(ref, ref, "src", smooth=0)


def test_drift_quantile_buckets(spark):
    """Decile-bucket PSI: reference buckets hold ~equal mass by
    construction, identical snapshots give ~zero drift, and a shift
    registers in the end buckets without sentinel rows."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import drift_report_quantile
    ref = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("v"))
    same = drift_report_quantile(ref, ref, "v", n_buckets=10).collect()
    assert len(same) == 10
    assert abs(same[0]["psi_total"]) < 1e-9
    # ~equal reference mass per decile bucket (ties can wobble a bit)
    for r in same:
        assert 50 <= r["n_ref"] <= 150, (r["bucket"], r["n_ref"])
    # edges are monotone and bracket each interior bucket
    for r in same[1:-1]:
        assert r["edge_lo"] < r["edge_hi"]

    cur = spark.range(1000).select(
        (F.col("id") % 100 + 500).cast("double").alias("v"))
    sh = drift_report_quantile(ref, cur, "v", n_buckets=10).collect()
    assert sh[-1]["n_cur"] == 1000        # everything lands top bucket
    assert sh[0]["psi_total"] > 1.0

    with pytest.raises(ValueError, match="n_buckets"):
        drift_report_quantile(ref, ref, "v", n_buckets=1)
    with pytest.raises(ValueError, match="non-null"):
        drift_report_quantile(ref.filter("v < 0"), ref, "v")


def test_robust_outliers_mad(spark):
    """A planted extreme value flags under median/MAD but the
    threshold itself is NOT dragged by it (robustness); degenerate
    zero-MAD flags nothing; nulls pass unflagged."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import robust_outliers
    base = [float(v) for v in range(1, 100)]
    df = spark.createDataFrame(
        [(v,) for v in base] + [(1e6,), (None,)], "v double")
    out = {r["v"]: r for r in robust_outliers(df, "v", k=3.5).collect()}
    assert out[1e6]["v_outlier"] is True
    # the extreme row does not drag the gate: interior values clean
    assert all(not out[v]["v_outlier"] for v in (1.0, 50.0, 99.0))
    nulls = [r for r in out.values() if r["v"] is None]
    assert nulls[0]["v_outlier"] is False and nulls[0]["v_rz"] is None

    # classic failure of mean/std z on the same data: the planted
    # point inflates sigma so much it yields |z| < 3.5 for itself is
    # false here, but MANY real spreads hide; assert MAD flags MORE
    stats = df.agg(F.avg("v").alias("m"), F.stddev("v").alias("s")).first()
    z_flags = df.filter(
        (F.abs(F.col("v") - stats["m"]) / stats["s"]) > 3.5).count()
    mad_flags = sum(1 for r in out.values() if r["v_outlier"])
    assert mad_flags >= z_flags

    const = spark.createDataFrame([(5.0,)] * 10, "v double")
    cz = robust_outliers(const, "v").collect()
    assert all(not r["v_outlier"] and r["v_rz"] is None for r in cz)

    with pytest.raises(ValueError, match="k must"):
        robust_outliers(df, "v", k=0)
    with pytest.raises(ValueError, match="no non-null"):
        robust_outliers(df.filter("v < 0"), "v")


def test_robust_outliers_grouped(spark):
    """by= flags each row against ITS group's median/MAD: equals the
    global gate applied per group, a tight group's outlier flags even
    when globally unremarkable, zero-MAD groups flag nothing."""
    from tostore_spark.plans.stats import robust_outliers

    rows = ([("a", float(v)) for v in range(1, 100)] + [("a", 1e6)]
            + [("b", 5.0)] * 10                       # zero-MAD group
            + [("c", 10.0), ("c", 11.0), ("c", 12.0), ("c", 1000.0)]
            + [("a", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    got = robust_outliers(df, "v", k=3.5, by="g").collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["g"], []).append(r)
    # group-by-group equivalence with the global gate on that slice
    for g in ("a", "b", "c"):
        solo = {(r["v"],): (r["v_outlier"], r["v_rz"]) for r in
                robust_outliers(df.filter(f"g = '{g}'"), "v",
                                k=3.5).collect()}
        for r in by_grp[g]:
            assert (r["v_outlier"], r["v_rz"]) == solo[(r["v"],)], \
                (g, r["v"])
    # 1000.0 is unremarkable next to group a's 1e6, but flags in c
    c_flags = {r["v"]: r["v_outlier"] for r in by_grp["c"]}
    assert c_flags[1000.0] is True
    assert all(not r["v_outlier"] for r in by_grp["b"])
    assert all(r["v_rz"] is None for r in by_grp["b"])


def test_robust_outliers_approx_tier(spark):
    """exact=False (one approx_percentile aggregate per derivation)
    reproduces the exact tier's flags on a spread corpus, global and
    grouped (GK at accuracy 10000 is rank-exact at this size)."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import robust_outliers
    df = (spark.range(2000)
          .select((F.col("id") % 997).cast("double").alias("v"),
                  (F.col("id") % 3).cast("string").alias("g"))
          .union(spark.createDataFrame(
              [("0", 1e7), ("1", -1e7)], "g string, v double")
              .select("v", "g")))
    ex = {(r["g"], r["v"]): r["v_outlier"] for r in
          robust_outliers(df, "v").collect()}
    ap = {(r["g"], r["v"]): r["v_outlier"] for r in
          robust_outliers(df, "v", exact=False).collect()}
    assert ex == ap and any(ex.values())
    exg = {(r["g"], r["v"]): r["v_outlier"] for r in
           robust_outliers(df, "v", by="g").collect()}
    apg = {(r["g"], r["v"]): r["v_outlier"] for r in
           robust_outliers(df, "v", by="g", exact=False).collect()}
    assert exg == apg and any(exg.values())


def test_drift_quantile_approx_edges(spark):
    """drift_report_quantile(exact=False): same schema/bucket count,
    psi_total within a tight bound of the exact tier, both sides'
    counts conserved (approx edges only move boundary mass)."""
    from pyspark.sql import functions as F

    from tostore_spark.plans.stats import drift_report_quantile
    ref = spark.range(5000).select(
        ((F.col("id") * 37) % 1000).cast("double").alias("v"))
    cur = spark.range(5000).select(
        (((F.col("id") * 37) % 1000) * 1.15 + 30).alias("v"))
    ex = drift_report_quantile(ref, cur, "v", n_buckets=10).collect()
    ap = drift_report_quantile(ref, cur, "v", n_buckets=10,
                               exact=False).collect()
    assert len(ap) == len(ex) == 10
    assert sum(r["n_ref"] for r in ap) == 5000
    assert sum(r["n_cur"] for r in ap) == 5000
    assert abs(ap[0]["psi_total"] - ex[0]["psi_total"]) < 0.02
    assert ap[0]["psi_total"] > 0.05      # the shift still registers
