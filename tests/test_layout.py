"""Layout optimization: small-file compaction + z-order file skipping."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tostore_spark import ToStoreSpark
from tostore_spark.plans.layout import optimize_layout, zvalue
from tostore_spark.plans.layout import optimize_table


def _data_files(version_dir):
    return [p for p in glob.glob(os.path.join(version_dir, "*.parquet"))
            if os.path.getsize(p) > 0]


def _col_ranges(files, col):
    """Per-file (min, max) from parquet footer stats."""
    spans = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins:
            spans.append((min(mins), max(maxs)))
    return spans


def _avg_norm_width(spans):
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    width = (hi - lo) or 1
    return sum((b - a) / width for a, b in spans) / len(spans)


def test_compaction_rewrites_to_target_files(spark, db, tmp_path):
    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    # 16-file layout of a small table = the small-file problem in miniature
    eng.register_table("orders", df=db.df("orders").repartition(16))
    eng.flush()
    v1 = eng._tables[eng._resolve("orders")]["path"]
    assert len(_data_files(v1)) == 16

    before = set(map(tuple, eng.df("orders").collect()))
    flushed = optimize_table(eng, "orders", target_partitions=2)
    assert flushed == ["orders"]
    v2 = eng._tables[eng._resolve("orders")]["path"]
    assert v2 != v1 and len(_data_files(v2)) == 2
    assert set(map(tuple, eng.df("orders").collect())) == before


def test_zorder_narrows_file_stats_on_both_columns(spark, db, tmp_path):
    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    eng.register_table("orders", df=db.df("orders"))
    eng.flush()

    n_files = 8
    optimize_table(eng, "orders", target_partitions=n_files,
                   zorder=["o_custkey", "o_totalprice"])
    files = _data_files(eng._tables[eng._resolve("orders")]["path"])
    assert len(files) == n_files

    # unordered baseline: every file spans ~the full range of both cols
    base_dir = str(tmp_path / "baseline")
    db.df("orders").repartition(n_files).write.parquet(base_dir)
    base_files = _data_files(base_dir)

    for col in ("o_custkey", "o_totalprice"):
        zw = _avg_norm_width(_col_ranges(files, col))
        bw = _avg_norm_width(_col_ranges(base_files, col))
        # z-ordered files cover ~sqrt(1/n) of each dimension; round-robin
        # files cover ~all of it
        assert zw < 0.7, f"{col}: z-order width {zw}"
        assert bw > 0.85, f"{col}: baseline unexpectedly clustered {bw}"
        assert zw < bw * 0.8

    # layout-only: the row multiset is unchanged
    assert eng.df("orders").count() == db.df("orders").count()
    assert (eng.df("orders").agg(F.sum("o_orderkey")).first()[0]
            == db.df("orders").agg(F.sum("o_orderkey")).first()[0])


def test_zvalue_orders_jointly(spark):
    # corners of the 2-D square: z-value must sort (0,0) first and
    # (max,max) last, with the mixed corners in between
    df = spark.createDataFrame(
        [(0, 0.0), (0, 100.0), (100, 0.0), (100, 100.0)], "x int, y double")
    rows = (zvalue(df, ["x", "y"]).orderBy("__z")
            .select("x", "y").collect())
    assert (rows[0].x, rows[0].y) == (0, 0.0)
    assert (rows[-1].x, rows[-1].y) == (100, 100.0)


def test_zvalue_constant_column_safe(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "x int, y double")
    out = zvalue(df, ["x", "y"]).collect()
    assert len(out) == 2  # no div-by-zero on a constant column


# ---------------------------------------------- partitioned warehouse
def test_partitioned_flush_prunes_on_reopen(spark, db, tmp_path):
    import io
    import contextlib

    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    eng.register_table("events", df=db.df("events"),
                       partition_by=["event_type"])
    eng.flush()
    vdir = eng._tables[eng._resolve("events")]["path"]
    subdirs = [d for d in os.listdir(vdir) if d.startswith("event_type=")]
    assert len(subdirs) >= 3  # hive-style directory per value

    # a fresh engine reopens the partitioned layout and PRUNES on it
    eng2 = ToStoreSpark(spark, warehouse=str(tmp_path))
    q = eng2.query("events").where("event_type", "=", "purchase").df()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1)[1][:200]
    assert q.count() == db.df("events").filter(
        "event_type = 'purchase'").count()

    # a mutation + re-flush keeps the partitioned layout (manifest
    # carried partition_by across the reopen)
    eng2.update("events", {"value": 0.0}) \
        .where("event_type", "=", "error").execute()
    eng2.flush()
    vdir2 = eng2._tables[eng2._resolve("events")]["path"]
    assert vdir2 != vdir
    assert any(d.startswith("event_type=") for d in os.listdir(vdir2))


# ------------------------------------------------ version diff / export
def test_table_diff_between_versions(spark, db, tmp_path):
    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    eng.register_table("nation", df=db.df("nation"))
    eng.flush()
    v1 = eng.table_versions("nation")[-1]
    eng.update("nation", {"n_name": "DIFFED"}) \
       .where("n_nationkey", "=", 3).execute()
    eng.delete("nation").where("n_nationkey", "=", 7).execute()
    eng.flush()
    v2 = eng.table_versions("nation")[-1]

    diff = eng.table_diff("nation", v1, v2).collect()
    by = {}
    for r in diff:
        by.setdefault(r.change, []).append(r)
    # changed row: delete of old + insert of new; deleted row: delete only
    assert {r.n_nationkey for r in by["delete"]} == {3, 7}
    assert [r.n_nationkey for r in by["insert"]] == [3]
    assert by["insert"][0].n_name == "DIFFED"


def test_export_table_csv_roundtrip(spark, db, tmp_path):
    eng = ToStoreSpark(spark)
    eng.register_table("region", df=db.df("region"))
    out = str(tmp_path / "region_csv")
    eng.export_table("region", out, format="csv")
    back = spark.read.option("header", "true") \
        .option("inferSchema", "true").csv(out)
    assert back.count() == db.df("region").count()
    assert set(back.columns) == set(db.df("region").columns)


def test_optimize_table_does_not_flush_other_tables(spark, db, tmp_path):
    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    eng.register_table("region", df=db.df("region"))
    eng.register_table("nation", df=db.df("nation"))
    eng.flush()
    # stage an unrelated pending mutation on nation, then optimize region
    eng.update("nation", {"n_name": "PENDING"}) \
       .where("n_nationkey", "=", 0).execute()
    flushed = optimize_table(eng, "region", target_partitions=1)
    assert flushed == ["region"]
    # nation's mutation is still pending (not committed by the rewrite)
    reopened = ToStoreSpark(spark, warehouse=str(tmp_path))
    assert reopened.df("nation").filter("n_name = 'PENDING'").count() == 0
    assert eng.df("nation").filter("n_name = 'PENDING'").count() == 1


def test_partitioned_string_column_keeps_leading_zeros(spark, tmp_path):
    eng = ToStoreSpark(spark, warehouse=str(tmp_path))
    df = spark.createDataFrame([("001", 1), ("010", 2), ("2", 3)],
                               "tenant string, v int")
    eng.register_table("t", df=df, partition_by=["tenant"])
    eng.flush()
    # read-back (same engine) and reopen must keep the string type,
    # the exact values, and the original column order
    for frame in (eng.df("t"),
                  ToStoreSpark(spark, warehouse=str(tmp_path)).df("t")):
        assert [f.name for f in frame.schema.fields] == ["tenant", "v"]
        assert frame.schema["tenant"].dataType.simpleString() == "string"
        got = {r.tenant for r in frame.collect()}
        assert got == {"001", "010", "2"}


def test_quantile_rank_spreads_skewed_column(spark):
    from tostore_spark.plans.layout import quantile_rank, zvalue

    # heavy tail: 90% of values in [0, 1], a few huge outliers — linear
    # min/max scaling would put ~90% of rows in bucket 0
    rows = [(i, 0.001 * i) for i in range(900)] + \
           [(900 + i, 1e9 * (i + 1)) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, v double")
    ranked, rc = quantile_rank(df, "v", n_buckets=10)
    dist = {r[rc]: r["cnt"] for r in
            ranked.groupBy(rc).agg(F.count("*").alias("cnt")).collect()}
    # no single quantile bucket swallows the 90% mass
    assert max(dist.values()) < 300
    # composes with zvalue (rank column in place of the raw column)
    z = zvalue(ranked, [rc, "id"])
    assert z.count() == 1000
