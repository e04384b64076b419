"""The broadcast rule (``tostore_spark.broadcast``): the one-call-site
rule, the Spark size-estimate facts its docstring rests on, and an A/B
mutation run with the planner's threshold forcing shuffle joins."""
import os
import re

import pytest
from pyspark.sql import functions as F

from tostore_spark.broadcast import broadcast, fits, size_bytes
from tostore_spark.pin import pin

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcasts(df) -> bool:
    return any(j in _plan(df) for j in BROADCAST_JOINS)


def test_broadcast_is_the_only_hint():
    """Every broadcast hint in the package goes through ``broadcast``.
    Exempt: ``query.py``'s ``join_hint``, the user's own hint."""
    hits = []
    pkg = os.path.join(REPO, "tostore_spark")
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    for i, line in enumerate(fh, 1):
                        if re.search(r"F\.broadcast\(|functions\.broadcast\("
                                     r"|\.hint\(\s*[\"']broadcast", line):
                            hits.append((os.path.relpath(path, pkg), i,
                                         line.strip()))
    assert sorted(h[0] for h in hits) == ["broadcast.py", "query.py"], hits
    assert [h[2] for h in hits if h[0] == "query.py"] \
        == ['jdf = jdf.hint("broadcast")'], hits


# ---- the Spark facts the rule rests on ------------------------------
@pytest.fixture(scope="module")
def scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bc") / "t.parquet")
    (spark.range(20000).withColumn("g", F.col("id") % 97)
          .write.parquet(path))
    return spark.read.parquet(path)


@pytest.mark.parametrize("shape", ["total", "groups", "keys"])
def test_pin_keeps_its_origin_estimate(scan, shape):
    """A lazy and an eager pin report the estimate of the plan they
    pinned, so the planner broadcasts them without a hint."""
    origin = {"total": scan.agg(F.sum("id").alias("s")),
              "groups": scan.groupBy("g").agg(F.sum("id").alias("s")),
              "keys": scan.filter("id % 7 = 0").select("id")}[shape]
    est = size_bytes(origin)
    assert 0 < est < 1 << 20
    if shape == "total":
        assert est == 16
    for eager in (False, True):
        pinned = pin(origin, eager=eager)
        assert size_bytes(pinned) == est
        joined = (scan.crossJoin(pinned) if shape == "total" else
                  scan.join(pinned, "g" if shape == "groups" else "id"))
        assert _broadcasts(joined), _plan(joined)


def test_python_rows_report_no_size(spark):
    """A frame built from a Python list reports ``Long.MaxValue``: the
    planner never broadcasts it, and ``fits`` says so."""
    rows = spark.createDataFrame([(1, 2)], "a int, b int")
    assert size_bytes(rows) == (1 << 63) - 1
    assert fits(rows) is False


def test_fits_follows_the_threshold(spark, scan):
    assert fits(scan) is True
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "-1")
        assert fits(scan) is False
    finally:
        spark.conf.set(THRESHOLD, old)


def test_full_outer_ignores_the_hint(scan):
    """Spark broadcasts neither side of a full outer join."""
    a = scan.select(F.col("id").alias("k"))
    b = scan.filter("id < 10").select(F.col("id").alias("k"), "g")
    for side in (b, broadcast(b)):
        plan = _plan(a.join(side, "k", "full_outer"))
        assert "SortMergeJoin" in plan and "Broadcast" not in plan, plan


# ---- A/B: the threshold is the size gate ----------------------------
def _update_every_row(spark, wh):
    """A flushed table with one pending deletion vector, then a PK-keyed
    update of every row; returns (counts, rows and read plan after a
    flush and a reopen)."""
    from tostore_spark import ToStoreSpark
    from tostore_spark.schema import (DataType, FieldSchema,
                                      PrimaryKeyConfig, TableSchema)
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [{"id": f"k{i:03d}", "body": f"b{i}", "n": i}
                              for i in range(40)])
    db.flush()
    deleted = db.delete("notes").where("id", "=", "k039").execute()
    db.flush()
    updated = db.update("notes", {"body": "U"}).where("n", ">=", 0) \
        .execute()
    db.flush()
    reread = ToStoreSpark(spark, warehouse=wh).df("notes")
    rows = sorted(tuple(r) for r in reread.collect())
    return (deleted, updated, db.df("notes").count()), rows, reread


def test_update_every_row_same_under_shuffle(spark, tmp_path):
    """With the threshold below the table's size every key-set join
    shuffles; the counts and rows equal the default (broadcast) run."""
    a = _update_every_row(spark, str(tmp_path / "a"))
    old = spark.conf.get(THRESHOLD)
    try:
        spark.conf.set(THRESHOLD, "1")
        b = _update_every_row(spark, str(tmp_path / "b"))
        shuffled = not _broadcasts(b[2])
    finally:
        spark.conf.set(THRESHOLD, old)
    assert a[0] == b[0] == (1, 39, 39)
    assert a[1] == b[1]
    assert len(a[1]) == 39 and {r[1] for r in a[1]} == {"U"}
    # the reread folds the deletion vectors with a key anti-join
    assert _broadcasts(a[2]) and shuffled, _plan(a[2])
