"""Partitioned-table merge-on-read flush fast paths: delete / upsert
epochs on hive-partitioned tables commit as deletion vectors / replace
pairs — mutation IO ∝ delta, never a table rewrite — while partition
PRUNING and exact partition-value TYPING survive every fold surface
(flush adoption, cold reopen, time travel, CDC, snapshots, and the
skipping-rebuilt scan).

Partition values are leading-zero strings ("00", "01", "02") on
purpose: any fold surface that reads a hive root WITHOUT the pinned
schema lets Spark's partition-value inference retype them to ints and
these tests fail on the value, not just the dtype.
"""
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)


def _mk(spark, wh, rows=12):
    db = ToStoreSpark(spark, warehouse=wh)
    sch = TableSchema(
        name="pt", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="pcol", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)])
    src = spark.createDataFrame(
        [(f"k{i:03d}", f"0{i % 3}", i) for i in range(rows)],
        "id string, pcol string, n int")
    db.register_table("pt", df=src, schema=sch, partition_by=["pcol"])
    db.flush(only=["pt"])
    return db


def _rows(db, name="pt"):
    return {r["id"]: (r["pcol"], r["n"])
            for r in db.df(name).collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.usefixtures("spark")
class TestPartitionedMoR:
    def test_pure_delete_epoch_is_dv_commit(self, spark, tmp_path):
        """Deleting k rows from a partitioned table writes ONLY the key
        set (no data files in the version dir) — previously a full
        hive-layout rewrite."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        base_path = db._tables[("default", "pt")]["path"]
        n = db.delete("pt").where("n", "<", 4).execute()
        assert n == 4
        db.flush()
        ent = db._tables[("default", "pt")]
        vdir = ent["path"]
        assert vdir != base_path
        assert ent["ops"][-1][0] == "del"
        # the version dir holds NO table data — only _deletes
        datafiles = []
        for dirpath, dirs, names in os.walk(vdir):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            datafiles += [f for f in names if f.endswith(".parquet")]
        assert datafiles == []
        assert os.path.isdir(os.path.join(vdir, "_deletes"))
        # in-memory fold and cold reopen agree, typing pinned
        expect = {f"k{i:03d}": (f"0{i % 3}", i) for i in range(4, 12)}
        assert _rows(db) == expect
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _rows(db2) == expect
        assert dict(db2.df("pt").dtypes)["pcol"] == "string"

    def test_upsert_replace_epoch_partition_laid_out(self, spark,
                                                     tmp_path):
        """An upsert flushes touched rows + keys only; the delta
        segment itself is hive-partitioned so readers prune it too."""
        import pyarrow.parquet as pq
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.batch_upsert("pt", [
            {"id": "k002", "n": 777},
            {"id": "new1", "pcol": "01", "n": 42}])
        db.flush()
        ent = db._tables[("default", "pt")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        vdir = ent["path"]
        # hive layout inside the replace delta
        pdirs = [d for d in os.listdir(vdir) if d.startswith("pcol=")]
        assert pdirs, f"replace delta not partition-laid-out: " \
                      f"{os.listdir(vdir)}"
        # the data part of the replace dir holds ONLY the touched rows
        assert pq.read_table(vdir).num_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = _rows(db2)
        assert len(rows) == 7
        assert rows["k002"] == ("02", 777)      # update kept partition
        assert rows["new1"] == ("01", 42)
        assert dict(db2.df("pt").dtypes)["pcol"] == "string"

    def test_partition_pruning_survives_dv_fold(self, spark, tmp_path):
        """A partition-column predicate over the folded recipe still
        prunes directories (PartitionFilters in every scan)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        db.delete("pt").where("id", "=", "k001").execute()
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        out = db2.df("pt").filter("pcol = '01'")
        assert {r["id"] for r in out.collect()} == {"k004", "k007",
                                                    "k010"}
        plan = _plan(out)
        assert "PartitionFilters" in plan and "pcol" in plan

    def test_time_travel_partitioned_dv(self, spark, tmp_path):
        """read_version folds historical DV recipes with the pinned
        partition schema (the version's recorded schema sidecar)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        key = ("default", "pt")
        v0 = db._generations.get(key, 0)
        db.delete("pt").where("n", ">=", 4).execute()
        db.flush()
        v1 = db._generations.get(key, 0)
        old = db.df_at("pt", v0)
        new = db.df_at("pt", v1)
        assert old.count() == 6 and new.count() == 4
        assert dict(old.dtypes)["pcol"] == "string"
        assert dict(new.dtypes)["pcol"] == "string"
        assert sorted(r["pcol"] for r in new.collect()) == \
            ["00", "00", "01", "02"]
        db.unpin_versions()

    def test_cdc_recipe_equals_exceptall_partitioned(self, spark,
                                                     tmp_path):
        """table_diff's O(delta) recipe walk over a partitioned DV
        chain returns exactly the exceptAll answer, partition values
        typed right in both the insert and delete halves."""
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=9)
        key = ("default", "pt")
        v_from = db._generations.get(key, 0)
        db.delete("pt").where("n", "<", 2).execute()
        db.flush()
        db.batch_upsert("pt", [
            {"id": "k005", "n": 999},
            {"id": "zz1", "pcol": "00", "n": 100}])
        db.flush()
        v_to = db._generations.get(key, 0)
        fast = S.table_diff(db, "pt", v_from, v_to)
        assert fast is not None
        # independent slow answer: two snapshot reads + exceptAll
        old = db.df_at("pt", v_from).select("id", "pcol", "n")
        new = db.df_at("pt", v_to).select("id", "pcol", "n")
        from pyspark.sql import functions as F
        slow = (new.exceptAll(old).withColumn("change", F.lit("insert"))
                .unionByName(old.exceptAll(new)
                             .withColumn("change", F.lit("delete"))))
        k = lambda r: (r["id"], r["pcol"], r["n"], r["change"])
        assert sorted(map(k, fast.collect())) == \
            sorted(map(k, slow.collect()))
        db.unpin_versions()

    def test_snapshot_view_partitioned_dv(self, spark, tmp_path):
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.delete("pt").where("id", "=", "k000").execute()
        db.flush()
        snap = S.snapshot(db)
        try:
            got = {r["id"]: (r["pcol"], r["n"])
                   for r in snap.df("pt").collect()}
            assert got == {f"k{i:03d}": (f"0{i % 3}", i)
                           for i in range(1, 6)}
        finally:
            snap.release()

    def test_skipping_rebuilt_scan_partitioned_dv(self, spark,
                                                  tmp_path):
        """pruned_df folds a partitioned DV recipe with pinned reads:
        segment skipping on a data column composes with the anti-join
        and keeps partition values exact."""
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        sch = TableSchema(
            name="pt", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="pcol", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])
        db.register_table("pt", df=spark.createDataFrame(
            [(f"a{i:02d}", f"0{i % 2}", i) for i in range(50)],
            "id string, pcol string, n int"),
            schema=sch, partition_by=["pcol"])
        db.flush()
        # second segment with a disjoint n-range, then a delete epoch
        db.append_rows("pt", spark.createDataFrame(
            [(f"b{i:02d}", f"0{i % 2}", 1000 + i) for i in range(50)],
            "id string, pcol string, n int"))
        db.flush()
        assert db.delete("pt").where("id", "=", "b01").execute() == 1
        db.flush()
        rows = (db.query("pt")
                .where("n", "BETWEEN", {"start": 1000, "end": 1010})
                .df().collect())
        got = sorted(r["id"] for r in rows)
        assert got == [f"b{i:02d}" for i in range(11) if i != 1]
        assert all(r["pcol"] == f"0{int(r['id'][1:]) % 2}"
                   for r in rows)
        # the base segment (n < 50) was provably skippable
        if db._last_prune is not None:
            kept, total, _t = db._last_prune
            assert kept < total

    def test_mor_flush_writes_only_delta_bytes(self, spark, tmp_path):
        """The scale claim itself: a 2-row delete's version dir is a
        few KB of key parquet even when the base is far larger."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=200)
        db.delete("pt").where("id", "IN", ["k000", "k199"]).execute()
        db.flush()
        vdir = db._tables[("default", "pt")]["path"]
        total = 0
        for dirpath, _dirs, names in os.walk(vdir):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in names)
        base_dir = db._tables[("default", "pt")]["segments"][0]
        base_total = 0
        for dirpath, _dirs, names in os.walk(base_dir):
            base_total += sum(os.path.getsize(os.path.join(dirpath, f))
                              for f in names)
        assert total < base_total / 2, (total, base_total)
        assert db.df("pt").count() == 198


def test_bloom_skip_on_partitioned_table(spark, tmp_path):
    """r13: partitioned tables build bloom sidecars too (data columns
    only — partition columns keep Spark's directory pruning): an IN
    probe over interleaved segments must prune to the holders."""
    wh = str(tmp_path / "wh")
    db = ToStoreSpark(spark, warehouse=wh)
    base = spark.createDataFrame(
        [(f"k{i:04d}", f"0{i % 2}", i) for i in range(300)],
        "id string, pcol string, n int")
    db.register_table("t", df=base.where("n % 3 = 0"),
                      partition_by=["pcol"])
    db.enable_bloom_skip("t", ["id"])
    db.flush()
    for r in (1, 2):
        db.append_rows("t", base.where(f"n % 3 = {r}"))
        db.flush()
    ent = db._tables[("default", "t")]
    assert len(ent["segments"]) == 3
    import os as _os
    assert all(_os.path.exists(_os.path.join(s, "_bloom.json"))
               for s in ent["segments"])
    rows = (db.query("t").where("id", "IN", ["k0100", "k0101"])
            .order_by_asc("id").df().collect())
    assert [(r["id"], r["pcol"], r["n"]) for r in rows] == \
        [("k0100", "00", 100), ("k0101", "01", 101)]
    kept, total, _t = db._last_prune
    assert total == 3 and kept == 2, db._last_prune
