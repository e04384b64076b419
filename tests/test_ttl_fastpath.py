"""TTL tables ride the flush fast paths (r12 verdict what's-wrong #1):
a high-ingest retention table must flush O(delta) — segment commits,
deletion vectors, replace epochs — instead of the full rewrite it was
pinned to.  Expired BASE rows stay on disk between compactions but are
invisible through EVERY read surface (df, cold reopen, time travel,
snapshot, skipping-rebuilt scans), the TTL filter applies to the DELTA
at flush (expired new rows never land), metadata counts refuse, and
the amortized rewrite physically sweeps."""
import datetime
import os
import time

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema, TableTtlConfig)


def _mk(spark, wh, ttl_ms=800):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="t", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema("n", DataType.integer),
                FieldSchema("created", DataType.datetime)],
        ttl=TableTtlConfig(ttl_ms=ttl_ms, source_field="created")))
    return db


def _ids(df):
    return sorted(r["id"] for r in df.collect())


@pytest.mark.usefixtures("spark")
class TestTtlFastPath:
    def test_append_flush_is_segment_commit(self, spark, tmp_path):
        """The headline: an append to a TTL table flushes as a SEGMENT
        (O(delta)), no longer a per-flush table rewrite."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=3_600_000)
        now = datetime.datetime.now()
        db.batch_insert("t", [
            {"id": f"b{i}", "n": i, "created": now} for i in range(6)])
        db.flush()                              # base (first = rewrite)
        base_segs = list(db._tables[("default", "t")]["segments"])
        assert len(base_segs) == 1
        db.append_rows("t", spark.createDataFrame(
            [("a1", 10, now), ("a2", 11, now)],
            db.df("t").schema))
        db.flush()                              # MUST be a segment commit
        ent = db._tables[("default", "t")]
        assert len(ent["segments"]) == 2, \
            "TTL table still rewriting on append flush"
        assert ent["segments"][0] == base_segs[0]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2.df("t")) == ["a1", "a2"] + [f"b{i}"
                                                    for i in range(6)]

    def test_expired_delta_rows_never_land(self, spark, tmp_path):
        """The flush-time TTL filter applies to the delta: an already-
        expired appended row is absent from the written segment."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=60_000)
        now = datetime.datetime.now()
        db.batch_insert("t", [{"id": "base", "n": 1, "created": now}])
        db.flush()
        db.append_rows("t", spark.createDataFrame(
            [("live", 2, now),
             ("dead", 3, now - datetime.timedelta(hours=1))],
            db.df("t").schema))
        db.flush()
        ent = db._tables[("default", "t")]
        assert len(ent["segments"]) == 2
        raw = spark.read.parquet(ent["segments"][1])
        assert _ids(raw) == ["live"]

    def test_unswept_then_compacted_history(self, spark, tmp_path):
        """A base row that expires AFTER its flush stays physically on
        disk (unswept) yet invisible through df / reopen / time travel
        / snapshot; metadata count refuses; the next rewrite sweeps it
        physically."""
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=900)
        now = datetime.datetime.now()
        far = now + datetime.timedelta(hours=1)
        # 'aging' is dated 8s into the future: live through both
        # flushes regardless of their wall time, expired after the
        # computed sleep below — deterministic, no race with flush cost
        aging_at = now + datetime.timedelta(seconds=8)
        db.batch_insert("t", [
            {"id": "keep", "n": 1, "created": far},
            {"id": "aging", "n": 2, "created": aging_at}])
        db.flush()                          # v: rewrite, both live
        db.append_rows("t", spark.createDataFrame(
            [("new1", 3, far)], db.df("t").schema))
        db.flush()                          # v+1: segment commit
        key = ("default", "t")
        ent = db._tables[key]
        assert len(ent["segments"]) == 2
        v_seg = db._generations.get(key, 0)
        wait = (aging_at - datetime.datetime.now()).total_seconds() \
            + 0.9 + 0.5
        time.sleep(max(wait, 0))            # 'aging' expires, unswept
        base_seg = ent["segments"][0]
        # physically present in the base segment...
        assert "aging" in _ids(spark.read.parquet(base_seg))
        # ...but invisible everywhere the engine reads
        assert _ids(db.df("t")) == ["keep", "new1"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2.df("t")) == ["keep", "new1"]
        assert _ids(db.df_at("t", v_seg)) == ["keep", "new1"]
        snap = S.snapshot(db)
        try:
            assert _ids(snap.df("t")) == ["keep", "new1"]
        finally:
            snap.release()
        db.unpin_versions()
        # metadata count must refuse while expired rows are unswept
        assert db.stats_count("t") is None
        assert db.query("t").count() == 2   # the scan answer is right
        # force the amortized rewrite: physical sweep
        db.set_df("t", db.df("t"))
        db.flush()
        ent = db._tables[key]
        assert len(ent["segments"]) == 1
        assert "aging" not in _ids(spark.read.parquet(ent["path"]))
        assert _ids(db.df("t")) == ["keep", "new1"]

    def test_delete_vector_on_ttl_table(self, spark, tmp_path):
        """A pure-delete epoch on a TTL table commits as a deletion
        vector (no data rewrite) and the fold + TTL filter compose."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=3_600_000)
        now = datetime.datetime.now()
        db.batch_insert("t", [
            {"id": f"k{i}", "n": i, "created": now} for i in range(8)])
        db.flush()
        db.delete("t").where("n", "<", 2).execute()
        db.flush()
        ent = db._tables[("default", "t")]
        assert ent["ops"][-1][0] == "del"
        assert not [f for f in os.listdir(ent["path"])
                    if f.endswith(".parquet")]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2.df("t")) == [f"k{i}" for i in range(2, 8)]

    def test_cdc_recipe_ttl_equals_exceptall(self, spark, tmp_path):
        """table_diff over a TTL table's extending recipe must match
        the read_version exceptAll answer even with an expired-but-
        unswept base row in the chain."""
        from tostore_spark import store as S
        from pyspark.sql import functions as F
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=900)
        now = datetime.datetime.now()
        far = now + datetime.timedelta(hours=1)
        aging_at = now + datetime.timedelta(seconds=10)
        db.batch_insert("t", [
            {"id": "keep", "n": 1, "created": far},
            {"id": "aging", "n": 2, "created": aging_at}])
        db.flush()
        key = ("default", "t")
        v_from = db._generations.get(key, 0)
        db.append_rows("t", spark.createDataFrame(
            [("new1", 3, far)], db.df("t").schema))
        db.flush()
        db.delete("t").where("id", "=", "keep").execute()
        db.flush()
        v_to = db._generations.get(key, 0)
        wait = (aging_at - datetime.datetime.now()).total_seconds() \
            + 0.9 + 0.5
        time.sleep(max(wait, 0))            # 'aging' expires mid-history
        fast = S.table_diff(db, "t", v_from, v_to)
        old = db.df_at("t", v_from).select("id", "n")
        new = db.df_at("t", v_to).select("id", "n")
        slow = (new.exceptAll(old).withColumn("change", F.lit("insert"))
                .unionByName(old.exceptAll(new)
                             .withColumn("change", F.lit("delete"))))
        k = lambda r: (r["id"], r["n"], r["change"])
        assert sorted(map(k, fast.select("id", "n", "change").collect())) \
            == sorted(map(k, slow.collect()))
        db.unpin_versions()

    @pytest.mark.parametrize("ttl_ms", [0, -3_600_000])
    def test_nonpositive_ttl_keeps_rows_through_flush(self, spark, tmp_path,
                                                      ttl_ms):
        """A zero or negative ``ttl_ms`` turns TTL off everywhere: the
        flush sweep keeps every row the reads show."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, ttl_ms=ttl_ms)
        now = datetime.datetime.now()
        db.batch_insert("t", [
            {"id": f"r{i}", "n": i,
             "created": now - datetime.timedelta(hours=i)}
            for i in range(4)])
        want = ["r0", "r1", "r2", "r3"]
        assert _ids(db.df("t")) == want
        db.flush()
        assert _ids(db.df("t")) == want
        assert _ids(db.df_at("t", db._generations[("default", "t")])) \
            == want
        db.unpin_versions()
        assert _ids(ToStoreSpark(spark, warehouse=wh).df("t")) == want
