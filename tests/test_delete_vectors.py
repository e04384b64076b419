"""Deletion-vector (merge-on-read) flush commits: a pure-delete epoch
flushes only the deleted-PK parquet under ``<vdir>/_deletes``; readers
fold the recipe (``store._ops_frame``) in epoch order.  The cost claim
under test: deleting k rows writes k keys, never the table."""
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)


def _mk(spark, wh, rows=20):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _ids(db, name="notes"):
    return sorted(r["id"] for r in db.df(name).collect())


@pytest.mark.usefixtures("spark")
class TestDeleteVectors:
    def test_pure_delete_epoch_writes_only_keys(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        base_path = db._tables[("default", "notes")]["path"]
        n = db.delete("notes").where("n", "<", 5).execute()
        assert n == 5
        db.flush()
        ent = db._tables[("default", "notes")]
        vdir = ent["path"]
        assert vdir != base_path
        # the new version dir holds NO table data — only the key set
        root_files = [f for f in os.listdir(vdir)
                      if f.endswith(".parquet")]
        assert root_files == []
        assert os.path.isdir(os.path.join(vdir, "_deletes"))
        assert ent["ops"][-1][0] == "del"
        # the in-memory read and a cold reopen agree
        assert _ids(db) == [f"k{i:03d}" for i in range(5, 20)]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == [f"k{i:03d}" for i in range(5, 20)]
        assert db2.query("notes").where("id", "=", "k003").count() == 0

    def test_delete_then_reinsert_ordering(self, spark, tmp_path):
        """pk deleted in epoch 2, re-inserted in epoch 3: the anti-join
        applies only to segments BEFORE the delete, so the new row
        survives a cold reopen."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.delete("notes").where("id", "=", "k002").execute()
        db.flush()
        db.batch_insert("notes", [{"id": "k002", "body": "new", "n": 99}])
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r for r in db2.df("notes").collect()}
        assert rows["k002"]["body"] == "new" and len(rows) == 6
        kinds = [k for k, _ in db2._tables[("default", "notes")]["ops"]]
        assert kinds == ["seg", "del", "seg"]

    def test_mixed_epoch_folds_to_replace(self, spark, tmp_path):
        """delete + insert in ONE epoch fold to a replace commit
        (epoch algebra: K = deleted keys, R = appended rows) — the
        version dir carries both the key set and the new rows."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.delete("notes").where("id", "=", "k000").execute()
        db.batch_insert("notes", [{"id": "x1", "body": "y", "n": 1}])
        key = ("default", "notes")
        assert db._append_deltas.get(key) is not None
        assert db._delete_deltas.get(key) is not None
        db.flush()
        ent = db._tables[key]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["k001", "k002", "k003", "k004", "k005", "x1"]

    def test_delete_of_epoch_appended_rows_folds(self, spark, tmp_path):
        """R ∖ D: a row appended and then deleted in the SAME epoch
        must not flush (neither as data nor resurrect via ordering)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=3)
        db.batch_insert("notes", [{"id": "t1", "body": "a", "n": 10},
                                  {"id": "t2", "body": "b", "n": 11}])
        db.delete("notes").where("id", "=", "t1").execute()
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["k000", "k001", "k002", "t2"]

    def test_upsert_replace_epoch(self, spark, tmp_path):
        """upsert = merge-on-read replace: the flushed version dir
        holds only the touched rows + their key set, and a cold reopen
        replays update-in-place AND insert."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=5)
        db.batch_upsert("notes", [
            {"id": "k002", "body": "UPDATED"},
            {"id": "new1", "body": "INSERTED", "n": 42}])
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        # the data part of the replace dir holds ONLY the touched rows
        vdir = ent["path"]
        import pyarrow.parquet as pq
        seg_rows = pq.read_table(vdir).num_rows
        assert seg_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r for r in db2.df("notes").collect()}
        assert len(rows) == 6
        assert rows["k002"]["body"] == "UPDATED"
        assert rows["k002"]["n"] == 2          # partial update kept n
        assert rows["new1"]["body"] == "INSERTED"

    def test_conditional_update_replace_epoch(self, spark, tmp_path):
        """update().where().set() flushes touched rows + keys only."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=8)
        n = db.update("notes", {"body": "EDIT"}) \
              .where("n", ">=", 6).execute()
        assert n == 2
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        import pyarrow.parquet as pq
        assert pq.read_table(ent["path"]).num_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert len(rows) == 8
        assert rows["k006"] == "EDIT" and rows["k000"] == "b0"

        # a PK-mutating update is never vector-eligible (rewrite)
        db2.update("notes", {"id": "zz"}).where("n", "=", 0).execute()
        key = ("default", "notes")
        assert db2._delete_deltas.get(key) is None
        db2.flush()
        db3 = ToStoreSpark(spark, warehouse=wh)
        assert "zz" in {r["id"] for r in db3.df("notes").collect()}

    def test_streaming_upsert_replace_epoch(self, spark, tmp_path):
        """merge_batch(mode='upsert') with a schema-complete batch
        flushes the batch rows + their PK set, never the table."""
        from tostore_spark.streaming.sink import merge_batch
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        batch = spark.createDataFrame(
            [{"id": "k001", "body": "STREAMED", "n": 100},
             {"id": "s1", "body": "NEW", "n": 101}],
            db.df("notes").schema)
        assert merge_batch(db, "notes", batch, mode="upsert") == 2
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        import pyarrow.parquet as pq
        assert pq.read_table(ent["path"]).num_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert rows["k001"] == "STREAMED" and rows["s1"] == "NEW"
        assert len(rows) == 7

    def test_batch_update_replace_epoch(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=5)
        n = db.batch_update("notes", [{"id": "k001", "body": "B1"},
                                      {"id": "missing", "body": "X"}])
        assert n == 1
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert rows["k001"] == "B1" and len(rows) == 5

    def test_duplicate_pk_probe_falls_back(self, spark, tmp_path):
        """Duplicate PKs (bulk path, no validation) make the PK set
        ambiguous: the survivor-probe must veto the vector and the
        rewrite must keep the surviving duplicate."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=4)
        dup = spark.createDataFrame(
            [{"id": "k001", "body": "DUP", "n": 77}],
            db.df("notes").schema)
        db.append_rows("notes", dup)
        db.flush()
        n = db.delete("notes").where("n", "=", 1).execute()   # one copy
        assert n == 1
        key = ("default", "notes")
        assert db._delete_deltas.get(key) is None   # vetoed → rewrite
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = [r for r in db2.df("notes").collect() if r["id"] == "k001"]
        assert len(rows) == 1 and rows[0]["body"] == "DUP"

    def test_time_travel_vacuum_fsck(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=8)                      # v? base
        v_base = db._generations[("default", "notes")]
        db.delete("notes").where("n", ">=", 6).execute()
        db.flush()                                       # delete epoch
        v_del = db._generations[("default", "notes")]
        db.batch_insert("notes", [{"id": "z9", "body": "t", "n": 50}])
        db.flush()                                       # append epoch
        assert db.df_at("notes", v_base).count() == 8
        assert db.df_at("notes", v_del).count() == 6
        # vacuum keeps the chain alive: current recipe references the
        # base AND the delete-epoch dirs
        db.unpin_versions()
        db.vacuum(keep=1)
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.df("notes").count() == 7
        assert db2.fsck().count() == 0

    def test_refresh_preserves_epoch_deltas(self, spark, tmp_path):
        """refresh() picking up ANOTHER table's flush must not degrade
        a kept table's pending epoch to a rewrite: its base is
        unchanged, so the deltas still describe (local − base)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=4)
        other = ToStoreSpark(spark, warehouse=wh)
        other.register_table("u", df=spark.createDataFrame(
            [{"x": 1}]))
        other.flush(only=["u"])
        # pending append + delete epoch on notes, then refresh
        db.batch_insert("notes", [{"id": "a1", "body": "n", "n": 9}])
        db.delete("notes").where("id", "=", "k000").execute()
        assert "u" in db.refresh() or db.df("u").count() == 1
        key = ("default", "notes")
        assert db._append_deltas.get(key) is not None
        assert db._delete_deltas.get(key) is not None
        db.flush()
        ent = db._tables[key]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["a1", "k001", "k002", "k003"]
        assert db2.df("u").count() == 1

    def test_recipe_cdc_equals_exceptall(self, spark, tmp_path):
        """table_diff's O(delta) recipe fast path must equal the
        exceptAll answer across a delete epoch, a replace epoch (incl.
        a NO-OP re-write that must net out), and an append epoch."""
        from tostore_spark import store as S
        from pyspark.sql import functions as F
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)                         # v1 base
        v1 = db._generations[("default", "notes")]
        db.delete("notes").where("n", "=", 2).execute()
        db.flush()                                          # v2 del
        db.batch_upsert("notes", [
            {"id": "k001", "body": "NEW1"},                 # real change
            {"id": "k003", "body": "b3", "n": 3},           # no-op
            {"id": "z1", "body": "ins", "n": 50}])          # insert
        db.flush()                                          # v3 replace
        db.batch_insert("notes", [{"id": "a1", "body": "ap", "n": 60}])
        db.flush()                                          # v4 append
        v4 = db._generations[("default", "notes")]

        fast = S.table_diff(db, "notes", v1, v4)
        # the recipe path must actually have engaged
        assert S._diff_from_recipe(db, "notes", v1, v4,
                                   "default") is not None
        old = S.read_version(db, "notes", v1)
        new = S.read_version(db, "notes", v4)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        got = sorted(map(tuple, fast.collect()))
        want = sorted(map(tuple, exp.collect()))
        assert got == want
        # the no-op upsert row (k003) must not appear at all
        assert not any(r[0] == "k003" for r in got)
        # a rewrite breaks the chain: fallback, same answer shape
        from tostore_spark.plans.layout import optimize_table
        optimize_table(db, "notes", target_partitions=2)
        v5 = db._generations[("default", "notes")]
        assert S._diff_from_recipe(db, "notes", v1, v5,
                                   "default") is None
        assert S.table_diff(db, "notes", v4, v5).count() == 0

    def test_vacuum_reclaims_vectors_after_compaction(self, spark,
                                                      tmp_path):
        """Once a compacting rewrite folds the recipe, the old base +
        vector dirs are unreferenced history: vacuum removes them and
        the table still reads (no dangling recipe references)."""
        import os
        from tostore_spark.plans.layout import optimize_table
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=12)
        for n in (0, 1, 2):
            db.delete("notes").where("n", "=", n).execute()
            db.flush()                        # three vector epochs
        assert db.table_stats("notes")["delete_epochs"] == 3
        optimize_table(db, "notes", target_partitions=2)   # compaction
        assert db.table_stats("notes")["delete_epochs"] == 0
        db.unpin_versions()
        removed = db.vacuum(keep=1)
        assert removed >= 3
        tdir = os.path.join(wh, "default", "notes")
        assert len([d for d in os.listdir(tdir)
                    if d.startswith("v")]) == 1
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert len(_ids(db2)) == 9
        assert db2.fsck().count() == 0

    def test_rollback_restores_delete_delta(self, spark, tmp_path):
        from tostore_spark.transaction import transaction
        db = _mk(spark, str(tmp_path / "wh"), rows=5)
        key = ("default", "notes")
        with pytest.raises(RuntimeError):
            with transaction(db):
                db.delete("notes").where("id", "=", "k001").execute()
                raise RuntimeError("abort")
        assert key not in db._delete_deltas \
            or db._delete_deltas.get(key) is None
        assert db.df("notes").count() == 5
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        assert db2.df("notes").count() == 5

    def test_two_writer_mor_row_merge(self, spark, tmp_path):
        """Writer A commits a deletion vector; writer B (stale base,
        pending appends) hits the CAS conflict, row-merges, and its
        replay lands on top of A's vector state."""
        from tostore_spark.store import ConcurrentWriteError
        wh = str(tmp_path / "wh")
        a = _mk(spark, wh, rows=10)
        b = ToStoreSpark(spark, warehouse=wh)
        a.delete("notes").where("n", "<", 2).execute()
        a.flush()                                   # vector commit
        b.batch_insert("notes", [{"id": "b1", "body": "w", "n": 90}])
        with pytest.raises(ConcurrentWriteError):
            b.flush()
        b.refresh(row_merge=True)
        b.flush()
        final = ToStoreSpark(spark, warehouse=wh)
        ids = _ids(final)
        assert "k000" not in ids and "k001" not in ids
        assert "b1" in ids and len(ids) == 9
        # superseded v1/v2 are vacuum candidates; after vacuum the
        # warehouse is fully clean and still reads correctly
        final.vacuum(keep=1)
        assert final.fsck().count() == 0
        assert len(_ids(final)) == 9

    def test_skipping_and_meta_agg_ineligible_until_compaction(
            self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "=", 3).execute()
        db.flush()
        # since r11 a flush-verified pure-delete vector keeps COUNT
        # metadata-servable: sum(segment rows) - sum(vector counts)
        assert db.query("notes").count() == 9
        assert db._last_meta_agg == ("count", "notes")
        # ...but min/max must still refuse (the deleted row could hold
        # the extremum)
        assert db.stats_min_max("notes", "n", "max") is None
        # skipping stays eligible under deletes — the recipe is folded
        # with the anti-join re-applied, so n=3 must NOT resurrect
        assert db.query("notes").where("n", "BETWEEN",
                                       {"start": 0, "end": 5}).count() == 5
        # point probe past the data range: segment pruned even with a
        # pending delete epoch
        assert db.query("notes").where("n", ">", 10_000).count() == 0
        assert db._last_prune == (0, 1, "notes")
        # an explicit layout rewrite compacts the recipe; fast paths
        # resume (updates themselves now flush as replace epochs)
        from tostore_spark.plans.layout import optimize_table
        optimize_table(db, "notes", target_partitions=2)
        assert [k for k, _ in
                db._tables[("default", "notes")]["ops"]] == ["seg"]
        assert db.query("notes").count() == 9
        assert db._last_meta_agg == ("count", "notes")


class TestCdcPruning:
    def test_cdc_base_state_prunes_disjoint_segments(self, spark, tmp_path):
        """The first pre-image build must drop base segments whose
        footer stats are disjoint from every tail deletion-vector key
        set — and still equal the exceptAll answer."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="body", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"a{i:03d}", "body": f"b{i}", "n": i}
            for i in range(10)])
        db.flush()                                   # base seg 1: a***
        db.batch_insert("notes", [
            {"id": f"b{i:03d}", "body": f"c{i}", "n": 100 + i}
            for i in range(10)])
        db.flush()                                   # base seg 2: b***
        v_from = db._generations[("default", "notes")]
        db.delete("notes").where("id", "IN", ["b003", "b007"]).execute()
        db.flush()                                   # tail: one del epoch
        v_to = db._generations[("default", "notes")]

        fast = S._diff_from_recipe(db, "notes", v_from, v_to, "default")
        assert fast is not None
        rows = sorted(map(tuple, fast.collect()))
        # keys live only in segment 2 — segment 1 must have been pruned
        assert db._last_cdc_prune == (1, 2)
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert rows == sorted(map(tuple, exp.collect()))
        assert {r[1] for r in rows} == {"b003", "b007"}   # id column

    def test_cdc_prunes_on_multicolumn_keys(self, spark, tmp_path):
        """r11-verdict order #7: a COMPOSITE-key tail epoch (upsert
        matched on a 2-column unique index) prunes base segments via
        per-column conjunctive IN bounds — segment 1's integer range
        refutes the g-values even if the text column is undecidable —
        and still equals the exceptAll answer."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        from tostore_spark.schema import IndexSchema
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="c", type=DataType.text),
                    FieldSchema(name="g", type=DataType.integer),
                    FieldSchema(name="n", type=DataType.integer)],
            indexes=[IndexSchema(fields=["c", "g"], unique=True)]))
        db.batch_insert("notes", [
            {"id": f"p{i:03d}", "c": f"a{i:03d}", "g": i, "n": i}
            for i in range(10)])
        db.flush()                           # base seg 1: g in 0..9
        db.batch_insert("notes", [
            {"id": f"q{i:03d}", "c": f"b{i:03d}", "g": 100 + i,
             "n": 100 + i}
            for i in range(10)])
        db.flush()                           # base seg 2: g in 100..109
        v_from = db._generations[("default", "notes")]
        # upsert WITHOUT the PK → matches the composite unique index →
        # replace epoch whose key frame has TWO columns (c, g)
        db.batch_upsert("notes", [
            {"c": "b003", "g": 103, "n": 9103},
            {"c": "b007", "g": 107, "n": 9107}])
        db.flush()
        v_to = db._generations[("default", "notes")]
        fast = S._diff_from_recipe(db, "notes", v_from, v_to, "default")
        assert fast is not None
        rows = sorted(map(tuple, fast.collect()))
        assert db._last_cdc_prune == (1, 2), \
            "the composite key's integer column must prune segment 1"
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert rows == sorted(map(tuple, exp.collect()))
        touched = {(r[cols.index("c")], r[cols.index("g")])
                   for r in rows}
        assert touched == {("b003", 103), ("b007", 107)}

    def test_cdc_incremental_state_multi_epoch(self, spark, tmp_path):
        """Interleaved del/seg/del tail: the incrementally-evolved
        state must equal the per-epoch refold it replaced (pre-image of
        the SECOND delete must see the first delete applied AND the
        interleaved append's rows)."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        v_from = db._generations[("default", "notes")]
        db.delete("notes").where("id", "=", "k001").execute()
        db.flush()                                   # del epoch 1
        db.batch_insert("notes", [{"id": "k001", "body": "REBORN",
                                   "n": 91},
                                  {"id": "z9", "body": "zz", "n": 92}])
        db.flush()                                   # seg epoch
        db.delete("notes").where("id", "IN", ["k001", "z9", "k002"]) \
          .execute()
        db.flush()                                   # del epoch 2
        v_to = db._generations[("default", "notes")]
        fast = S.table_diff(db, "notes", v_from, v_to)
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert sorted(map(tuple, fast.collect())) == \
            sorted(map(tuple, exp.collect()))


class TestMetaCountUnderDeletes:
    def test_count_served_across_pure_delete_epochs(self, spark, tmp_path):
        """stats_count stays metadata-only across pure-append +
        pure-delete chains: sum(segment rows) - sum(flush-verified
        vector counts), no Spark job."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=20)
        db.delete("notes").where("n", "<", 5).execute()
        db.flush()                                   # pure-del epoch
        db.batch_insert("notes", [{"id": f"z{i}", "body": "x", "n": 90 + i}
                                  for i in range(3)])
        db.flush()                                   # append epoch
        db.delete("notes").where("id", "=", "z1").execute()
        db.flush()                                   # pure-del epoch 2
        n = db.stats_count("notes")
        assert n == 20 - 5 + 3 - 1
        assert db._last_meta_agg == ("count", "notes")
        assert n == db.df("notes").count()           # matches the scan
        # query-path count() rides the same serve
        assert db.query("notes").count() == n
        # cold reopen: del_counts round-trip through the manifest
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.stats_count("notes") == n
        assert db2._last_meta_agg == ("count", "notes")

    def test_count_refused_for_replace_epochs(self, spark, tmp_path):
        """A replace pair's del key may match nothing (the upsert's
        insert half) — the metadata count must refuse."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.upsert("notes", {"id": "NEW", "body": "ins", "n": 99})
        db.flush()                                   # replace epoch
        assert db.stats_count("notes") is None
        assert db._last_meta_agg is None
        assert db.df("notes").count() == 11          # scan still right

    def test_minmax_still_refused_under_deletes(self, spark, tmp_path):
        """A deleted row could hold the extremum: only COUNT may ride
        the del_counts shortcut."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "=", 9).execute()
        db.flush()
        assert db.stats_count("notes") == 9
        assert db.stats_min_max("notes", "n", "max") is None


class TestSnapshotMoR:
    def test_snapshot_view_folds_del_recipes(self, spark, tmp_path):
        """SnapshotView.df on a table with pending deletion vectors:
        the pure-del version dir holds NO data files, so the plain
        segment read crashed (and a del+seg recipe would resurrect
        deleted rows) — the snapshot must fold ops like the registry
        read does."""
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "<", 4).execute()
        db.flush()
        snap = S.snapshot(db)
        try:
            assert sorted(r["id"] for r in snap.df("notes").collect()) \
                == [f"k{i:03d}" for i in range(4, 10)]
        finally:
            snap.release()


def _notes_schema():
    return TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer),
                FieldSchema(name="code", type=DataType.integer,
                            unique=True)])


def _ab_run(spark, tmp_path, mutate, setup=None, tables=("notes",)):
    """Run the same history on two warehouses — deletion vectors on
    (the one-pass path) and off (every mutation rewrites) — and return
    ``{dv: (db, mutate(db) result, {table: reopened rows})}``.  The
    history: 12 base rows, ``setup(db)``, a flush, two single-key
    delete epochs (so the one-pass side carries two pending deletion
    vectors in its recipe), then ``mutate`` and a flush."""
    from tostore_spark.schema import PrimaryKeyType
    out = {}
    for dv in (True, False):
        wh = str(tmp_path / f"wh_{dv}")
        db = ToStoreSpark(spark, warehouse=wh)
        db.delete_vectors = dv
        db.create_table(_notes_schema())
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "body": f"b{i}", "n": i, "code": i * 10}
            for i in range(12)])
        if setup is not None:
            setup(db, PrimaryKeyType)
        db.flush()
        for pk in ("k010", "k011"):
            assert db.delete("notes").where("id", "=", pk).execute() == 1
            db.flush()
        kinds = [k for k, _ in db._tables[("default", "notes")]["ops"]]
        assert kinds.count("del") == (2 if dv else 0), kinds
        try:
            res = mutate(db)
        except ValueError as exc:
            res = f"raised: {exc}"
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {t: sorted((tuple(r) for r in db2.df(t).collect()), key=repr)
                for t in tables}
        out[dv] = (db, res, rows)
    assert out[True][1] == out[False][1]
    assert out[True][2] == out[False][2]
    return out


@pytest.mark.usefixtures("spark")
class TestOnePassMutations:
    """PK-keyed update/delete pin their touched rows once and probe
    them in one job (write._MutationBuilder._one_pass); each case runs
    A/B against ``delete_vectors=False`` (the rewrite path) and must
    leave identical rows after flush + reopen."""

    def _pending(self, db):
        """The epoch deltas on the one-pass side; (None, None) on the
        rewrite side, where every mutation poisons the epoch."""
        key = ("default", "notes")
        return db._append_deltas.get(key), db._delete_deltas.get(key)

    def _keyed(self, db):
        return (not db.delete_vectors) or self._pending(db)[1] is not None

    def test_ab_plain_update_and_delete(self, spark, tmp_path):
        def mutate(db):
            n = db.update("notes", {"body": "U"}).where("n", "<", 4) \
                .execute()
            m = db.delete("notes").where("n", ">=", 8).execute()
            assert self._keyed(db)                     # vector kept
            return n, m
        out = _ab_run(spark, tmp_path, mutate)
        assert out[True][1] == (4, 2)
        kinds = [k for k, _ in out[True][0]._tables[
            ("default", "notes")]["ops"]]
        assert kinds[-2:] == ["del", "seg"]            # replace epoch

    def test_ab_duplicate_pk_veto(self, spark, tmp_path):
        def setup(db, _t):
            db.append_rows("notes", spark.createDataFrame(
                [("k001", "DUP", 77, 770)],
                "id string, body string, n int, code int"))

        def mutate(db):
            n = db.update("notes", {"body": "U"}).where("n", "=", 1) \
                .execute()
            assert self._pending(db) == (None, None)   # vetoed
            m = db.delete("notes").where("n", "=", 77).execute()
            db.flush()
            db.append_rows("notes", spark.createDataFrame(
                [("k002", "DUP", 78, 780)],
                "id string, body string, n int, code int"))
            db.flush()
            # a condition on the PK alone matches every copy: no
            # survivor shares the key, so the vector stands
            d = db.delete("notes").where("id", "=", "k002").execute()
            assert self._keyed(db)
            return n, m, d
        out = _ab_run(spark, tmp_path, mutate, setup=setup)
        assert out[True][1] == (1, 1, 2)
        rows = out[True][2]["notes"]
        assert [r for r in rows if r[0] == "k001"] == [("k001", "U", 1, 10)]
        assert not [r for r in rows if r[0] == "k002"]

    def test_ab_null_pk_veto(self, spark, tmp_path):
        def setup(db, _t):
            db.append_rows("notes", spark.createDataFrame(
                [(None, "NULLPK", 50, 500)],
                "id string, body string, n int, code int"))

        def mutate(db):
            n = db.update("notes", {"body": "U"}).where("n", ">=", 9) \
                .execute()
            assert self._pending(db) == (None, None)   # vetoed
            m = db.delete("notes").where("n", "=", 50).execute()
            return n, m
        out = _ab_run(spark, tmp_path, mutate, setup=setup)
        assert out[True][1] == (2, 1)
        assert all(r[0] is not None for r in out[True][2]["notes"])

    def test_ab_ordered_limited(self, spark, tmp_path):
        def mutate(db):
            n = (db.update("notes").where("n", ">=", 0)
                 .order_by_desc("n").limit(2).set({"body": "TOP"}))
            m = (db.delete("notes").where("n", "<", 9)
                 .order_by_asc("n").offset(1).limit(3).execute())
            assert self._keyed(db)
            return n, m
        out = _ab_run(spark, tmp_path, mutate)
        assert out[True][1] == (2, 3)
        ids = {r[0]: r[1] for r in out[True][2]["notes"]}
        assert ids["k009"] == "TOP" and ids["k008"] == "TOP"
        assert "k000" in ids and not {"k001", "k002", "k003"} & set(ids)

    def test_ab_unique_field_update(self, spark, tmp_path):
        def mutate(db):
            with pytest.raises(ValueError, match="unique"):
                db.update("notes").where("id", "=", "k001") \
                    .set({"code": 20})
            # keeper: lowest pk; k001 and k002 collide and are skipped
            return (db.update("notes").where("n", "<", 3)
                    .continue_on_partial_errors().set({"code": 999}))
        out = _ab_run(spark, tmp_path, mutate)
        assert out[True][1] == 1
        codes = {r[0]: r[3] for r in out[True][2]["notes"]}
        assert codes["k000"] == 999 and codes["k001"] == 10

    def test_ab_fk_cascade_delete(self, spark, tmp_path):
        from tostore_spark.schema import ForeignKeyAction, ForeignKeySchema

        def setup(db, pk_types):
            db.create_table(TableSchema(
                name="tags",
                fields=[FieldSchema(name="note_id", type=DataType.text),
                        FieldSchema(name="tag", type=DataType.text)],
                primary_key=PrimaryKeyConfig(name="tid"),
                foreign_keys=[ForeignKeySchema(
                    fields=["note_id"], referenced_table="notes",
                    referenced_fields=["id"],
                    on_delete=ForeignKeyAction.cascade)]))
            db.batch_insert("tags", [
                {"tid": "t1", "note_id": "k003", "tag": "a"},
                {"tid": "t2", "note_id": "k004", "tag": "b"},
                {"tid": "t3", "note_id": "k005", "tag": "c"}])

        def mutate(db):
            return db.delete("notes").where("id", "IN",
                                            ["k003", "k005"]).execute()
        out = _ab_run(spark, tmp_path, mutate, setup=setup,
                      tables=("notes", "tags"))
        assert out[True][1] == 2
        tags = out[True][2]["tags"]
        assert len(tags) == 1 and "t2" in tags[0]

    def test_ab_counts_off(self, spark, tmp_path):
        def mutate(db):
            db.eager_mutation_counts = False
            return (db.update("notes", {"body": "U"}).where("n", "<", 2)
                    .execute(),
                    db.delete("notes").where("n", "=", 5).execute())
        out = _ab_run(spark, tmp_path, mutate)
        assert out[True][1] == (-1, -1)

    def test_zero_match_mutation_is_a_noop(self, spark, tmp_path):
        """A PK-keyed mutation matching no row changes nothing: the
        frame, its generation and the epoch deltas stay as they are, so
        the next flush still takes the fast path instead of rewriting."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        key = ("default", "notes")
        gen = db.generation("notes")
        assert db.delete("notes").where("id", "=", "nope").execute() == 0
        assert db.update("notes", {"body": "x"}).where("n", ">", 99) \
            .execute() == 0
        assert db.generation("notes") == gen
        assert db.flush() == []                      # nothing to commit
        db.batch_insert("notes", [{"id": "x1", "body": "y", "n": 1}])
        frame = db._tables[key]["df"]
        assert db.delete("notes").where("id", "=", "nope").execute() == 0
        assert db._tables[key]["df"] is frame
        assert db._append_deltas.get(key) is not None
        assert db._delete_deltas.get(key) is None
        before = set(os.listdir(os.path.join(wh, "default", "notes")))
        db.flush()
        ent = db._tables[key]
        assert ent["ops"][-1][0] == "seg" and len(ent["segments"]) == 2
        new = set(os.listdir(os.path.join(wh, "default", "notes"))) - before
        assert new == {os.path.basename(ent["path"])}
        import pyarrow.parquet as pq
        assert pq.read_table(ent["path"]).num_rows == 1   # not a rewrite

    def test_update_and_delete_run_one_pin_and_one_collect(
            self, spark, tmp_path, monkeypatch):
        """On a flushed table an update and a delete each run exactly two
        driver actions: the pin of the touched rows and the probe."""
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        db = _mk(spark, str(tmp_path / "wh"), rows=20)
        db.delete("notes").where("id", "=", "k019").execute()
        db.flush()                      # a pending deletion vector
        calls = []
        for name in ("take", "localCheckpoint", "count", "collect",
                     "first", "toPandas", "toLocalIterator"):
            orig = getattr(CDF, name)

            def wrapper(self, *a, _n=name, _o=orig, **kw):
                calls.append(_n)
                return _o(self, *a, **kw)

            monkeypatch.setattr(CDF, name, wrapper)
        assert db.update("notes", {"body": "U"}).where("n", "<", 3) \
            .execute() == 3
        assert calls == ["localCheckpoint", "collect"], calls
        db.flush()
        calls.clear()
        assert db.delete("notes").where("n", ">", 15).execute() == 3
        assert calls == ["localCheckpoint", "collect"], calls

    def test_upsert_batch_update_and_append_rows_pin_once(
            self, spark, tmp_path, monkeypatch):
        """Writers pin their own epoch delta once; the epoch fold in
        ``set_df`` pins nothing again.  Key frames come from the
        driver-local payload and need no pin."""
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        db = _mk(spark, str(tmp_path / "wh"), rows=20)
        calls = []
        orig = CDF.localCheckpoint

        def wrapper(self, *a, **kw):
            calls.append("localCheckpoint")
            return orig(self, *a, **kw)

        monkeypatch.setattr(CDF, "localCheckpoint", wrapper)
        db.upsert("notes", {"id": "k003", "body": "U", "n": 3})
        assert len(calls) == 1, calls
        assert self._pending(db)[1] is not None     # replace epoch kept
        db.flush()
        calls.clear()
        assert db.batch_update("notes", [{"id": "k004", "body": "V"}]) == 1
        assert len(calls) == 1, calls
        db.flush()
        calls.clear()
        db.append_rows("notes", spark.createDataFrame(
            [("k100", "x", 100)], "id string, body string, n int"))
        assert len(calls) == 1, calls
        assert self._pending(db)[0] is not None
        db.flush()
        got = {r["id"]: r["body"] for r in db.df("notes").collect()}
        assert (got["k003"], got["k004"], got["k100"]) == ("U", "V", "x")
        assert len(got) == 21

    def test_failed_delta_pin_takes_rewrite_path(self, spark, tmp_path,
                                                 monkeypatch):
        """A pin that raises poisons the epoch: the flush rewrites.  Once
        poisoned, later writers in the epoch pin nothing."""
        from pyspark.sql.classic.dataframe import DataFrame as CDF
        db = _mk(spark, str(tmp_path / "wh"), rows=20)
        calls = []

        def boom(self, *a, **kw):
            calls.append("localCheckpoint")
            raise RuntimeError("pin failed")

        monkeypatch.setattr(CDF, "localCheckpoint", boom)
        db.upsert("notes", {"id": "k003", "body": "U", "n": 3})
        assert self._pending(db) == (None, None)
        db.batch_update("notes", [{"id": "k004", "body": "V"}])
        assert calls == ["localCheckpoint"], calls
        monkeypatch.undo()
        db.flush()
        assert [k for k, _ in db._tables[("default", "notes")]["ops"]
                ] == ["seg"]
        got = {r["id"]: r["body"] for r in db.df("notes").collect()}
        assert (got["k003"], got["k004"]) == ("U", "V")
