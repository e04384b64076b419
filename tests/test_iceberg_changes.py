"""Iceberg incremental/changelog read (read_iceberg_changes) and its
consumption surface (apply_iceberg_changes / start_iceberg_sync) —
the consumer half Delta CDF already has.  Derivation rules: appends →
inserts; merge-on-read delete snapshots → exact delete pre-images
(position deletes read only touched files, equality deletes probe the
parent); compactions contribute nothing; rewrites refuse."""
import os
import time

import pytest
from pyspark.sql import functions as F

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.iceberg import (_commit_snapshot,
                                         _load_metadata, _scan_files,
                                         _write_position_deletes,
                                         read_iceberg,
                                         read_iceberg_changes,
                                         rewrite_data_files)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def _mk(spark, wh, rows=20):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _changes(feed):
    return sorted(map(tuple, feed.select(
        "_change_type", "id", "n", "_commit_version").collect()))


class TestChangelogDerivation:
    def test_full_history_with_eq_delete_epoch(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}
                                  for i in range(3)])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")       # s2 append
        db.delete("notes").where("n", "IN", [3, 7, 11]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")  # s3
        assert rep["commit"] == "eqdel"
        feed = read_iceberg_changes(spark, dest)
        by = {(r["_change_type"], r["_commit_version"]): r["count"]
              for r in feed.groupBy("_change_type", "_commit_version")
              .count().collect()}
        assert by == {("insert", 1): 20, ("insert", 2): 3,
                      ("delete", 3): 3}
        dels = feed.filter("_change_type = 'delete'")
        assert sorted(r["n"] for r in dels.collect()) == [3, 7, 11]
        # feed meta columns carry the snapshot id + timestamp
        assert feed.select("_commit_snapshot_id").distinct().count() == 3
        assert feed.filter(F.col("_commit_timestamp").isNull()) \
                   .count() == 0

    def test_incremental_after_cursor(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        meta = _load_metadata(dest)
        s1 = meta["current-snapshot-id"]
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        inc = read_iceberg_changes(spark, dest, from_snapshot=s1)
        assert _changes(inc) == [("insert", "x0", 100, 2)]
        # from == to: empty with the full schema
        cur = _load_metadata(dest)["current-snapshot-id"]
        empty = read_iceberg_changes(spark, dest, from_snapshot=cur)
        assert empty.count() == 0
        assert set(empty.columns) >= {"id", "n", "_change_type",
                                      "_commit_snapshot_id",
                                      "_commit_version",
                                      "_commit_timestamp"}

    def test_mor_overwrite_mixed_epoch(self, spark, tmp_path):
        """Appends + deletes in one flush export as a MoR overwrite
        snapshot: derivable as inserts + position-delete pre-images."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        db.batch_insert("notes", [{"id": "x0", "n": 100},
                                  {"id": "x1", "n": 101}])
        db.delete("notes").where("n", "IN", [5, 9]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "mor"
        meta = _load_metadata(dest)
        assert meta["snapshots"][-1]["summary"]["operation"] == \
            "overwrite"
        inc = read_iceberg_changes(spark, dest, from_snapshot=s1)
        assert _changes(inc) == [
            ("delete", "k005", 5, 2), ("delete", "k009", 9, 2),
            ("insert", "x0", 100, 2), ("insert", "x1", 101, 2)]

    def test_update_epoch_is_delete_plus_insert(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        db.update("notes", {"n": 999}).where("n", "=", 0).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "mor"
        inc = read_iceberg_changes(spark, dest, from_snapshot=s1)
        assert _changes(inc) == [("delete", "k000", 0, 2),
                                 ("insert", "k000", 999, 2)]

    def test_compaction_contributes_nothing(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        rw = rewrite_data_files(spark, dest,
                                target_file_bytes=10 << 20)
        assert rw["mode"] == "binpack"
        inc = read_iceberg_changes(spark, dest, from_snapshot=s1)
        assert _changes(inc) == [("insert", "x0", 100, 2)]

    def test_rekill_position_not_resurfaced(self, spark, tmp_path):
        """A spec-legal position delete that re-kills an already-dead
        row must not re-emit that row as a delete (outside observers
        saw it die in the earlier snapshot)."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        db.delete("notes").where("n", "=", 2).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] in ("eqdel", "mor")
        meta = _load_metadata(dest)
        snap = [s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"]][0]
        data, _pd, _ed, _parts, _fs = _scan_files(meta, snap, dest)
        tgt = sorted(fp for fp, _ in data)[0]
        pos_of = {r["n"]: r["p"] for r in
                  spark.read.parquet(tgt).select(
                      "n", F.col("_metadata.row_index").alias("p"))
                  .collect()}
        # foreign writer: one delete file re-killing the already-dead
        # n=2 row AND killing the live n=4 row — a hand-built delete
        # snapshot
        df_ = _write_position_deletes(
            dest, [(tgt, pos_of[2]), (tgt, pos_of[4])])
        s_before = meta["current-snapshot-id"]
        _commit_snapshot(dest, meta, None, [df_], keep_prior=True,
                         operation="delete")
        inc = read_iceberg_changes(spark, dest,
                                   from_snapshot=s_before)
        got = sorted((r["_change_type"], r["n"])
                     for r in inc.collect())
        assert got == [("delete", 4)], \
            "only the newly-killed position may surface"

    def test_where_filters_and_prunes(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}
                                  for i in range(4)])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        feed = read_iceberg_changes(spark, dest, from_snapshot=s1,
                                    where={"n": {">=": 102}})
        assert sorted(r["n"] for r in feed.collect()) == [102, 103]


class TestChangelogRefusals:
    def test_refresh_refuses_and_resubscribe_works(self, spark,
                                                   tmp_path,
                                                   monkeypatch):
        import tostore_spark.plans.delta_dv as dv
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # force the refresh tier: a MIXED epoch (the eq-delete route
        # only covers pure deletes) whose position probe bound trips
        monkeypatch.setattr(dv, "MAX_TOTAL_POSITIONS", 0)
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.delete("notes").where("n", "<", 5).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "refresh"
        with pytest.raises(ValueError, match="rewrite"):
            read_iceberg_changes(spark, dest,
                                 from_snapshot=s1).count()
        # a fresh subscription from the refresh snapshot works
        cur = _load_metadata(dest)["current-snapshot-id"]
        assert read_iceberg_changes(
            spark, dest, from_snapshot=cur).count() == 0

    def test_non_ancestor_refuses(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest)
        with pytest.raises(ValueError, match="ancestor"):
            read_iceberg_changes(spark, dest,
                                 from_snapshot=999999).count()

    def test_name_mapped_refuses(self, spark, tmp_path):
        from tostore_spark.plans.iceberg import convert_to_iceberg
        src = str(tmp_path / "flat")
        spark.range(10).selectExpr("id", "id % 2 as g") \
            .write.parquet(src)
        convert_to_iceberg(spark, src)
        with pytest.raises(ValueError, match="name-mapped"):
            read_iceberg_changes(spark, src)

    def test_lying_append_summary_refuses(self, spark, tmp_path):
        """An 'append' snapshot that carries delete files is an
        inconsistent summary — refuse, never mis-derive."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        meta = _load_metadata(dest)
        snap = meta["snapshots"][-1]
        data, _pd, _ed, _parts, _fs = _scan_files(meta, snap, dest)
        tgt = sorted(fp for fp, _ in data)[0]
        df_ = _write_position_deletes(dest, [(tgt, 0)])
        s1 = meta["current-snapshot-id"]
        _commit_snapshot(dest, meta, None, [df_], keep_prior=True,
                         operation="append")
        with pytest.raises(ValueError, match="inconsistent"):
            read_iceberg_changes(spark, dest,
                                 from_snapshot=s1).count()


class TestApplyAndSync:
    def _pair(self, spark, tmp_path):
        sch = TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)])
        src = _mk(spark, str(tmp_path / "wh1"))
        dst = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
        dst.create_table(sch)
        return src, dst

    def test_apply_bootstrap_increment_cursor(self, spark, tmp_path):
        src, dst = self._pair(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(src, "notes", dest, target_files=1)
        rep = dst.apply_iceberg_changes("notes", dest)
        # bootstrap reports the ancestry ROOT as the range start (the
        # Delta twin's versions[0] analog — r17 advice), never None
        assert rep["applied"] == 20 and rep["from_snapshot"] == 1
        src.batch_insert("notes", [{"id": "x0", "n": 100}])
        src.flush()
        export_iceberg(src, "notes", dest, mode="update")
        src.delete("notes").where("n", "IN", [2, 4]).execute()
        src.flush()
        export_iceberg(src, "notes", dest, mode="update")
        rep2 = dst.apply_iceberg_changes("notes", dest)
        assert rep2["applied"] == 3 and rep2["from_snapshot"] == 1
        assert _rows(dst.df("notes")) == _rows(src.df("notes"))
        # exactly-once: a repeat tick applies nothing
        rep3 = dst.apply_iceberg_changes("notes", dest)
        assert rep3["applied"] == 0

    def test_apply_nets_insert_then_delete(self, spark, tmp_path):
        src, dst = self._pair(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(src, "notes", dest, target_files=1)
        dst.apply_iceberg_changes("notes", dest)
        src.batch_insert("notes", [{"id": "gone", "n": 500}])
        src.flush()
        export_iceberg(src, "notes", dest, mode="update")
        src.delete("notes").where("id", "=", "gone").execute()
        src.flush()
        export_iceberg(src, "notes", dest, mode="update")
        rep = dst.apply_iceberg_changes("notes", dest)
        assert rep["applied"] == 0, \
            "insert+delete across the range must NET to nothing"
        assert _rows(dst.df("notes")) == _rows(src.df("notes"))

    def test_apply_seed_from_snapshot(self, spark, tmp_path):
        """A consumer that bootstrapped via read_iceberg(snapshot N)
        seeds from_snapshot=N and never re-applies the bootstrap."""
        src, dst = self._pair(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(src, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        boot = read_iceberg(spark, dest)
        dst.batch_insert("notes", [r.asDict() for r in boot.collect()])
        dst.flush()
        # a seed-only tick with nothing new applies nothing and
        # must not burn the seed
        rep0 = dst.apply_iceberg_changes("notes", dest,
                                         from_snapshot=s1)
        assert rep0["applied"] == 0
        src.batch_insert("notes", [{"id": "x0", "n": 100}])
        src.flush()
        export_iceberg(src, "notes", dest, mode="update")
        rep = dst.apply_iceberg_changes("notes", dest,
                                        from_snapshot=s1)
        assert rep["applied"] == 1
        assert _rows(dst.df("notes")) == _rows(src.df("notes"))

    def test_live_sync_loop(self, spark, tmp_path):
        src, dst = self._pair(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(src, "notes", dest, target_files=1)
        dst.start_iceberg_sync("notes", dest, interval_s=0.3)
        try:
            src.batch_insert("notes", [{"id": "x0", "n": 100}])
            src.flush()
            export_iceberg(src, "notes", dest, mode="update")
            deadline = time.time() + 30
            while time.time() < deadline:
                if dst.df("notes").count() == 21:
                    break
                time.sleep(0.5)
            assert _rows(dst.df("notes")) == _rows(src.df("notes"))
            assert dst.last_iceberg_sync_error is None
        finally:
            assert dst.stop_iceberg_sync() == 1


class TestFilteredSubscription:
    def test_apply_where_filters_both_formats(self, spark, tmp_path):
        """A key-range replica (where=) applies only matching changes
        — Delta CDF and Iceberg changelog behave identically."""
        sch = TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)])
        src = _mk(spark, str(tmp_path / "wh1"))
        con_i = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
        con_d = ToStoreSpark(spark, warehouse=str(tmp_path / "wh3"))
        con_i.create_table(sch)
        con_d.create_table(sch)
        dice = str(tmp_path / "ice")
        ddel = str(tmp_path / "dx")
        export_iceberg(src, "notes", dice, target_files=1)
        export_delta(src, "notes", ddel, target_files=1,
                     change_data=True)
        where = {"n": {"<": 10}}
        rep = con_i.apply_iceberg_changes("notes", dice, where=where)
        assert rep["applied"] == 10
        rep = con_d.apply_cdf("notes", ddel, where=where)
        assert rep["applied"] == 10
        # an epoch with in-range and out-of-range changes
        src.batch_insert("notes", [{"id": "in0", "n": 5},
                                   {"id": "out0", "n": 100}])
        src.flush()
        export_iceberg(src, "notes", dice, mode="update")
        export_delta(src, "notes", ddel, mode="update",
                     change_data=True)
        src.delete("notes").where("n", "IN", [3, 40]).execute()
        src.flush()
        export_iceberg(src, "notes", dice, mode="update")
        export_delta(src, "notes", ddel, mode="update",
                     change_data=True, deletion_vectors=True)
        rep_i = con_i.apply_iceberg_changes("notes", dice,
                                            where=where)
        rep_d = con_d.apply_cdf("notes", ddel, where=where)
        assert rep_i["applied"] == 2        # +in0(5), -k003
        assert rep_d["applied"] == 2
        want = sorted(
            (r["id"], r["n"]) for r in src.df("notes").collect()
            if r["n"] < 10)
        for con in (con_i, con_d):
            got = sorted((r["id"], r["n"])
                         for r in con.df("notes").collect())
            assert got == want

    def test_where_prunes_added_files_before_read(self, spark,
                                                  tmp_path,
                                                  monkeypatch):
        """The feed's where= engages MANIFEST-level pruning on
        derivable appends — refuted added files never reach Spark."""
        import tostore_spark.plans.iceberg as ice
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = ice._load_metadata(dest)["current-snapshot-id"]
        # one clustered append epoch -> 4 range-disjoint added files
        db.batch_insert("notes", [{"id": f"x{i:03d}", "n": 1000 + i}
                                  for i in range(400)])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update",
                       target_files=4, cluster_by=["n"])
        pruned = []
        orig = ice._prune_by_stats

        def spy(meta, schema_json, data, parts, fstats, node):
            kept = orig(meta, schema_json, data, parts, fstats, node)
            pruned.append((len(kept), len(data)))
            return kept
        monkeypatch.setattr(ice, "_prune_by_stats", spy)
        feed = ice.read_iceberg_changes(
            spark, dest, from_snapshot=s1,
            where={"n": {">=": 1390}})
        assert sorted(r["n"] for r in feed.collect()) == \
            list(range(1390, 1400))
        assert pruned and pruned[-1][1] == 4 and pruned[-1][0] == 1, \
            pruned


class TestChangelogHardening:
    """Round-16 hardening: conf-pin restore, expired-parent refusals,
    and the bounded (barriered) bootstrap fold."""

    def test_conf_pin_restored_and_feed_survives(self, spark,
                                                 tmp_path):
        """read_iceberg_changes pins field-id resolution only for the
        duration of the (eager) fold — a caller-owned session keeps
        its own setting, and the returned frame no longer depends on
        the pin (it is materialized inside it)."""
        key = "spark.sql.parquet.fieldId.read.enabled"
        orig = spark.conf.get(key, None)
        try:
            spark.conf.set(key, "false")
            db = _mk(spark, str(tmp_path / "wh"), rows=5)
            dest = str(tmp_path / "ice")
            export_iceberg(db, "notes", dest, target_files=1)
            feed = read_iceberg_changes(spark, dest)
            assert spark.conf.get(key) == "false"
            assert sorted(r["n"] for r in feed.collect()) == \
                list(range(5))
        finally:
            if orig is not None:
                spark.conf.set(key, orig)
            else:
                spark.conf.unset(key)

    def test_expired_parent_of_mor_delete_refuses(self, spark,
                                                  tmp_path):
        """A merge-on-read delete snapshot whose parent was expired
        must refuse LOUDLY — suppression of re-killed positions needs
        the parent, and skipping it would re-surface rows observers
        already saw die."""
        from tostore_spark.plans.iceberg import expire_snapshots
        db = _mk(spark, str(tmp_path / "wh"), rows=8)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)       # s1
        s1 = _load_metadata(dest)["current-snapshot-id"]
        db.delete("notes").where("n", "IN", [1, 2]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")  # s2
        assert rep["commit"] in ("posdel", "eqdel", "delete")
        expire_snapshots(dest, keep_last=1)
        with pytest.raises(ValueError):
            read_iceberg_changes(spark, dest,
                                 from_snapshot=s1).collect()

    def test_long_history_fold_is_barriered(self, spark, tmp_path):
        """A 100-snapshot bootstrap folds through localCheckpoint
        barriers: the returned plan carries NO Union spine (plan
        needle), and the rows are exactly the history's inserts."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        from tostore_spark.plans.iceberg import (_commit_snapshot,
                                                 _current_schema)
        db = _mk(spark, str(tmp_path / "wh"), rows=2)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        meta = _load_metadata(dest)
        ids = {f["name"]: f["id"]
               for f in _current_schema(meta)["fields"]}
        pa_types = {"id": pa.string(), "n": pa.int32()}
        sch = pa.schema([
            pa.field(n, pa_types[n], nullable=True,
                     metadata={b"PARQUET:field_id":
                               str(ids[n]).encode()})
            for n in ("id", "n")])
        ddir = os.path.join(dest, "data")
        for i in range(100):
            tbl = pa.table({"id": [f"a{i:03d}"], "n": [1000 + i]},
                           schema=sch)
            fp = os.path.join(ddir, f"hist-{i:03d}.parquet")
            papq.write_table(tbl, fp)
            meta = _load_metadata(dest)
            _commit_snapshot(dest, meta,
                             [(fp, 1, os.path.getsize(fp))], None,
                             keep_prior=True, operation="append")
        feed = read_iceberg_changes(spark, dest)
        plan = feed._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan, plan[:2000]
        rows = feed.collect()
        assert len(rows) == 102
        assert all(r["_change_type"] == "insert" for r in rows)
        vers = {r["_commit_version"] for r in rows}
        assert len(vers) == 101
        assert sorted(r["n"] for r in rows if r["n"] >= 1000) == \
            [1000 + i for i in range(100)]


class TestChangelogSchemaEvolution:
    """r16: additive evolution binds per snapshot; pre-evolution rows
    surface under the range-END schema (the Delta CDF rule);
    renames/drops refuse."""

    def _evolve_add_tag(self, dest):
        """Append schema-id N+1 = old schema + nullable string 'tag'
        (id = last-column-id+1) to the table metadata."""
        from tostore_spark.plans.iceberg import (_current_schema,
                                                 _next_metadata_version,
                                                 _write_metadata_json)
        meta = _load_metadata(dest)
        old = _current_schema(meta)
        old_sid = int(meta.get("current-schema-id", 0))
        new_id = max(f["id"] for f in old["fields"]) + 1
        new_sj = {"type": "struct", "schema-id": old_sid + 1,
                  "fields": [dict(f) for f in old["fields"]] + [
                      {"id": new_id, "name": "tag",
                       "required": False, "type": "string"}]}
        schemas = list(meta.get("schemas")
                       or [dict(old, **{"schema-id": old_sid})])
        meta["schemas"] = schemas + [new_sj]
        meta["current-schema-id"] = old_sid + 1
        meta["last-column-id"] = new_id
        if "schema" in meta:
            meta["schema"] = new_sj
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        return new_id

    def _append_3col(self, dest, ids, rows):
        import pyarrow as pa
        import pyarrow.parquet as papq

        from tostore_spark.plans.iceberg import _commit_snapshot
        sch = pa.schema([
            pa.field("id", pa.string(), metadata={
                b"PARQUET:field_id": str(ids["id"]).encode()}),
            pa.field("n", pa.int64(), metadata={
                b"PARQUET:field_id": str(ids["n"]).encode()}),
            pa.field("tag", pa.string(), metadata={
                b"PARQUET:field_id": str(ids["tag"]).encode()})])
        tbl = pa.table({"id": [r[0] for r in rows],
                        "n": [r[1] for r in rows],
                        "tag": [r[2] for r in rows]}, schema=sch)
        fp = os.path.join(dest, "data", "evolved.parquet")
        papq.write_table(tbl, fp)
        meta = _load_metadata(dest)
        _commit_snapshot(dest, meta,
                         [(fp, len(rows), os.path.getsize(fp))],
                         None, keep_prior=True, operation="append")

    def test_pre_evolution_rows_surface_under_end_schema(
            self, spark, tmp_path):
        from tostore_spark.plans.iceberg import (_current_schema,
                                                 read_iceberg)
        db = _mk(spark, str(tmp_path / "wh"), rows=3)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        tag_id = self._evolve_add_tag(dest)
        meta = _load_metadata(dest)
        ids = {f["name"]: f["id"]
               for f in _current_schema(meta)["fields"]}
        assert ids["tag"] == tag_id
        self._append_3col(dest, ids, [("z1", 100, "zz")])     # s2
        feed = read_iceberg_changes(spark, dest)
        assert "tag" in feed.columns
        got = sorted((r["id"], r["n"], r["tag"])
                     for r in feed.collect())
        assert got == [("k000", 0, None), ("k001", 1, None),
                       ("k002", 2, None), ("z1", 100, "zz")]
        # current-state read agrees (old files null-fill by field id)
        cur = sorted((r["id"], r["tag"]) for r in
                     read_iceberg(spark, dest).collect())
        assert cur == [("k000", None), ("k001", None),
                       ("k002", None), ("z1", "zz")]

    def test_eqdelete_preimages_across_evolution_pad_null(
            self, spark, tmp_path):
        """A MoR equality-delete AFTER the evolution derives
        pre-images from a parent probe bound to the PARENT's schema —
        the feed pads the added column with null (END schema)."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        from tostore_spark.plans.iceberg import (_commit_snapshot,
                                                 _current_schema)
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        s1 = _load_metadata(dest)["current-snapshot-id"]
        self._evolve_add_tag(dest)
        meta = _load_metadata(dest)
        ids = {f["name"]: f["id"]
               for f in _current_schema(meta)["fields"]}
        # kill k001 via an equality delete keyed on id (old column)
        sch = pa.schema([pa.field("id", pa.string(), metadata={
            b"PARQUET:field_id": str(ids["id"]).encode()})])
        tbl = pa.table({"id": ["k001"]}, schema=sch)
        fp = os.path.join(dest, "data", "eqdel-evolved.parquet")
        papq.write_table(tbl, fp)
        _commit_snapshot(dest, meta,
                         None, [(fp, 1, os.path.getsize(fp),
                                 [ids["id"]])],
                         keep_prior=True, operation="delete")  # s2
        feed = read_iceberg_changes(spark, dest, from_snapshot=s1)
        rows = feed.collect()
        assert [(r["id"], r["_change_type"], r["tag"])
                for r in rows] == [("k001", "delete", None)]

    def test_rename_range_derives_under_end_names(self, spark,
                                                  tmp_path):
        """r17: a range crossing a RENAME (same field ids, new names)
        is derivable — pre-rename rows surface under the range-END
        names, exactly the time-travel rule inverted.  (Before r17
        this refused; drops/retypes still do —
        TestIcebergRename.test_changelog_surfaces_end_names pins
        that.)"""
        from tostore_spark.plans.iceberg import (_current_schema,
                                                 _next_metadata_version,
                                                 _write_metadata_json)
        db = _mk(spark, str(tmp_path / "wh"), rows=3)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        meta = _load_metadata(dest)
        old = _current_schema(meta)
        old_sid = int(meta.get("current-schema-id", 0))
        new_sj = {"type": "struct", "schema-id": old_sid + 1,
                  "fields": [dict(f, name="n_renamed")
                             if f["name"] == "n" else dict(f)
                             for f in old["fields"]]}
        meta["schemas"] = list(meta.get("schemas")
                               or [dict(old,
                                        **{"schema-id": old_sid})]) \
            + [new_sj]
        meta["current-schema-id"] = old_sid + 1
        if "schema" in meta:
            meta["schema"] = new_sj
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        # commit an append UNDER the renamed schema: the range now
        # spans the rename boundary
        import pyarrow as pa
        import pyarrow.parquet as papq

        from tostore_spark.plans.iceberg import _commit_snapshot
        ids = {f["name"]: f["id"] for f in new_sj["fields"]}
        sch = pa.schema([
            pa.field("id", pa.string(), metadata={
                b"PARQUET:field_id": str(ids["id"]).encode()}),
            pa.field("n_renamed", pa.int64(), metadata={
                b"PARQUET:field_id": str(ids["n_renamed"]).encode()})])
        tbl = pa.table({"id": ["x1"], "n_renamed": [9]}, schema=sch)
        fp = os.path.join(dest, "data", "renamed.parquet")
        papq.write_table(tbl, fp)
        meta2 = _load_metadata(dest)
        _commit_snapshot(dest, meta2,
                         [(fp, 1, os.path.getsize(fp))], None,
                         keep_prior=True, operation="append")  # s2
        feed = read_iceberg_changes(spark, dest)
        assert "n_renamed" in feed.columns and \
            "n" not in feed.columns
        rows = feed.collect()
        assert len(rows) == 4
        assert {r["_change_type"] for r in rows} == {"insert"}
        # pre-rename rows carry their old 'n' VALUES under the new name
        assert sorted(r["n_renamed"] for r in rows) == [0, 1, 2, 9]


class TestFilteredCursorSignature:
    """r16: filtered-subscription cursors record the where-signature —
    identical where resumes; changed where raises; legacy integer
    cursors resume only unfiltered."""

    def _src(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=10)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        return db, dest

    def _consumer(self, spark, tmp_path):
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        return con

    def test_identical_where_resumes_changed_where_raises(
            self, spark, tmp_path):
        db, dest = self._src(spark, tmp_path)
        con = self._consumer(spark, tmp_path)
        w = {"n": {"<": 5}}
        rep = con.apply_iceberg_changes("notes", dest, where=w)
        assert rep["applied"] == 5
        db.batch_insert("notes", [{"id": "x1", "n": 3},
                                  {"id": "x2", "n": 50}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        # identical where (different dict instance) resumes
        rep2 = con.apply_iceberg_changes("notes", dest,
                                         where={"n": {"<": 5}})
        assert rep2["applied"] == 1
        assert con.df("notes").count() == 6
        # changed where refuses — never a silently diverged replica
        with pytest.raises(ValueError, match="filter changed"):
            con.apply_iceberg_changes("notes", dest,
                                      where={"n": {"<": 100}})
        # unfiltered pull against the filtered cursor refuses too
        with pytest.raises(ValueError, match="filter changed"):
            con.apply_iceberg_changes("notes", dest)
        # cursor=False stays a one-off escape hatch (no cursor read)
        rep3 = con.apply_iceberg_changes(
            "notes", dest, cursor=False,
            from_snapshot=rep2["to_snapshot"],
            where={"n": {"<": 100}})
        assert rep3["applied"] == 0

    def test_legacy_int_cursor_resumes_unfiltered_only(
            self, spark, tmp_path):
        db, dest = self._src(spark, tmp_path)
        con = self._consumer(spark, tmp_path)
        rep = con.apply_iceberg_changes("notes", dest)
        assert rep["applied"] == 10
        ckey = [k for k in con.kv.get_keys()
                if k.startswith("__ice_cdf_cursor__")][0]
        cur = con.kv.get_value(ckey)
        con.kv.set_value(ckey, int(cur["v"]))      # downgrade to r15
        db.batch_insert("notes", [{"id": "y1", "n": 77}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        with pytest.raises(ValueError, match="predates"):
            con.apply_iceberg_changes("notes", dest,
                                      where={"n": {">": 0}})
        rep2 = con.apply_iceberg_changes("notes", dest)
        assert rep2["applied"] == 1
        assert con.df("notes").count() == 11

    def test_delta_cdf_twin_same_rule(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)
        con = self._consumer(spark, tmp_path)
        rep = con.apply_cdf("notes", dest, where={"n": {"<": 4}})
        assert rep["applied"] == 4
        with pytest.raises(ValueError, match="filter changed"):
            con.apply_cdf("notes", dest, where={"n": {"<": 5}})
        rep2 = con.apply_cdf("notes", dest, where={"n": {"<": 4}})
        assert rep2["applied"] == 0               # same where resumes


class TestBootstrapFastPath:
    """r16: a cursor-less, seed-less first pull bootstraps from the
    TARGET SNAPSHOT directly (O(state), no history fold) — and so
    works across rewrites the changelog refuses; incremental pulls
    stay on the exact changelog."""

    def test_bootstrap_skips_changelog_and_survives_refresh(
            self, spark, tmp_path, monkeypatch):
        import tostore_spark.plans.iceberg as ice
        from tostore_spark.schema import FieldSchema
        db = _mk(spark, str(tmp_path / "wh"), rows=8)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        # a schema migration forces a REFRESH export: an overwrite
        # snapshot that drops the parent's manifests — underivable
        # by the changelog
        db.update_schema("notes").add_field(
            FieldSchema("tag", DataType.text,
                        default_value="T")).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "refresh"
        with pytest.raises(ValueError, match="rewrite"):
            read_iceberg_changes(spark, dest).collect()
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer),
                    FieldSchema(name="tag", type=DataType.text)]))

        def boom(*a, **kw):
            raise AssertionError("bootstrap must not fold history")
        monkeypatch.setattr(ice, "read_iceberg_changes", boom)
        rep = con.apply_iceberg_changes("notes", dest)
        assert rep["applied"] == 8
        monkeypatch.undo()
        # incremental pull after the bootstrap rides the changelog
        db.batch_insert("notes", [{"id": "x1", "n": 99,
                                   "tag": "zz"}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        rep2 = con.apply_iceberg_changes("notes", dest)
        assert rep2["applied"] == 1
        cols = sorted(db.df("notes").columns)
        a = sorted(map(tuple, db.df("notes").select(*cols).collect()))
        b = sorted(map(tuple,
                       con.df("notes").select(*cols).collect()))
        assert a == b

    def test_delta_bootstrap_reads_snapshot(self, spark, tmp_path,
                                            monkeypatch):
        import tostore_spark.plans.delta_export as de
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)
        db.delete("notes").where("n", "=", 0).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))

        def boom(*a, **kw):
            raise AssertionError("bootstrap must not replay the log")
        import tostore_spark.engine as eng  # noqa: F401
        monkeypatch.setattr(de, "read_delta_cdf", boom)
        rep = con.apply_cdf("notes", dest)
        assert rep["applied"] == 5          # current state, not 6+1
        monkeypatch.undo()
        db.batch_insert("notes", [{"id": "y1", "n": 70}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        rep2 = con.apply_cdf("notes", dest)
        assert rep2["applied"] == 1
        assert con.df("notes").count() == 6

    def test_filtered_bootstrap_prunes_and_nets(self, spark,
                                                tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=12)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4,
                       cluster_by=["n"])
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        rep = con.apply_iceberg_changes("notes", dest,
                                        where={"n": {"<": 3}})
        assert rep["applied"] == 3
        assert sorted(r["n"] for r in
                      con.df("notes").collect()) == [0, 1, 2]


class TestFilteredPreimagePruning:
    """r16: on a FILTERED feed, delete pre-image derivation prunes at
    the file level too — pos-delete target files the parent stats
    refute are never read, and the eq-delete parent probe ANDs the
    caller's predicate into its manifest-bounds where."""

    def test_pos_delete_targets_pruned_by_where(self, spark,
                                                tmp_path,
                                                monkeypatch):
        import tostore_spark.plans.iceberg as ice
        db = _mk(spark, str(tmp_path / "wh"), rows=400)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4,
                       cluster_by=["n"])
        meta = _load_metadata(dest)
        s1 = meta["current-snapshot-id"]
        snap = [s for s in meta["snapshots"]
                if s["snapshot-id"] == s1][0]
        data, _pd, _ed, _parts, _fs = _scan_files(meta, snap, dest)
        files = sorted(fp for fp, _ in data)
        allrows = spark.read.parquet(*files).select(
            "n", F.col("_metadata.file_path").alias("f"),
            F.col("_metadata.row_index").alias("p")).collect()
        by_n = {r["n"]: (ice._norm_path(r["f"]), r["p"])
                for r in allrows}
        hits = [by_n[0], by_n[399]]       # one kill per range end
        killed_lo, killed_hi = 0, 399
        df_ = _write_position_deletes(dest, hits)
        meta2 = _load_metadata(dest)
        _commit_snapshot(dest, meta2, None, [df_],
                         keep_prior=True, operation="delete")
        pruned = []
        orig = ice._prune_by_stats

        def spy(meta_, sj, d, parts, fstats, node):
            kept = orig(meta_, sj, d, parts, fstats, node)
            pruned.append((len(kept), len(d)))
            return kept
        monkeypatch.setattr(ice, "_prune_by_stats", spy)
        feed = ice.read_iceberg_changes(
            spark, dest, from_snapshot=s1,
            where={"n": {"<": 100}})
        rows = feed.collect()
        assert [(r["n"], r["_change_type"]) for r in rows] == \
            [(killed_lo, "delete")]
        assert killed_hi >= 100          # the other kill is filtered
        assert (1, 2) in pruned, pruned  # 1 of 2 target files read

    def test_eqdelete_parent_probe_narrowed_by_where(
            self, spark, tmp_path, monkeypatch):
        import tostore_spark.plans.iceberg as ice
        db = _mk(spark, str(tmp_path / "wh"), rows=400)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4,
                       cluster_by=["n"])
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # kill one low-n and one high-n key: the key BOUNDS span the
        # whole table, so only the caller's where can narrow
        db.delete("notes").where("id", "IN",
                                 ["k000", "k399"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "eqdel"
        seen = {}
        orig = ice.read_iceberg

        def spy(spark_, p_, **kw):
            df = orig(spark_, p_, **kw)
            if kw.get("where") is not None:
                seen["files"] = list(df.inputFiles())
            return df
        monkeypatch.setattr(ice, "read_iceberg", spy)
        feed = ice.read_iceberg_changes(
            spark, dest, from_snapshot=s1,
            where={"n": {"<": 100}})
        rows = feed.collect()
        assert [(r["id"], r["_change_type"]) for r in rows] == \
            [("k000", "delete")]
        assert len(seen["files"]) == 1, seen
        # and WITHOUT the filter both kills surface
        feed2 = ice.read_iceberg_changes(spark, dest,
                                         from_snapshot=s1)
        assert sorted(r["id"] for r in feed2.collect()) == \
            ["k000", "k399"]

    def test_filter_on_added_column_stays_conservative(
            self, spark, tmp_path):
        """A where= on a column ADDED after the parent snapshot: the
        parent probe sees an unknown field (= null semantics) and
        keeps rows conservatively; the padded feed's final filter
        decides — IS-null matches the pre-evolution pre-image."""
        import pyarrow as pa

        import tostore_spark.plans.iceberg as ice
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # evolve: + tag string (hand metadata edit, foreign style)
        from tostore_spark.plans.iceberg import (
            _current_schema, _next_metadata_version,
            _write_metadata_json)
        meta = _load_metadata(dest)
        old = _current_schema(meta)
        new_id = max(f["id"] for f in old["fields"]) + 1
        new_sj = {"type": "struct", "schema-id": 1,
                  "fields": [dict(f) for f in old["fields"]] + [
                      {"id": new_id, "name": "tag",
                       "required": False, "type": "string"}]}
        meta["schemas"] = [dict(old, **{"schema-id": 0}), new_sj]
        meta["current-schema-id"] = 1
        meta["last-column-id"] = new_id
        if "schema" in meta:
            meta["schema"] = new_sj
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        # eq-delete k001 keyed on id (a pre-evolution row)
        ids = {f["name"]: f["id"] for f in new_sj["fields"]}
        sch = pa.schema([pa.field("id", pa.string(), metadata={
            b"PARQUET:field_id": str(ids["id"]).encode()})])
        import pyarrow.parquet as papq
        tbl = pa.table({"id": ["k001"]}, schema=sch)
        fp = os.path.join(dest, "data", "eqdel-tagnull.parquet")
        papq.write_table(tbl, fp)
        meta2 = _load_metadata(dest)
        _commit_snapshot(dest, meta2, None,
                         [(fp, 1, os.path.getsize(fp), [ids["id"]])],
                         keep_prior=True, operation="delete")  # s2
        feed = read_iceberg_changes(spark, dest, from_snapshot=s1,
                                    where={"tag": {"IS": None}})
        rows = feed.collect()
        assert [(r["id"], r["_change_type"], r["tag"])
                for r in rows] == [("k001", "delete", None)]
        # and a filter the padded row can NOT satisfy drops it
        feed2 = read_iceberg_changes(spark, dest, from_snapshot=s1,
                                     where={"tag": {"=": "x"}})
        assert feed2.count() == 0
