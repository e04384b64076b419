"""Iceberg partition specs on the EXPORTER + partition evolution as a
new spec-id (r17 verdict order #3).

Partitioned store tables now export with a REAL identity partition
spec — each data file holds exactly one partition tuple, manifests
carry typed partition values, spec-id 0 stays the unpartitioned spec
(delete manifests bind it so cross-partition position-delete files are
never mis-pruned).  A repartitioned table appends a NEW spec-id
(metadata-only; each manifest carries its own spec-id) and keeps
exporting; the reader prunes files under BOTH specs.

Spec: Iceberg Table Spec "Partitioning" / "Partition Evolution"."""
import json
import os
import re

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.avro_io import read_container_file
from tostore_spark.plans.iceberg import (_load_metadata, _norm_path,
                                         _pick_snapshot, _scan_files,
                                         read_iceberg,
                                         rewrite_data_files)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _sch():
    return TableSchema(
        name="ev", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="g", type=DataType.text),
                FieldSchema(name="h", type=DataType.integer),
                FieldSchema(name="n", type=DataType.integer)])


def _mk(spark, wh, rows=40):
    db = ToStoreSpark(spark, warehouse=wh)
    sch = _sch()
    src = spark.createDataFrame(
        [(f"k{i:03d}", f"g{i % 4}", i % 3, i) for i in range(rows)],
        "id string, g string, h int, n int")
    db.register_table("ev", df=src, schema=sch, partition_by=["g"])
    db.flush()
    return db


def _live(dest):
    meta = _load_metadata(dest)
    snap = _pick_snapshot(meta)
    data, pd_, ed_, parts, _fs = _scan_files(meta, snap, dest)
    return meta, data, parts


class TestPartitionedExport:
    def test_identity_spec_written_and_values_recorded(self, spark,
                                                       tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        meta, data, parts = _live(dest)
        specs = {int(s["spec-id"]): s for s in meta["partition-specs"]}
        assert specs[0]["fields"] == []          # unpartitioned spec 0
        assert int(meta["default-spec-id"]) == 1
        f1 = specs[1]["fields"]
        assert [f["transform"] for f in f1] == ["identity"]
        assert [f["name"] for f in f1] == ["g"]
        # one partition tuple per file, values recorded + typed
        vals = set()
        for fp, _seq in data:
            pv = parts[fp]
            assert set(pv) == {"g"} and isinstance(pv["g"], str)
            vals.add(pv["g"])
        assert vals == {"g0", "g1", "g2", "g3"}
        # the data files CARRY the partition column (Iceberg layout,
        # not hive-stripped)
        import pyarrow.parquet as pq
        assert "g" in pq.read_schema(data[0][0]).names
        # read-back exact
        a = sorted(map(tuple, read_iceberg(spark, dest)
                       .select("id", "g", "h", "n").collect()))
        b = sorted(map(tuple, db.df("ev")
                       .select("id", "g", "h", "n").collect()))
        assert a == b

    def test_partition_filter_prunes_files(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        _meta, data, parts = _live(dest)
        g1_files = {fp for fp, _ in data if parts[fp]["g"] == "g1"}
        out = read_iceberg(spark, dest, partition_filter={"g": "g1"})
        assert out.count() == 10
        got = {re.sub("^file:/*", "/", f) for f in out.inputFiles()}
        assert got <= {_norm_path(f) for f in g1_files}

    def test_incremental_append_and_eqdel_under_spec(self, spark,
                                                     tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        db.batch_insert("ev", [{"id": "x1", "g": "g9", "h": 9,
                                "n": 900}])
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] == "append"
        _meta, data, parts = _live(dest)
        assert {parts[fp]["g"] for fp, _ in data} == {
            "g0", "g1", "g2", "g3", "g9"}
        db.delete("ev").where("id", "IN", ["k001", "x1"]).execute()
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] in ("eqdel", "mor")
        a = sorted(map(tuple, read_iceberg(spark, dest)
                       .select("id", "g", "n").collect()))
        b = sorted(map(tuple, db.df("ev")
                       .select("id", "g", "n").collect()))
        assert a == b and len(a) == 39

    def test_evolution_appends_new_spec_and_both_prune(self, spark,
                                                       tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # repartition the store table: g → h (schema re-passed so
        # the PK config — and with it the delete fast path — survives)
        db.register_table("ev", df=db.df("ev"), schema=_sch(),
                          partition_by=["h"])
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] == "refresh"
        meta, data, parts = _live(dest)
        specs = {int(s["spec-id"]): s for s in meta["partition-specs"]}
        assert set(specs) == {0, 1, 2}
        assert int(meta["default-spec-id"]) == 2
        assert [f["name"] for f in specs[2]["fields"]] == ["h"]
        # partition field-ids never collide across specs
        fids = [f["field-id"] for s in specs.values()
                for f in s["fields"]]
        assert len(fids) == len(set(fids))
        # CURRENT files prune on h ...
        out = read_iceberg(spark, dest, partition_filter={"h": 1})
        assert out.count() == db.df("ev").filter("h = 1").count()
        h1 = {fp for fp, _ in data if parts[fp].get("h") == 1}
        got = {re.sub("^file:/*", "/", f) for f in out.inputFiles()}
        assert got <= {_norm_path(f) for f in h1}
        # ... and the PRE-evolution snapshot still prunes on g
        old = read_iceberg(spark, dest, snapshot_id=s1,
                           partition_filter={"g": "g2"})
        assert old.count() == 10
        # further appends keep extending incrementally under spec 2
        db.batch_insert("ev", [{"id": "y1", "g": "gz", "h": 7,
                                "n": 901}])
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] == "append"
        meta2, data2, parts2 = _live(dest)
        assert any(parts2[fp].get("h") == 7 for fp, _ in data2)
        assert read_iceberg(spark, dest).count() == 41

    def test_manifest_spec_ids_recorded(self, spark, tmp_path):
        """Each manifest-list entry carries its manifest's spec-id —
        the mechanism that lets old files keep their own spec."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        db.register_table("ev", df=db.df("ev"), schema=_sch(),
                          partition_by=["h"])
        db.flush()
        export_iceberg(db, "ev", dest, mode="update")       # refresh
        db.batch_insert("ev", [{"id": "z", "g": "q", "h": 5, "n": 9}])
        db.flush()
        export_iceberg(db, "ev", dest, mode="update")       # append
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        _, ml = read_container_file(_norm_path(snap["manifest-list"]))
        sids = sorted({int(m["partition_spec_id"]) for m in ml})
        assert sids == [2], \
            "current snapshot's data manifests bind spec 2"
        # delete commit: delete manifest binds the unpartitioned spec
        db.delete("ev").where("id", "=", "z").execute()
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] in ("eqdel", "mor")
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        _, ml = read_container_file(_norm_path(snap["manifest-list"]))
        del_specs = {int(m["partition_spec_id"]) for m in ml
                     if int(m["content"]) == 1}
        assert del_specs == {0}

    def test_rewrite_compacts_partition_preservingly(self, spark,
                                                     tmp_path):
        """Compaction on a partitioned export restages under the
        CURRENT spec (one tuple per file, values re-derived) and
        re-lists survivors per their ORIGINAL spec — after an
        evolution, a rewrite also MIGRATES old-spec files onto the
        new spec."""
        from tostore_spark.plans.avro_io import read_container_file
        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 _norm_path,
                                                 _pick_snapshot)
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")     # spec 1 (g)
        before = sorted(map(tuple, read_iceberg(spark, dest)
                            .select("id", "g", "h", "n").collect()))
        rep = rewrite_data_files(spark, dest,
                                 target_file_bytes=64 << 20)
        assert rep["mode"] == "binpack" and rep["rewritten"] >= 2
        _meta, data, parts = _live(dest)
        # every rewritten file carries exactly one partition tuple
        assert {parts[fp]["g"] for fp, _ in data} == {
            "g0", "g1", "g2", "g3"}
        after = sorted(map(tuple, read_iceberg(spark, dest)
                           .select("id", "g", "h", "n").collect()))
        assert after == before
        # partition pruning still bites post-compaction
        out = read_iceberg(spark, dest, partition_filter={"g": "g2"})
        assert out.count() == 10
        assert len(out.inputFiles()) < len(
            read_iceberg(spark, dest).inputFiles()) or             len(data) == 1
        # evolution then rewrite: everything migrates to the NEW spec
        db.register_table("ev", df=db.df("ev"), schema=_sch(),
                          partition_by=["h"])
        db.flush()
        export_iceberg(db, "ev", dest, mode="update")     # refresh
        rep = rewrite_data_files(spark, dest,
                                 target_file_bytes=64 << 20,
                                 cluster_by=["n"])
        assert rep["snapshot_id"] is not None
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        _, ml = read_container_file(_norm_path(snap["manifest-list"]))
        data_specs = {int(m["partition_spec_id"]) for m in ml
                      if int(m["content"]) == 0}
        assert data_specs == {int(meta["default-spec-id"])}
        assert sorted(map(tuple, read_iceberg(spark, dest)
                          .select("id", "g", "h", "n").collect())) ==             before

    def test_changelog_and_consumer_over_partitioned_export(
            self, spark, tmp_path):
        """The incremental feed + a consumer replica work unchanged
        over spec-carrying exports (manifest partition structs must
        not perturb the fold)."""
        from tostore_spark.plans.iceberg import read_iceberg_changes
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, mode="update")
        db.batch_insert("ev", [{"id": "x1", "g": "g1", "h": 2,
                                "n": 900}])
        db.flush()
        export_iceberg(db, "ev", dest, mode="update")
        db.delete("ev").where("id", "IN", ["k002", "x1"]).execute()
        db.flush()
        rep = export_iceberg(db, "ev", dest, mode="update")
        assert rep["commit"] in ("eqdel", "mor")
        feed = read_iceberg_changes(spark, dest)
        rows = feed.collect()
        ins = [r for r in rows if r["_change_type"] == "insert"]
        dele = [r for r in rows if r["_change_type"] == "delete"]
        assert len(ins) == 41 and len(dele) == 2
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.register_table("ev", df=db.df("ev").limit(0),
                           schema=_sch())
        con.flush()
        assert con.apply_iceberg_changes("ev", dest)["applied"] == 39
        a = sorted(map(tuple, con.df("ev")
                       .select("id", "g", "h", "n").collect()))
        b = sorted(map(tuple, db.df("ev")
                       .select("id", "g", "h", "n").collect()))
        assert a == b


class TestBridgePartitionEvolution:
    """r17 order #3, bridge side: a Delta commit that CHANGES the
    partition columns folds as a new Iceberg spec-id (metadata-only);
    later manifests bind the new spec, prior manifests keep theirs
    (rewrites re-encode under the manifest's OWN spec), and the
    reader's identity fill works PER SPEC (old files fill the old
    partition sources, new files the new ones)."""

    def _bridge(self, spark, tmp_path, rows=12):
        import time

        from tostore_spark.plans.delta_export import _replay
        from tostore_spark.plans.iceberg import convert_delta_to_iceberg
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        sch = TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="g", type=DataType.text),
                    FieldSchema(name="h", type=DataType.integer),
                    FieldSchema(name="n", type=DataType.integer)])
        src = spark.createDataFrame(
            [(f"k{i:03d}", f"g{i % 2}", i % 3, i) for i in range(rows)],
            "id string, g string, h int, n int")
        db.register_table("ev", df=src, schema=sch, partition_by=["g"])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "ev", dest)          # hive-partitioned delta
        convert_delta_to_iceberg(spark, dest)
        return db, dest

    def test_partition_change_folds_as_new_spec(self, spark,
                                                tmp_path):
        import json as _json
        import time

        from tostore_spark.plans.delta_export import (_replay,
                                                      _write_commit,
                                                      read_delta)
        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 read_iceberg,
                                                 sync_delta_to_iceberg)
        db, dest = self._bridge(spark, tmp_path)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # v1 (foreign): repartition g -> h + two adds under h=? layout
        meta_d = dict(_replay(dest)["meta"])
        meta_d["partitionColumns"] = ["h"]
        stage = str(tmp_path / "stage")
        newrows = spark.createDataFrame(
            [("z1", "gz", 5, 900), ("z2", "gz", 7, 901)],
            "id string, g string, h int, n int")
        (newrows.write.mode("overwrite")
         .partitionBy("h").parquet(stage))
        actions = [{"metaData": meta_d}]
        for hv in (5, 7):
            d = os.path.join(stage, f"h={hv}")
            part = [f for f in os.listdir(d)
                    if f.endswith(".parquet")][0]
            rel = f"h={hv}/v1-{part}"
            os.makedirs(os.path.join(dest, f"h={hv}"), exist_ok=True)
            os.replace(os.path.join(d, part),
                       os.path.join(dest, rel))
            actions.append({"add": {
                "path": rel, "partitionValues": {"h": str(hv)},
                "size": os.path.getsize(os.path.join(dest, rel)),
                "modificationTime": int(time.time() * 1000),
                "dataChange": True,
                "stats": _json.dumps({"numRecords": 1})}})
        actions.append({"commitInfo":
                        {"timestamp": int(time.time() * 1000)}})
        _write_commit(dest, 1, actions)
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["to_version"] == 1 and rep["snapshots"] == 1
        meta = _load_metadata(dest)
        specs = {int(s["spec-id"]): s
                 for s in meta["partition-specs"]}
        assert len(specs) == 2
        assert [f["name"] for f in specs[0]["fields"]] == ["g"]
        new_sid = int(meta["default-spec-id"])
        assert [f["name"] for f in specs[new_sid]["fields"]] == ["h"]
        # per-spec identity fill: old files fill g, new files fill h
        cur = read_iceberg(spark, dest)
        rows = sorted(map(tuple,
                          cur.select("id", "g", "h", "n").collect()))
        want = sorted(
            [(f"k{i:03d}", f"g{i % 2}", i % 3, i) for i in range(12)]
            + [("z1", None, 5, 900), ("z2", None, 7, 901)])
        # old files never carried g physically (hive layout) — filled
        # from partition metadata; NEW files never carried h — filled;
        # the new files' g column is real data ("gz")
        want = [(i_, ("gz" if i_ in ("z1", "z2") else g_), h_, n_)
                for (i_, g_, h_, n_) in want]
        assert rows == sorted(want)
        # both formats agree
        d = read_delta(spark, dest)
        a = sorted(map(tuple, d.select("id", "g", "h", "n").collect()))
        assert a == rows
        # pre-evolution snapshot: single old spec, old fill
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert old.count() == 12 and "g" in old.columns
        # partition_filter prunes under BOTH specs
        assert read_iceberg(spark, dest,
                            partition_filter={"h": 5}).count() == \
            len([r for r in rows if r[2] == 5])
        assert read_iceberg(spark, dest,
                            partition_filter={"g": "g1"}).count() == 6

    def test_delete_rewrite_keeps_old_spec(self, spark, tmp_path):
        """A post-evolution Delta REMOVE of an old-spec file rewrites
        only that manifest, re-encoded under the manifest's ORIGINAL
        spec — survivors keep their old-spec partition values."""
        import json as _json
        import time

        from tostore_spark.plans.avro_io import read_container_file
        from tostore_spark.plans.delta_export import (_replay,
                                                      _write_commit)
        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 _norm_path,
                                                 _pick_snapshot,
                                                 read_iceberg,
                                                 sync_delta_to_iceberg)
        db, dest = self._bridge(spark, tmp_path)
        # v1: partition change, no adds (metadata-only commit)
        meta_d = dict(_replay(dest)["meta"])
        meta_d["partitionColumns"] = ["h"]
        _write_commit(dest, 1, [
            {"metaData": meta_d},
            {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
        # v2: remove ONE old-spec file
        live = _replay(dest)["files"]
        victim = sorted(live)[0]
        n_victim = _json.loads(live[victim]["stats"])["numRecords"]
        _write_commit(dest, 2, [
            {"remove": {"path": victim, "dataChange": True,
                        "deletionTimestamp":
                        int(time.time() * 1000)}}])
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["to_version"] == 2
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        _, ml = read_container_file(_norm_path(snap["manifest-list"]))
        # every surviving manifest still claims spec 0 (old)
        assert {int(m["partition_spec_id"]) for m in ml} == {0}
        cur = read_iceberg(spark, dest)
        assert cur.count() == 12 - n_victim
        # the survivors' g values still fill from the OLD spec
        assert set(r["g"] for r in cur.collect()) <= {"g0", "g1"}
