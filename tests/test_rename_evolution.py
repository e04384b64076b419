"""Rename-only schema evolution (r17 verdict order #2).

Iceberg resolves columns by FIELD ID, so a rename is metadata-only:
- ``rename_iceberg_column`` appends a new schema-id with unchanged ids;
  current reads and changelog ranges surface the new names, while time
  travel keeps each snapshot's own names.
- A Delta column-mapping rename (metaData-only commit, stable physical
  parquet names) folds through ``sync_delta_to_iceberg`` as the same
  new-schema-id shape, and ``read_delta`` / ``read_delta_cdf`` resolve
  it through the physical-name map.
Non-widening retypes keep refusing everywhere; drops and spec-legal
type widenings fold too (late r17 — test_drop_widen_evolution.py).

Reference parity: the reference's SchemaBuilder.rename_field is a
migration that rewrites rows; the id-indirection of the table formats
makes the same user action free — cited for semantics only."""
import json
import os
import time

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.delta_export import (_replay, _write_commit,
                                              read_delta,
                                              read_delta_cdf)
from tostore_spark.plans.iceberg import (_load_metadata,
                                         convert_delta_to_iceberg,
                                         read_iceberg,
                                         read_iceberg_changes,
                                         rename_iceberg_column,
                                         sync_delta_to_iceberg)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _mk(spark, wh, rows=10):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i}
        for i in range(rows)])
    db.flush()
    return db


def _enable_mapping_commit(dest, version):
    """Foreign-writer column-mapping ENABLEMENT: metaData-only commit
    freezing each existing column's physicalName at its current name
    (the Delta upgrade rule)."""
    state = _replay(dest)
    meta_d = dict(state["meta"])
    sj = json.loads(meta_d["schemaString"])
    for i, f in enumerate(sj["fields"]):
        f["metadata"] = {"delta.columnMapping.id": i + 1,
                         "delta.columnMapping.physicalName": f["name"]}
    meta_d["schemaString"] = json.dumps(sj)
    meta_d["configuration"] = {
        **(meta_d.get("configuration") or {}),
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": str(len(sj["fields"]))}
    _write_commit(dest, version, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": meta_d},
        {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
    return meta_d, sj


def _rename_commit(dest, version, meta_d, sj, pos, new_name):
    sj2 = json.loads(json.dumps(sj))
    sj2["fields"][pos]["name"] = new_name
    meta_d2 = dict(meta_d, schemaString=json.dumps(sj2))
    _write_commit(dest, version, [
        {"metaData": meta_d2},
        {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
    return meta_d2, sj2


def _foreign_append(spark, dest, version, rows, tmpdir,
                    stats_rows=None):
    """Foreign add commit whose parquet uses PHYSICAL column names."""
    df = spark.createDataFrame(rows, "id string, body string, n int")
    stage = os.path.join(tmpdir, f"stage{version}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    rel = f"v{version}-{part}"
    os.replace(os.path.join(stage, part), os.path.join(dest, rel))
    _write_commit(dest, version, [
        {"add": {"path": rel, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(dest, rel)),
                 "modificationTime": int(time.time() * 1000),
                 "dataChange": True,
                 "stats": json.dumps(
                     {"numRecords": stats_rows or len(rows)})}},
        {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
    return rel


class TestBridgeRename:
    def test_bridge_and_reads_survive_rename(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)        # v0
        convert_delta_to_iceberg(spark, dest)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        meta_d, sj = _enable_mapping_commit(dest, 1)          # v1
        meta_d, sj = _rename_commit(dest, 2, meta_d, sj, 1,
                                    "note_text")              # v2
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["to_version"] == 2
        meta = _load_metadata(dest)
        sids = [(s["schema-id"], [f["name"] for f in s["fields"]])
                for s in meta["schemas"]]
        assert sids[-1][1] == ["id", "note_text", "n"]
        # field ids UNCHANGED across the rename
        ids0 = [f["id"] for f in meta["schemas"][0]["fields"]]
        ids1 = [f["id"] for f in meta["schemas"][-1]["fields"]]
        assert ids0 == ids1
        # iceberg: current read new names, old snapshot keeps old
        cur = read_iceberg(spark, dest)
        assert "note_text" in cur.columns and cur.count() == 10
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert "body" in old.columns and "note_text" not in old.columns
        # delta: column-mapping read surfaces the new logical names
        d = read_delta(spark, dest)
        assert sorted(r["note_text"] for r in d.collect()) == \
            sorted(f"b{i}" for i in range(10))
        # a post-rename foreign APPEND keeps syncing incrementally
        _foreign_append(spark, dest, 3,
                        [("z1", "zz1", 100), ("z2", "zz2", 101)],
                        str(tmp_path))
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["snapshots"] == 1
        cur = read_iceberg(spark, dest)
        assert cur.count() == 12
        assert {"zz1", "zz2"} <= {r["note_text"] for r in cur.collect()}
        assert read_delta(spark, dest).count() == 12

    def test_cdf_reads_through_mapping_and_rename(self, spark,
                                                  tmp_path):
        """read_delta_cdf across enablement + rename: every commit's
        rows surface under the range-END logical names."""
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)                     # v0
        meta_d, sj = _enable_mapping_commit(dest, 1)
        meta_d, sj = _rename_commit(dest, 2, meta_d, sj, 1,
                                    "note_text")
        _foreign_append(spark, dest, 3, [("z1", "zz1", 9)],
                        str(tmp_path))
        feed = read_delta_cdf(spark, dest, 0)
        assert "note_text" in feed.columns
        rows = feed.collect()
        assert len(rows) == 5
        assert {r["_change_type"] for r in rows} == {"insert"}
        assert sorted(r["note_text"] for r in rows) == \
            ["b0", "b1", "b2", "b3", "zz1"]
        # filtered feed prunes/filters under the NEW name
        f2 = read_delta_cdf(spark, dest, 0,
                            where={"note_text": "zz1"})
        assert [r["id"] for r in f2.collect()] == ["z1"]

    def test_drop_folds_as_new_schema_id(self, spark, tmp_path):
        """r17 (late): a DROP-COLUMN commit is no longer a refusal —
        it folds as a new Iceberg schema-id without the field (see
        test_drop_widen_evolution.py for the full lifecycle)."""
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        meta_d, sj = _enable_mapping_commit(dest, 1)
        sj2 = {"type": "struct",
               "fields": [f for f in sj["fields"]
                          if f["name"] != "n"]}
        meta_d2 = dict(meta_d, schemaString=json.dumps(sj2))
        _write_commit(dest, 2, [{"metaData": meta_d2}])
        sync_delta_to_iceberg(spark, dest)
        meta = _load_metadata(dest)
        assert [f["name"] for f in meta["schemas"][-1]["fields"]] == \
            ["id", "body"]
        cur = read_iceberg(spark, dest)
        assert "n" not in cur.columns and cur.count() == 4

    def test_drop_readd_same_type_refuses(self, spark, tmp_path):
        """A drop+re-add of a same-typed column is NOT a rename: the
        re-added column carries a FRESH physical name the mapping has
        never seen, so the rename validation refuses."""
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        meta_d, sj = _enable_mapping_commit(dest, 1)
        sj2 = json.loads(json.dumps(sj))
        sj2["fields"][1]["name"] = "body2"
        sj2["fields"][1]["metadata"] = {
            "delta.columnMapping.id": 99,
            "delta.columnMapping.physicalName": "col-deadbeef"}
        meta_d2 = dict(meta_d, schemaString=json.dumps(sj2))
        _write_commit(dest, 2, [{"metaData": meta_d2}])
        with pytest.raises(ValueError, match="cannot follow"):
            sync_delta_to_iceberg(spark, dest)


class TestIcebergRename:
    def test_rename_column_metadata_only(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        before = sorted(os.listdir(os.path.join(dest, "data")))
        s1 = _load_metadata(dest)["current-snapshot-id"]
        rep = rename_iceberg_column(dest, {"body": "note_text"})
        assert rep["schema_id"] == 1
        # METADATA-ONLY: zero data files touched
        assert sorted(os.listdir(os.path.join(dest, "data"))) == before
        cur = read_iceberg(spark, dest)
        assert "note_text" in cur.columns and cur.count() == 10
        assert sorted(r["note_text"] for r in cur.collect()) == \
            sorted(f"b{i}" for i in range(10))
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert "body" in old.columns
        # where= under the new name prunes + filters
        one = read_iceberg(spark, dest, where={"note_text": "b3"})
        assert [r["id"] for r in one.collect()] == ["k003"]

    def test_rename_refusals(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        with pytest.raises(ValueError, match="unknown column"):
            rename_iceberg_column(dest, {"nope": "x"})
        with pytest.raises(ValueError, match="collides"):
            rename_iceberg_column(dest, {"body": "n"})

    def test_changelog_surfaces_end_names_across_rename(
            self, spark, tmp_path):
        """Full-history changelog crossing a rename: inserts AND
        eq-delete pre-images (whose parent probe binds the parent's
        OLD names) all surface under the range-END names; a cursored
        consumer applies them; drops still refuse."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        db.batch_insert("notes", [{"id": "x1", "body": "xx", "n": 100},
                                  {"id": "x2", "body": "yy", "n": 101}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")       # s2
        db.delete("notes").where("id", "IN",
                                 ["k001", "k005"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")  # s3
        assert rep["commit"] == "eqdel"
        rename_iceberg_column(dest, {"body": "note_text"})
        feed = read_iceberg_changes(spark, dest)
        assert "note_text" in feed.columns
        rows = feed.collect()
        dele = [r for r in rows if r["_change_type"] == "delete"]
        assert len(rows) == 14 and len(dele) == 2
        # pre-images carry their values under the NEW name
        assert sorted(r["note_text"] for r in dele) == ["b1", "b5"]
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="note_text", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)]))
        assert con.apply_iceberg_changes("notes", dest)["applied"] == 10
        a = sorted(map(tuple, con.df("notes")
                       .select("id", "note_text", "n").collect()))
        b = sorted(map(tuple, read_iceberg(spark, dest)
                       .select("id", "note_text", "n").collect()))
        assert a == b
        # a NON-WIDENING retype keeps refusing (drop/widen fold now —
        # see test_drop_widen_evolution.py)
        meta = _load_metadata(dest)
        sid = max(s["schema-id"] for s in meta["schemas"]) + 1
        meta["schemas"] = meta["schemas"] + [{
            "type": "struct", "schema-id": sid,
            "fields": [dict(f, type="string") if f["name"] == "n"
                       else f for f in meta["schemas"][-1]["fields"]]}]
        meta["current-schema-id"] = sid
        from tostore_spark.plans.iceberg import (
            _next_metadata_version, _write_metadata_json)
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        with pytest.raises(ValueError, match="retyped"):
            read_iceberg_changes(spark, dest)

    def test_explicit_to_snapshot_keeps_that_schema(self, spark,
                                                    tmp_path):
        """A range pinned to a pre-rename to_snapshot stays under the
        OLD names — the rename only surfaces for current-head pulls."""
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        rename_iceberg_column(dest, {"body": "note_text"})
        feed = read_iceberg_changes(spark, dest, to_snapshot=s1)
        assert "body" in feed.columns and \
            "note_text" not in feed.columns
