"""Interop inspection surfaces (late r17): Iceberg metadata tables
(read_iceberg_meta — the ``table$snapshots``-style views), Delta
DESCRIBE HISTORY / DESCRIBE DETAIL twins, and removeOrphanFiles.
All metadata-scale driver work — pinned here against tables whose
exact commit history the tests construct."""
import glob
import os
import shutil

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.iceberg import (convert_delta_to_iceberg,
                                         read_iceberg,
                                         read_iceberg_meta,
                                         remove_orphan_files)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import (describe_delta_detail,
                                              describe_delta_history,
                                              export_delta)
from tostore_spark.plans.iceberg import export_iceberg, sync_delta_to_iceberg


def _mk(spark, tmp_path, rows=20):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "n": i} for i in range(rows)])
    db.flush()
    return db


@pytest.fixture()
def bridge(spark, tmp_path):
    """2-file bridge + one DV delete epoch: ops append, delete."""
    db = _mk(spark, tmp_path)
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, target_files=2, cluster_by=["id"])
    convert_delta_to_iceberg(spark, dest)
    db.delete("notes").where("n", "IN", [3, 7]).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True)
    sync_delta_to_iceberg(db.spark, dest)
    return db, dest


class TestIcebergMetaTables:
    def test_snapshots_and_history(self, spark, bridge):
        db, dest = bridge
        snaps = read_iceberg_meta(spark, dest, "snapshots")
        rows = snaps.orderBy("snapshot_id").collect()
        assert [r["operation"] for r in rows] == ["append", "delete"]
        assert rows[0]["parent_id"] is None
        assert rows[1]["parent_id"] == rows[0]["snapshot_id"]
        assert rows[1]["summary"]["added-position-deletes"] == "2"
        hist = read_iceberg_meta(spark, dest, "history").collect()
        assert len(hist) == 2
        assert all(r["is_current_ancestor"] for r in hist)

    def test_refs_and_manifests(self, spark, bridge):
        db, dest = bridge
        refs = read_iceberg_meta(spark, dest, "refs").collect()
        assert [(r["name"], r["type"]) for r in refs] == \
            [("main", "BRANCH")]
        mans = read_iceberg_meta(spark, dest, "manifests").collect()
        # 1 data manifest (carried verbatim) + 1 delete manifest
        assert sorted(r["content"] for r in mans) == [0, 1]
        data_m = next(r for r in mans if r["content"] == 0)
        assert data_m["added_data_files_count"] == 2
        assert data_m["added_rows_count"] == 20

    def test_files_and_partitions(self, spark, bridge):
        db, dest = bridge
        files = read_iceberg_meta(spark, dest, "files").collect()
        datf = [r for r in files if r["content"] == 0]
        posf = [r for r in files if r["content"] == 1]
        assert len(datf) == 2 and len(posf) == 1
        assert sum(r["record_count"] for r in datf) == 20  # physical
        assert posf[0]["record_count"] == 2
        # delete file applies: its seq covers the data files' seq
        assert posf[0]["sequence_number"] > \
            max(r["sequence_number"] for r in datf)
        parts = read_iceberg_meta(spark, dest, "partitions").collect()
        assert len(parts) == 1
        assert parts[0]["record_count"] == 20
        assert parts[0]["file_count"] == 2
        assert parts[0]["position_delete_file_count"] == 1

    def test_partitioned_export_partitions_table(self, spark,
                                                 tmp_path):
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        sch = TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="grp", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])
        src = spark.createDataFrame(
            [(f"k{i:02d}", f"g{i % 3}", i) for i in range(12)],
            "id string, grp string, n int")
        db.register_table("ev", df=src, schema=sch,
                          partition_by=["grp"])
        db.flush(only=["ev"])
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest)
        parts = read_iceberg_meta(spark, dest, "partitions") \
            .orderBy("partition.grp").collect()
        assert [(p["partition"]["grp"], p["record_count"])
                for p in parts] == [("g0", 4), ("g1", 4), ("g2", 4)]
        files = read_iceberg_meta(spark, dest, "files").collect()
        assert all(f["partition"].get("grp") in ("g0", "g1", "g2")
                   for f in files)

    def test_snapshot_selection_and_unknown_kind(self, spark, bridge):
        db, dest = bridge
        snaps = read_iceberg_meta(spark, dest, "snapshots") \
            .orderBy("snapshot_id").collect()
        s1 = snaps[0]["snapshot_id"]
        files1 = read_iceberg_meta(spark, dest, "files",
                                   snapshot_id=s1).collect()
        assert all(r["content"] == 0 for r in files1)  # pre-delete
        with pytest.raises(ValueError, match="unknown iceberg"):
            read_iceberg_meta(spark, dest, "entries")


class TestDeltaHistoryDetail:
    def test_history_newest_first_with_flags(self, spark, bridge):
        db, dest = bridge
        hist = describe_delta_history(db.spark, dest).collect()
        assert [r["version"] for r in hist] == [1, 0]
        assert hist[0]["has_dv"] and not hist[1]["has_dv"]
        assert hist[0]["num_removed_files"] == \
            hist[0]["num_added_files"]          # DV remove+re-add
        assert hist[1]["num_added_files"] == 2
        lim = describe_delta_history(db.spark, dest, limit=1).collect()
        assert [r["version"] for r in lim] == [1]

    def test_detail_row(self, spark, bridge):
        db, dest = bridge
        det = describe_delta_detail(db.spark, dest).collect()[0]
        assert det["format"] == "parquet"
        assert det["num_files"] == 2
        assert det["version"] == 1
        assert det["min_reader_version"] == 3       # DV protocol
        assert det["partition_columns"] == []
        assert det["size_in_bytes"] > 0


class TestRemoveOrphanFiles:
    def test_orphan_removed_referenced_kept(self, spark, tmp_path):
        db = _mk(spark, tmp_path, rows=30)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        stray = os.path.join(dest, "data", "orphan-dead.parquet")
        spark.createDataFrame([(1,)], "x int").coalesce(1) \
            .write.mode("overwrite") \
            .parquet(str(tmp_path / "stage"))
        shutil.copy(glob.glob(str(tmp_path / "stage" / "*.parquet"))[0],
                    stray)
        r = remove_orphan_files(dest, dry_run=True)
        assert r["removed"] == [stray] and os.path.exists(stray)
        r = remove_orphan_files(dest)
        assert r["removed"] == [stray] and not os.path.exists(stray)
        assert r["kept"] == 2
        assert read_iceberg(spark, dest).count() == 30

    def test_older_than_guards_fresh_files(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        stray = os.path.join(dest, "data", "orphan-young.parquet")
        shutil.copy(glob.glob(os.path.join(
            dest, "data", "*.parquet"))[0], stray)
        # cutoff in the past: the fresh stray survives
        r = remove_orphan_files(dest, older_than_ms=1)
        assert r["removed"] == [] and os.path.exists(stray)

    def test_bridge_refuses(self, spark, bridge):
        db, dest = bridge
        with pytest.raises(ValueError, match="bridge"):
            remove_orphan_files(dest)

    def test_expired_snapshot_files_not_treated_as_orphans(
            self, spark, tmp_path):
        """Files referenced by ANY retained snapshot are kept even
        when the current snapshot no longer lists them."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        db.delete("notes").where("n", "<", 5).execute()
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        r = remove_orphan_files(dest)
        assert r["removed"] == []
        # both snapshots still time-travel
        snaps = read_iceberg_meta(spark, dest, "snapshots") \
            .orderBy("snapshot_id").collect()
        assert read_iceberg(
            spark, dest,
            snapshot_id=snaps[0]["snapshot_id"]).count() == 20
