"""Iceberg → Delta reverse bridge (``plans/xtable``).

The forward bridge (convert_delta_to_iceberg + sync_delta_to_iceberg)
keeps a Delta table readable as Iceberg; these tests pin the REVERSE
direction — the Apache XTable shape: catalog an Iceberg snapshot as a
Delta table over the same files, then fold appends / position-delete
(DV) commits / compactions / additive-drop-widen schema evolution into
incremental Delta commits.  Equality deletes, rename history, and
partition evolution refuse (see the module docstring)."""
import json
import os

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.delta_export import (_replay, read_delta,
                                              read_delta_cdf)
from tostore_spark.plans.iceberg import (_load_metadata,
                                         convert_to_iceberg,
                                         drop_iceberg_column,
                                         read_iceberg,
                                         rename_iceberg_column,
                                         widen_iceberg_column)
from tostore_spark.plans.xtable import (REVERSE_BRIDGE_PROP,
                                        convert_iceberg_to_delta,
                                        sync_iceberg_to_delta)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg, rewrite_data_files


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


def _same(spark, dest, cols=("id", "body", "n")):
    a = sorted(map(tuple, read_iceberg(spark, dest)
                   .select(*cols).collect()))
    b = sorted(map(tuple, read_delta(spark, dest)
                   .select(*cols).collect()))
    assert a == b, f"formats diverged:\n{a}\n{b}"
    return len(a)


class TestConvert:
    def test_convert_catalogs_current_snapshot(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        rep = convert_iceberg_to_delta(spark, dest)
        assert rep["version"] == 0 and rep["files"] == 2
        assert rep["dv_files"] == 0
        assert _same(spark, dest) == 10
        # the bridge property records the snapshot
        meta_d = _replay(dest)["meta"]
        assert int(meta_d["configuration"][REVERSE_BRIDGE_PROP]) == \
            _load_metadata(dest)["current-snapshot-id"]
        # stats flowed: a where= prunes AND filters on the delta side
        one = read_delta(spark, dest, where={"n": 3})
        assert [r["id"] for r in one.collect()] == ["k003"]

    def test_convert_folds_live_position_deletes(self, spark,
                                                 tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        # mixed epoch → MERGE-ON-READ position deletes live at convert
        db.batch_insert("notes", [{"id": "x1", "body": "xx",
                                   "n": 100}])
        db.delete("notes").where("id", "IN",
                                 ["k001", "k005"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "mor"
        rep = convert_iceberg_to_delta(spark, dest)
        assert rep["dv_files"] == 1
        assert _same(spark, dest) == 9
        # protocol carries the deletionVectors feature
        proto = _replay(dest)["protocol"]
        assert "deletionVectors" in proto["readerFeatures"]

    def test_convert_refusals(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        # eq-deletes refuse (pure-delete epochs take the eqdel route)
        db.delete("notes").where("id", "IN", ["k001"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "eqdel"
        with pytest.raises(ValueError, match="EQUALITY"):
            convert_iceberg_to_delta(spark, dest)
        # optimize materializes the deletes; conversion then works
        rewrite_data_files(db.spark, dest, min_files=1)
        rep = convert_iceberg_to_delta(spark, dest)
        assert _same(spark, dest) == 5
        # an existing _delta_log refuses re-conversion
        with pytest.raises(ValueError, match="_delta_log"):
            convert_iceberg_to_delta(spark, dest)

    def test_rename_history_refuses(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        rename_iceberg_column(dest, {"body": "note_text"})
        with pytest.raises(ValueError, match="renamed"):
            convert_iceberg_to_delta(spark, dest)

    def test_partitioned_export_maps_partition_values(self, spark,
                                                      tmp_path):
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        sch = TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="g", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])
        src = spark.createDataFrame(
            [(f"k{i:03d}", f"g{i % 3}", i) for i in range(12)],
            "id string, g string, n long")
        db.register_table("ev", df=src, schema=sch,
                          partition_by=["g"])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest)
        rep = convert_iceberg_to_delta(spark, dest)
        assert rep["partition_columns"] == ["g"]
        assert _same(spark, dest, cols=("id", "g", "n")) == 12
        # the delta side prunes on the partition column
        out = read_delta(spark, dest, where={"g": "g1"})
        assert sorted(r["id"] for r in out.collect()) == \
            [f"k{i:03d}" for i in range(12) if i % 3 == 1]


class TestSync:
    def test_append_dv_compact_lifecycle(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        convert_iceberg_to_delta(spark, dest)
        # mixed epoch → DV commit on the delta side
        db.batch_insert("notes", [{"id": "x1", "body": "xx",
                                   "n": 100}])
        db.delete("notes").where("id", "IN",
                                 ["k001", "k005"]).execute()
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        rep = sync_iceberg_to_delta(spark, dest)
        assert rep["snapshots"] == 1 and rep["version"] == 1
        assert _same(spark, dest) == 9
        proto = _replay(dest)["protocol"]
        assert "deletionVectors" in proto["readerFeatures"]
        # pure appends → add-only commit
        db.batch_insert("notes", [
            {"id": f"y{i}", "body": "yy", "n": 200 + i}
            for i in range(3)])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        rep = sync_iceberg_to_delta(spark, dest)
        assert rep["snapshots"] == 1
        assert _same(spark, dest) == 12
        with open(os.path.join(
                dest, "_delta_log", "00000000000000000002.json")) \
                as fh:
            acts = [json.loads(ln) for ln in fh if ln.strip()]
        assert not [a for a in acts if "remove" in a]
        # compaction → remove/add; both sides agree after
        rewrite_data_files(db.spark, dest, min_files=2)
        rep = sync_iceberg_to_delta(spark, dest)
        assert rep["snapshots"] == 1
        assert _same(spark, dest) == 12
        # idempotent when current
        assert sync_iceberg_to_delta(spark, dest)["snapshots"] == 0

    def test_delta_time_travel_rides_snapshots(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        convert_iceberg_to_delta(spark, dest)
        db.batch_insert("notes", [{"id": "z1", "body": "zz",
                                   "n": 50}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        sync_iceberg_to_delta(spark, dest)
        assert read_delta(spark, dest).count() == 7
        assert read_delta(spark, dest, version=0).count() == 6

    def test_metadata_only_drop_and_widen_catch_up(self, spark,
                                                   tmp_path):
        """drop_iceberg_column / widen_iceberg_column commit no
        snapshot — sync emits a metaData-only Delta commit (and the
        typeWidening feature when a type was promoted)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = str(tmp_path / "pq")
        os.makedirs(d)
        pq.write_table(pa.table({
            "id": ["a", "b", "c"],
            "n": pa.array([1, 2, 3], type=pa.int32()),
            "x": ["p", "q", "r"]}),
            os.path.join(d, "part-0.parquet"))
        convert_to_iceberg(spark, d)
        convert_iceberg_to_delta(spark, d)
        assert _same(spark, d, cols=("id", "n", "x")) == 3
        widen_iceberg_column(d, {"n": "long"})
        drop_iceberg_column(d, ["x"])
        rep = sync_iceberg_to_delta(spark, d)
        assert rep["snapshots"] == 1          # one catch-up commit
        dd = read_delta(spark, d)
        assert "x" not in dd.columns
        assert dict(dd.dtypes)["n"] == "bigint"
        assert sorted(r["n"] for r in dd.collect()) == [1, 2, 3]
        proto = _replay(d)["protocol"]
        assert "typeWidening" in proto["readerFeatures"]

    def test_eq_delete_snapshot_refuses_then_optimize_recovers(
            self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        convert_iceberg_to_delta(spark, dest)
        db.delete("notes").where("id", "IN", ["k002"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "eqdel"
        with pytest.raises(ValueError, match="EQUALITY"):
            sync_iceberg_to_delta(spark, dest)
        # materializing the deletes lets the bridge catch up: the
        # eq-delete snapshot gets NO delta version; the optimize
        # folds as the net diff against the last bridged state
        rewrite_data_files(db.spark, dest, min_files=1)
        rep = sync_iceberg_to_delta(spark, dest)
        assert rep["snapshots"] == 1
        assert _same(spark, dest) == 5

    def test_sync_refuses_non_bridge(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        with pytest.raises(ValueError, match="not an iceberg"):
            sync_iceberg_to_delta(spark, dest)

    def test_bridged_mirror_keeps_both_formats_current(self, spark,
                                                       tmp_path):
        """mirror_iceberg(bridge_delta=True): every flush auto-commits
        the next Iceberg snapshot AND folds it into a Delta commit —
        pure-delete flushes take the POSITION-delete route (the only
        kind Delta DVs can express), so the bridge never breaks on
        the eqdel tier."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        rep = db.mirror_iceberg("notes", dest, bridge_delta=True)
        assert rep["bridge"]["version"] == 0
        assert _same(spark, dest) == 10
        # append flush auto-syncs both formats
        db.batch_insert("notes", [{"id": "z1", "body": "zz",
                                   "n": 50}])
        db.flush()
        assert db.last_mirror_error is None
        assert _same(spark, dest) == 11
        # PURE-delete flush: position route (not eqdel) → DV commit
        db.delete("notes").where("id", "IN",
                                 ["k001", "k003"]).execute()
        db.flush()
        assert db.last_mirror_error is None
        assert _same(spark, dest) == 9
        meta = _load_metadata(dest)
        last = meta["snapshots"][-1]["summary"]
        # the position route committed a MoR delete snapshot (the
        # eqdel tier would have refused to bridge)
        assert last["operation"] == "delete"
        assert last.get("added-data-files") == "0"
        proto = _replay(dest)["protocol"]
        assert "deletionVectors" in proto["readerFeatures"]
        # the delta side carries a DV add for the touched file
        files = _replay(dest)["files"]
        assert any(a.get("deletionVector") for a in files.values())

    def test_no_cdf_on_reverse_bridge(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        convert_iceberg_to_delta(spark, dest)
        with pytest.raises(ValueError, match="ChangeDataFeed"):
            read_delta_cdf(spark, dest, 0)

    def test_delta_side_maintenance_refuses(self, spark, tmp_path):
        """The Iceberg side owns the files: a delta-side optimize
        would be clobbered by the next sync, and a delta-side vacuum
        could delete files Iceberg snapshots reference."""
        from tostore_spark.plans.delta_export import (optimize_delta,
                                                      vacuum_delta)
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        convert_iceberg_to_delta(spark, dest)
        with pytest.raises(ValueError, match="reverse bridge"):
            optimize_delta(spark, dest, min_files=2)
        with pytest.raises(ValueError, match="reverse bridge"):
            vacuum_delta(dest)
