"""``rewrite_manifests`` — Iceberg manifest consolidation.

Every incremental export/sync stacks one manifest per commit; the
rewrite consolidates the current snapshot's manifests into one per
(content, spec-id) group as EXISTING entries carrying their original
sequence numbers (the delete-scoping rule), committed as a
``replace`` snapshot with zero data IO.  Spec: Iceberg Table Spec
"Manifests" / the rewriteManifests maintenance action."""
import os

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.avro_io import read_container_file
from tostore_spark.plans.delta_export import read_delta
from tostore_spark.plans.iceberg import (_load_metadata, _norm_path,
                                         _pick_snapshot,
                                         read_iceberg,
                                         rewrite_manifests,
                                         sync_delta_to_iceberg)
from tostore_spark.plans.xtable import (convert_iceberg_to_delta,
                                        sync_iceberg_to_delta)
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


def _manifest_count(dest):
    meta = _load_metadata(dest)
    snap = _pick_snapshot(meta)
    _, mlist = read_container_file(snap["manifest-list"])
    return len(mlist), mlist


def _stack_commits(db, dest, n=3, start=0):
    for j in range(start, start + n):
        db.batch_insert("notes", [
            {"id": f"x{j}{i}", "body": "xx", "n": 100 + j * 10 + i}
            for i in range(3)])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")


class TestRewriteManifests:
    def test_consolidates_and_preserves_reads(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        _stack_commits(db, dest, n=3)
        n_before, _ = _manifest_count(dest)
        assert n_before == 4                  # 1 initial + 3 appends
        before = sorted(map(tuple, read_iceberg(spark, dest)
                            .select("id", "n").collect()))
        s_pre = _load_metadata(dest)["current-snapshot-id"]
        data_before = sorted(os.listdir(os.path.join(dest, "data")))
        rep = rewrite_manifests(dest)
        assert rep["rewritten"] == 4 and rep["manifests"] == 1
        # zero data IO
        assert sorted(os.listdir(os.path.join(dest, "data"))) == \
            data_before
        n_after, mlist = _manifest_count(dest)
        assert n_after == 1
        # entries are EXISTING with their original seqs preserved
        _, entries = read_container_file(mlist[0]["manifest_path"])
        assert all(e["status"] == 0 for e in entries)
        assert min(e["sequence_number"] for e in entries) == \
            mlist[0]["min_sequence_number"] == 1
        after = sorted(map(tuple, read_iceberg(spark, dest)
                           .select("id", "n").collect()))
        assert after == before
        # time travel to the pre-rewrite snapshot still works
        old = read_iceberg(spark, dest, snapshot_id=s_pre)
        assert old.count() == len(before)
        # idempotent: one manifest per group → noop
        assert rewrite_manifests(dest)["rewritten"] == 0

    def test_delete_manifests_consolidate_with_scoping(self, spark,
                                                       tmp_path):
        """MoR delete manifests merge too; their delete files keep
        applying by ORIGINAL sequence numbers, so rows deleted before
        the rewrite stay dead and rows appended after a delete's seq
        stay alive."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        # two mixed epochs → two MoR delete snapshots
        for j, victims in enumerate((["k001"], ["k003"])):
            db.batch_insert("notes", [
                {"id": f"m{j}", "body": "mm", "n": 300 + j}])
            db.delete("notes").where("id", "IN", victims).execute()
            db.flush()
            r = export_iceberg(db, "notes", dest, mode="update")
            assert r["commit"] == "mor", r
        before = sorted(r["id"] for r in
                        read_iceberg(spark, dest).collect())
        n_before, mlist = _manifest_count(dest)
        assert sum(1 for m in mlist if (m.get("content") or 0) == 1) \
            == 2
        rep = rewrite_manifests(dest)
        assert rep["rewritten"] == n_before
        n_after, mlist = _manifest_count(dest)
        assert n_after == 2                   # one data + one deletes
        after = sorted(r["id"] for r in
                       read_iceberg(spark, dest).collect())
        assert after == before and "k001" not in after
        # post-rewrite incremental export keeps extending
        db.batch_insert("notes", [{"id": "z9", "body": "zz",
                                   "n": 999}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        assert read_iceberg(spark, dest).count() == len(before) + 1

    def test_forward_bridge_index_rebuilds_after_rewrite(
            self, spark, tmp_path):
        """A foreign rewrite invalidates the bridge's path→manifest
        index by set-inequality; the next delta sync rebuilds it and
        keeps folding."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=2)
        from tostore_spark.plans.iceberg import \
            convert_delta_to_iceberg
        convert_delta_to_iceberg(spark, dest)
        for j in range(2):
            db.batch_insert("notes", [
                {"id": f"y{j}", "body": "yy", "n": 200 + j}])
            db.flush()
            export_delta(db, "notes", dest, mode="update")
            sync_delta_to_iceberg(spark, dest)
        rep = rewrite_manifests(dest)
        assert rep["rewritten"] >= 2
        db.delete("notes").where("id", "IN", ["k002"]).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=False)
        sync_delta_to_iceberg(spark, dest)
        a = sorted(r["id"] for r in read_iceberg(spark, dest)
                   .collect())
        b = sorted(r["id"] for r in read_delta(spark, dest)
                   .collect())
        assert a == b and "k002" not in a

    def test_reverse_bridge_rewrite_folds_harmlessly(self, spark,
                                                     tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        _stack_commits(db, dest, n=2)
        convert_iceberg_to_delta(spark, dest)
        rewrite_manifests(dest)
        rep = sync_iceberg_to_delta(spark, dest)
        assert rep["snapshots"] == 1          # metaData-only fold
        a = sorted(r["id"] for r in read_iceberg(spark, dest)
                   .collect())
        b = sorted(r["id"] for r in read_delta(spark, dest)
                   .collect())
        assert a == b

    def test_v1_refuses(self, spark, tmp_path):
        import json
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        meta = _load_metadata(dest)
        meta["format-version"] = 1
        from tostore_spark.plans.iceberg import (
            _next_metadata_version, _write_metadata_json)
        mdir = os.path.join(_norm_path(dest), "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        with pytest.raises(ValueError, match="format-version 2"):
            rewrite_manifests(dest)
