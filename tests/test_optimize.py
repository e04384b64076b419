"""Compaction maintenance ops: optimize_delta (dataChange=false
remove+add commit, DV purge, CDF-invisible) and Iceberg
rewrite_data_files (replace snapshot; EXISTING survivors keep their
original sequence numbers; materialize under live MoR deletes).
The one invariant everywhere: the LOGICAL table never changes."""
import os

import pytest
from pyspark.sql import functions as F

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (_replay, read_delta,
                                              read_delta_cdf)
from tostore_spark.plans.iceberg import (_load_metadata, _pick_snapshot,
                                         _scan_files, read_iceberg,
                                         rewrite_data_files)
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import (export_delta, optimize_delta,
                                              vacuum_delta)
from tostore_spark.plans.iceberg import export_iceberg


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def _mk(spark, tmp_path, rows=50):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "n": i} for i in range(rows)])
    db.flush()
    return db


class TestOptimizeDelta:
    def _grow(self, db, dest, commits=3):
        for r in range(commits):
            db.batch_insert("notes", [
                {"id": f"x{r}_{i}", "n": 100 + 10 * r + i}
                for i in range(5)])
            db.flush()
            export_delta(db, "notes", dest, mode="update",
                         deletion_vectors=True)

    def test_compacts_and_preserves_everything(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=6,
                     change_data=True, deletion_vectors=True)
        self._grow(db, dest)
        db.delete("notes").where("n", "IN", [3, 7]).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True)
        before = _rows(read_delta(spark, dest))
        st = _replay(dest, None)
        n_before = len(st["files"])
        assert any(a.get("deletionVector") for a in st["files"].values())
        rep = optimize_delta(db.spark, dest, target_file_bytes=10 << 20)
        assert rep["rewritten"] == n_before and rep["files"] == 1
        st2 = _replay(dest, None)
        # DV purge: the rewritten file carries no vector
        assert len(st2["files"]) == 1
        assert not any(a.get("deletionVector")
                       for a in st2["files"].values())
        # every action in the optimize commit is dataChange=false
        import json as _json
        log = os.path.join(dest, "_delta_log",
                           f"{rep['version']:020d}.json")
        acts = [_json.loads(x) for x in open(log)]
        for a in acts:
            body = a.get("add") or a.get("remove")
            if body is not None:
                assert body.get("dataChange") is False
        # logical table unchanged; time travel intact
        assert _rows(read_delta(spark, dest)) == before
        assert read_delta(spark, dest,
                          version=rep["version"] - 1).count() \
            == len(before)
        # the CDF never sees the optimize commit
        feed = read_delta_cdf(spark, dest, from_version=1)
        assert rep["version"] not in {
            r["_commit_version"] for r in feed.collect()}
        # stats survive compaction: a where= read still prunes/answers
        got = _rows(read_delta(spark, dest, where={"n": {"<": 5}}))
        assert got == [r for r in before if r[1] < 5]

    def test_noop_below_min_files(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        rep = optimize_delta(db.spark, dest)
        assert rep["version"] is None and rep["rewritten"] == 0

    def test_incremental_export_survives_optimize(self, spark,
                                                  tmp_path):
        """mode='update' keeps committing incrementally across an
        optimize — the append path stages store segments, the DV path
        probes the CURRENT live files."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=6,
                     deletion_vectors=True)
        self._grow(db, dest, commits=2)
        optimize_delta(db.spark, dest, target_file_bytes=10 << 20)
        db.batch_insert("notes", [{"id": "post", "n": 999}])
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "append" and rep["rows"] == 1
        db.delete("notes").where("n", "=", 999).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        assert _rows(read_delta(spark, dest)) == \
            _rows(db.df("notes"))

    def test_vacuum_reclaims_compacted_files(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=6)
        before = _rows(read_delta(spark, dest))
        optimize_delta(db.spark, dest, target_file_bytes=10 << 20)
        rep = vacuum_delta(dest, keep_versions=1)
        assert rep["deleted"], rep
        assert _rows(read_delta(spark, dest)) == before

    def test_cluster_by_recluster(self, spark, tmp_path):
        """cluster_by rewrites ALL files range-clustered: a point
        predicate afterwards prunes to one file."""
        import random
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        order = list(range(40))
        random.Random(3).shuffle(order)
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "n": i} for i in order])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=4)
        st = _replay(dest, None)
        quarter = sum(int(a["size"]) for a in st["files"].values()) // 4
        optimize_delta(db.spark, dest, target_file_bytes=max(1, quarter),
                       cluster_by=["n"])
        from tests.test_delta_skipping import _pruned_count
        kept, total = _pruned_count(dest, {"n": 17})
        assert total >= 2 and kept == 1


class TestRewriteIceberg:
    def test_binpack_survivors_keep_seq(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=6)
        for r in range(2):
            db.batch_insert("notes", [
                {"id": f"x{r}_{i}", "n": 100 + 10 * r + i}
                for i in range(5)])
            db.flush()
            export_iceberg(db, "notes", dest, mode="update")
        before = _rows(read_iceberg(spark, dest))
        rep = rewrite_data_files(spark, dest,
                                 target_file_bytes=10 << 20)
        assert rep["mode"] == "binpack" and rep["files"] == 1
        assert _rows(read_iceberg(spark, dest)) == before
        # prior snapshots still time-travel
        meta = _load_metadata(dest)
        snaps = sorted(s["snapshot-id"] for s in meta["snapshots"])
        assert read_iceberg(spark, dest,
                            snapshot_id=snaps[0]).count() == 50

    def test_materialize_under_mor_deletes(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=6)
        db.batch_insert("notes", [{"id": "z1", "n": 100}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        db.delete("notes").where("n", "IN", [3, 7]).execute()
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        before = _rows(read_iceberg(spark, dest))
        rep = rewrite_data_files(spark, dest,
                                 target_file_bytes=10 << 20)
        assert rep["mode"] == "materialize"
        assert _rows(read_iceberg(spark, dest)) == before
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        d, pd_, ed_, _parts, _fs = _scan_files(meta, snap, dest)
        assert not pd_ and not ed_ and len(d) == 1

    def test_noop_when_nothing_small(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        rep = rewrite_data_files(spark, dest)
        assert rep["snapshot_id"] is None and rep["mode"] == "noop"

    def test_expire_reclaims_after_rewrite(self, spark, tmp_path):
        from tostore_spark.plans.iceberg import expire_snapshots
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=6)
        before = _rows(read_iceberg(spark, dest))
        rewrite_data_files(spark, dest, target_file_bytes=10 << 20)
        rep = expire_snapshots(dest, keep_last=1)
        assert rep["deleted"]
        assert _rows(read_iceberg(spark, dest)) == before
