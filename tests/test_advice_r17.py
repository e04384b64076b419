"""Round-17 advice items: bootstrap fast paths require an EMPTY
consumer (pure-insert bootstrap cannot remove historically-deleted
rows a pre-populated target still holds), both apply_* APIs report
the bootstrapped range start consistently, and the single-schema
field-id loud gate survives an earlier evolved-table read's
``ignoreMissing`` conf leak."""
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _mk(spark, wh, rows=8):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [{"id": f"k{i:03d}", "n": i}
                              for i in range(rows)])
    db.flush()
    return db


def _consumer(spark, wh):
    con = ToStoreSpark(spark, warehouse=wh)
    con.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    return con


class TestBootstrapEmptyTargetGuard:
    def test_delta_bootstrap_refuses_nonempty_target(self, spark,
                                                     tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)
        con = _consumer(spark, str(tmp_path / "wc"))
        con.batch_insert("notes", [{"id": "stale", "n": -1}])
        con.flush()
        with pytest.raises(ValueError, match="EMPTY consumer"):
            con.apply_cdf("notes", dest)
        # seeded resume stays allowed on a non-empty target
        rep = con.apply_cdf("notes", dest, from_version=0)
        assert rep["applied"] == 8 and rep["from_version"] == 0
        # and a clean consumer bootstraps as before
        con2 = _consumer(spark, str(tmp_path / "wc2"))
        rep2 = con2.apply_cdf("notes", dest)
        assert rep2["applied"] == 8
        assert rep2["from_version"] == 0
        assert con2.df("notes").count() == 8

    def test_iceberg_bootstrap_refuses_nonempty_target(self, spark,
                                                       tmp_path):
        from tostore_spark.plans.iceberg import _load_metadata
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        db.batch_insert("notes", [{"id": "x9", "n": 99}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")       # s2
        con = _consumer(spark, str(tmp_path / "wc"))
        con.batch_insert("notes", [{"id": "stale", "n": -1}])
        con.flush()
        with pytest.raises(ValueError, match="EMPTY consumer"):
            con.apply_iceberg_changes("notes", dest)
        # empty consumer: bootstrap reports the ancestry ROOT as the
        # range start (the Delta twin's versions[0] analog), not None
        con2 = _consumer(spark, str(tmp_path / "wc2"))
        rep = con2.apply_iceberg_changes("notes", dest)
        meta = _load_metadata(dest)
        snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
        root = [sid for sid, s in snaps.items()
                if s.get("parent-snapshot-id") not in snaps]
        assert rep["applied"] == 9
        assert rep["from_snapshot"] == root[0]
        assert rep["to_snapshot"] == meta["current-snapshot-id"]


class TestRebootstrapOnRefuse:
    """r17 order #4: a CURSORED consumer that hits an underivable
    range recovers with ``on_refuse="rebootstrap"`` — the target
    snapshot nets against the replica (two exceptAll passes) and the
    cursor resumes at HEAD.  Default behavior still raises."""

    def test_iceberg_cursored_replica_converges_over_refresh(
            self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        con = _consumer(spark, str(tmp_path / "wc"))
        assert con.apply_iceberg_changes("notes", dest)["applied"] == 8
        # a same-schema CLEAR+reinsert → ops reset → REFRESH snapshot
        # the changelog rightly refuses to derive (one row's n edited)
        db.clear("notes")
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "n": 777 if i == 2 else i}
            for i in range(8)])
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "refresh"
        with pytest.raises(ValueError, match="rewrite"):
            con.apply_iceberg_changes("notes", dest)
        rep = con.apply_iceberg_changes("notes", dest,
                                        on_refuse="rebootstrap")
        # exceptAll diff: one changed row = 1 delete + 1 insert
        assert rep["applied"] == 2, rep
        a = sorted(map(tuple,
                       con.df("notes").select("id", "n").collect()))
        b = sorted(map(tuple,
                       db.df("notes").select("id", "n").collect()))
        assert a == b
        # the cursor resumed at HEAD: the next pull is incremental
        db.batch_insert("notes", [{"id": "x9", "n": 99}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        rep2 = con.apply_iceberg_changes("notes", dest)
        assert rep2["applied"] == 1
        assert con.df("notes").count() == db.df("notes").count()

    def test_delta_cursored_replica_converges_over_underivable(
            self, spark, tmp_path):
        import time

        from tostore_spark.plans.delta_export import (_replay,
                                                      _write_commit,
                                                      read_delta)
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)                      # v0
        con = _consumer(spark, str(tmp_path / "wc"))
        assert con.apply_cdf("notes", dest)["applied"] == 8
        # foreign writer rewrites a file WITHOUT cdc actions: remove
        # the live file, add a copy missing one row — replay fine,
        # CDF underivable
        state = _replay(dest)
        rel = sorted(state["files"])[0]
        old = spark.read.parquet(os.path.join(dest, rel))
        rewritten = old.filter("id <> 'k003'")
        stage = str(tmp_path / "stage")
        rewritten.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        import json as _json
        newrel = f"v1-{part}"
        os.replace(os.path.join(stage, part),
                   os.path.join(dest, newrel))
        _write_commit(dest, 1, [
            {"remove": {"path": rel, "dataChange": True,
                        "deletionTimestamp": int(time.time() * 1000)}},
            {"add": {"path": newrel, "partitionValues": {},
                     "size": os.path.getsize(
                         os.path.join(dest, newrel)),
                     "modificationTime": int(time.time() * 1000),
                     "dataChange": True,
                     "stats": _json.dumps({"numRecords": 7})}}])
        with pytest.raises(ValueError, match="cannot be derived"):
            con.apply_cdf("notes", dest)
        rep = con.apply_cdf("notes", dest, on_refuse="rebootstrap")
        assert rep["applied"] == 1          # the one vanished row
        a = sorted(map(tuple,
                       con.df("notes").select("id", "n").collect()))
        b = sorted(map(tuple, read_delta(spark, dest)
                       .select("id", "n").collect()))
        assert a == b and len(a) == 7

    def test_schema_drift_still_raises(self, spark, tmp_path):
        from tostore_spark.schema import FieldSchema
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        con = _consumer(spark, str(tmp_path / "wc"))
        con.apply_iceberg_changes("notes", dest)
        # schema migration → refresh with a NEW column the consumer
        # lacks: rebootstrap must refuse, not silently misalign
        db.update_schema("notes").add_field(
            FieldSchema("tag", DataType.text,
                        default_value="T")).execute()
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        with pytest.raises(ValueError, match="column mismatch"):
            con.apply_iceberg_changes("notes", dest,
                                      on_refuse="rebootstrap")


class TestFieldIdGateSurvivesConfLeak:
    def test_idless_single_schema_raises_after_leak(self, spark,
                                                    tmp_path):
        """An evolved-table read leaves ``ignoreMissing=true`` for
        the session (lazy frames forbid restoring it); the
        single-schema loud gate must not trust the conf: an id-less,
        non-name-mapped table still REFUSES instead of null-filling."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tostore_spark.plans.iceberg import read_iceberg
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        # strip the parquet field ids in place (same rows, no
        # PARQUET:field_id metadata) — the spec-violation shape
        ddir = os.path.join(dest, "data")
        fps = [os.path.join(ddir, f) for f in os.listdir(ddir)
               if f.endswith(".parquet")]
        assert fps
        for fp in fps:
            t = pq.read_table(fp)
            stripped = pa.schema([pa.field(f.name, f.type)
                                  for f in t.schema])
            pq.write_table(t.cast(stripped), fp)
        key = "spark.sql.parquet.fieldId.read.ignoreMissing"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "true")          # simulate the leak
        try:
            with pytest.raises(ValueError, match="field id"):
                read_iceberg(spark, dest)
        finally:
            spark.conf.set(key, old) if old is not None \
                else spark.conf.unset(key)
