"""Point-key file refutation for the DV/position-delete export probes
(round-17 order #1): per-file key blooms let a scattered small-key
delete probe ONLY the files that actually hold its keys — min/max
bounds cannot refute uniform point keys, so without the blooms the
probe scans the whole base (the last measured ∝-base term in
``interop_export.delta_dv_delete``).

Reference parity note: the reference engine resolves deletes through
its B+tree primary index (O(keys) point lookups); this sidecar is the
Parquet-native equivalent — provable-absence bitmaps per immutable
file."""
import json
import os

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans import delta_export as de
from tostore_spark.plans.delta_export import read_delta
from tostore_spark.plans.iceberg import read_iceberg
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _mk(spark, wh, rows=400):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    # interleaved ids: every staged file's [min,max] id-range spans
    # ~the whole key space, so bounds pruning refutes NOTHING — the
    # exact layout that makes scattered point deletes ∝-base without
    # the blooms
    db.batch_insert("notes", [
        {"id": f"k{(i * 37) % rows:03d}", "body": f"b{i}", "n": i}
        for i in range(rows)])
    db.flush()
    return db


def _sorted_rows(df):
    return sorted(map(tuple, df.select("id", "body", "n").collect()))


class TestDeltaDvBloomProbe:
    def test_probe_reads_at_most_keyed_files(self, spark, tmp_path):
        """A 3-key delete against an 8-file export probes ≤ 3 files
        (+0 FP at this size) once blooms exist — and the FIRST delete
        already builds + uses them."""
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh)
        export_delta(db, "notes", dest, target_files=8)
        db.delete("notes").where(
            "id", "IN", ["k001", "k199", "k383"]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv", rep
        st = dict(de._PROBE_STATS)
        assert st["keys"] == 3
        assert st["built"] == st["candidates"] > 0
        assert st["kept"] <= 3, st
        sidecar = os.path.join(dest, de._BLOOM_SIDECAR)
        assert os.path.exists(sidecar)
        # second scattered delete: zero builds, probe ≤ key count
        db.delete("notes").where(
            "id", "IN", ["k010", "k300"]).execute()
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)
        assert rep2["commit"] == "dv", rep2
        st2 = dict(de._PROBE_STATS)
        assert st2["built"] == 0 and st2["kept"] <= 2, st2
        assert _sorted_rows(read_delta(spark, dest)) == \
            _sorted_rows(db.df("notes"))
        assert read_delta(spark, dest).count() == 395

    def test_bitmap_formula_matches_skipping_probe(self, spark,
                                                   tmp_path):
        """The Spark-side word-packed build and the driver-side
        ``bloom_may_contain`` agree bit-for-bit: every present key
        tests positive, absent keys overwhelmingly negative."""
        import base64

        from tostore_spark.plans.skipping import bloom_may_contain
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=100)
        export_delta(db, "notes", dest, target_files=2)
        db.delete("notes").where("id", "=", "k001").execute()
        db.flush()
        assert export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)["commit"] == "dv"
        store = de._load_export_blooms(dest)
        assert store["files"]
        # every id physically present in a bloomed file must test
        # positive against THAT file's bitmap (no false negatives —
        # the soundness property; bounds-refuted files carry no entry
        # and always probe)
        for rel, e in store["files"].items():
            bm = {"m": e["m"], "k": e["k"], "h": e.get("h"),
                  "cols": {"id": base64.b64decode(e["cols"]["id"])}}
            fids = {r["id"] for r in spark.read.parquet(
                os.path.join(dest, rel)).select("id").collect()}
            assert fids
            for v in fids:
                assert bloom_may_contain(bm, "id", v), (rel, v)

    def test_oversized_key_set_degrades_to_bounds_only(self, spark,
                                                       tmp_path, monkeypatch):
        """Deletes touching more distinct keys than the driver cap
        skip bloom refutation entirely (still correct, just not
        point-pruned) — and never build bitmaps."""
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        monkeypatch.setattr(de, "_BLOOM_MAX_KEYS", 4)
        db = _mk(spark, wh, rows=60)
        export_delta(db, "notes", dest, target_files=4)
        db.delete("notes").where(
            "id", "IN", [f"k{i:03d}" for i in range(10)]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        st = dict(de._PROBE_STATS)
        assert st["keys"] is None and st["built"] == 0
        assert st["kept"] == st["candidates"]
        assert not os.path.exists(os.path.join(dest, de._BLOOM_SIDECAR))
        assert read_delta(spark, dest).count() == 50

    def test_refresh_prunes_stale_entries(self, spark, tmp_path):
        """A refresh restages every file under new names; the next
        probe's sidecar save drops entries for dead rels."""
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=100)
        export_delta(db, "notes", dest, target_files=4)
        db.delete("notes").where("id", "=", "k001").execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True)
        old = set(de._load_export_blooms(dest)["files"])
        assert old
        # update WITHOUT deletion_vectors → full refresh, new rels
        db.delete("notes").where("id", "=", "k002").execute()
        db.flush()
        assert export_delta(db, "notes", dest,
                            mode="update")["commit"] == "refresh"
        db.delete("notes").where("id", "=", "k003").execute()
        db.flush()
        assert export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)["commit"] == "dv"
        cur = de._load_export_blooms(dest)["files"]
        assert cur and not (set(cur) & old), "stale rels must drop"
        assert read_delta(spark, dest).count() == 97


class TestIcebergMorBloomProbe:
    def test_mixed_epoch_probe_prunes(self, spark, tmp_path):
        """The seg+del MoR route bounds- AND bloom-prunes its live
        probe; staged-this-commit files always probe."""
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "ice")
        db = _mk(spark, wh)
        export_iceberg(db, "notes", dest, mode="update", target_files=8)
        db.batch_insert("notes", [
            {"id": f"z{i}", "body": "new", "n": 900 + i}
            for i in range(3)])
        db.flush()
        db.delete("notes").where(
            "id", "IN", ["k001", "k199", "k383"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "mor", rep
        st = dict(de._PROBE_STATS)
        assert st["kept"] <= 3 and st["built"] == st["candidates"] > 0
        assert os.path.exists(os.path.join(dest, "metadata",
                                           de._BLOOM_SIDECAR))
        db.batch_insert("notes", [{"id": "w0", "body": "w", "n": 950}])
        db.flush()
        db.delete("notes").where("id", "IN", ["k010", "k300"]).execute()
        db.flush()
        rep2 = export_iceberg(db, "notes", dest, mode="update")
        assert rep2["commit"] == "mor", rep2
        st2 = dict(de._PROBE_STATS)
        assert st2["built"] == 0 and st2["kept"] <= 2, st2
        assert _sorted_rows(read_iceberg(spark, dest)) == \
            _sorted_rows(db.df("notes"))
