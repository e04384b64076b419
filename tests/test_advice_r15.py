"""Round-15 advice fixes: date identity-partition fill (typed decode
+ hive single-scan), bounded Delta DV probe (limit BEFORE collect),
staging conf restore, strict TIMESTAMP AS OF, manifest-list counts
split by entry status, name-mapped rewrite refusal."""
import os

import pytest
from pyspark.sql import functions as F

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
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


class TestDatePartitionConvert:
    def test_date_partitioned_roundtrip(self, spark, tmp_path):
        """convert_to_iceberg on a DATE-partitioned hive layout must
        read back (the fill path used to cast INT to DATE and die)."""
        from tostore_spark.plans.iceberg import (convert_to_iceberg,
                                                 read_iceberg)
        src = str(tmp_path / "dated")
        df = spark.range(30).selectExpr(
            "id", "date_add(date'2024-01-01', cast(id % 3 as int)) as d")
        df.write.partitionBy("d").parquet(src)
        rep = convert_to_iceberg(spark, src)
        assert rep["files"] >= 3
        out = read_iceberg(spark, src)
        assert dict(out.dtypes)["d"] == "date"
        assert _rows(out) == _rows(df)
        # partition-value pruning still composes
        got = read_iceberg(spark, src,
                           where={"d": "2024-01-02"})
        assert got.count() == df.filter("d = date'2024-01-02'").count()

    def test_hive_fill_is_single_scan(self, spark, tmp_path):
        """Hive-layout converted tables read under ONE basePath scan —
        the plan must not grow a per-partition union."""
        from tostore_spark.plans.iceberg import (convert_to_iceberg,
                                                 read_iceberg)
        src = str(tmp_path / "hv")
        df = spark.range(40).selectExpr("id", "id % 8 as p")
        df.write.partitionBy("p").parquet(src)
        convert_to_iceberg(spark, src)
        out = read_iceberg(spark, src)
        assert _rows(out) == _rows(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") <= 1     # no 8-way union

    def test_part_value_lit_decodes_temporal(self, spark):
        import datetime

        from pyspark.sql import types as T

        from tostore_spark.plans.iceberg import _part_value_lit
        row = spark.range(1).select(
            _part_value_lit(19723, T.DateType()).alias("d"),
            _part_value_lit(1_700_000_000_000_000,
                            T.TimestampType()).alias("t"),
            _part_value_lit(None, T.DateType()).alias("dn"),
            _part_value_lit(7, T.LongType()).alias("n")).first()
        assert row["d"] == datetime.date(1970, 1, 1) \
            + datetime.timedelta(days=19723)
        assert row["t"].year == 2023
        assert row["dn"] is None and row["n"] == 7

    def test_non_hive_tuple_cap_refuses(self, spark, tmp_path,
                                        monkeypatch):
        """A non-hive foreign layout over the tuple cap refuses loudly
        instead of building an unbounded union plan."""
        import tostore_spark.plans.iceberg as ice
        src = str(tmp_path / "hv2")
        df = spark.range(20).selectExpr("id", "id % 4 as p")
        df.write.partitionBy("p").parquet(src)
        ice.convert_to_iceberg(spark, src)
        # force the non-hive fallback and a tiny cap: 4 tuples > 2
        monkeypatch.setattr(ice, "_is_hive_fill_layout",
                            lambda *a: False)
        monkeypatch.setattr(ice, "_FILL_TUPLE_CAP", 2)
        with pytest.raises(ValueError, match="tuple"):
            ice.read_iceberg(spark, src)

    def test_non_hive_fallback_fills_typed(self, spark, tmp_path,
                                           monkeypatch):
        """Under the cap, the per-tuple fallback fills typed values —
        including DATE (decoded from epoch-days, not a failing cast)."""
        import tostore_spark.plans.iceberg as ice
        src = str(tmp_path / "hv3")
        df = spark.range(12).selectExpr(
            "id", "date_add(date'2024-03-01', cast(id % 2 as int)) as d")
        df.write.partitionBy("d").parquet(src)
        ice.convert_to_iceberg(spark, src)
        monkeypatch.setattr(ice, "_is_hive_fill_layout",
                            lambda *a: False)
        out = ice.read_iceberg(spark, src)
        assert _rows(out) == _rows(df)


class TestBoundedDvProbe:
    def test_overbound_delete_falls_to_refresh(self, spark, tmp_path,
                                               monkeypatch):
        """An over-bound delete must trip the cap (limit BEFORE
        collect) and fall to the always-correct refresh tier."""
        import tostore_spark.plans.delta_dv as dv
        from tostore_spark.plans.delta_export import (_replay,
                                                      read_delta)
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        monkeypatch.setattr(dv, "MAX_TOTAL_POSITIONS", 3)
        db.delete("notes").where("n", "<", 10).execute()   # 10 hits
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] != "dv"
        st = _replay(dest, None)
        assert not any(a.get("deletionVector")
                       for a in st["files"].values())
        assert read_delta(spark, dest).count() == 40

    def test_underbound_delete_keeps_dv_path(self, spark, tmp_path,
                                             monkeypatch):
        import tostore_spark.plans.delta_dv as dv
        from tostore_spark.plans.delta_export import (_replay,
                                                      read_delta)
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        monkeypatch.setattr(dv, "MAX_TOTAL_POSITIONS", 100)
        db.delete("notes").where("n", "<", 10).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        st = _replay(dest, None)
        assert any(a.get("deletionVector")
                   for a in st["files"].values())
        assert read_delta(spark, dest).count() == 40


class TestStagingConfRestore:
    def test_output_timestamp_type_restored(self, spark, tmp_path):
        key = "spark.sql.parquet.outputTimestampType"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "INT96")
            db = _mk(spark, tmp_path, rows=10)
            export_delta(db, "notes", str(tmp_path / "dx"))
            assert spark.conf.get(key) == "INT96"
            export_iceberg(db, "notes", str(tmp_path / "ice"))
            assert spark.conf.get(key) == "INT96"
        finally:
            spark.conf.set(key, old)


class TestManifestListCounts:
    def test_survivors_counted_existing(self, spark, tmp_path):
        from tostore_spark.plans.avro_io import read_container_file
        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 _pick_snapshot,
                                                 rewrite_data_files)
        db = _mk(spark, tmp_path, rows=20000)
        dest = str(tmp_path / "ice")
        # one big file + small files: the big file survives binpack
        export_iceberg(db, "notes", dest, target_files=1)
        for r in range(2):
            db.batch_insert("notes",
                            [{"id": f"x{r}_{i}", "n": 100 + 10 * r + i}
                             for i in range(5)])
            db.flush()
            export_iceberg(db, "notes", dest, mode="update")
        rep = rewrite_data_files(spark, dest,
                                 target_file_bytes=50 << 10)
        assert rep["mode"] == "binpack"
        meta = _load_metadata(dest)
        snap = _pick_snapshot(meta)
        _schema, ml = read_container_file(snap["manifest-list"])
        ent = [e for e in ml if e["content"] == 0]
        assert len(ent) == 1
        assert ent[0]["added_files_count"] == 1
        assert ent[0]["existing_files_count"] == 1
        assert ent[0]["added_rows_count"] == 10        # the 2 compacted
        assert ent[0]["existing_rows_count"] == 20000  # the survivor


class TestNameMappedRewriteRefusal:
    def test_converted_table_refuses(self, spark, tmp_path):
        from tostore_spark.plans.iceberg import (convert_to_iceberg,
                                                 rewrite_data_files)
        src = str(tmp_path / "flat")
        spark.range(40).selectExpr("id", "id % 3 as g") \
            .repartition(4).write.parquet(src)
        convert_to_iceberg(spark, src)
        with pytest.raises(ValueError, match="name-mapped"):
            rewrite_data_files(spark, src, min_files=2)


class TestDvProbeBoundsPruning:
    def test_clustered_export_probes_matching_files_only(
            self, spark, tmp_path, monkeypatch):
        """r15: the DV key probe bounds-prunes by the key frame's
        min/max against the log stats — a tight key range on a
        range-clustered export probes the matching files, not the
        table.  Pinned by counting the files the probe frame reads."""
        import tostore_spark.plans.delta_export as de
        from tostore_spark.plans.delta_export import (_replay,
                                                      read_delta)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"k{i:04d}", "n": i} for i in range(400)])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=4,
                     cluster_by=["id"])
        probed = []
        orig = de._prune_adds

        def spy(files, node, schema, ident, pcols):
            kept = orig(files, node, schema, ident, pcols)
            probed.append((len(kept), len(files)))
            return kept
        monkeypatch.setattr(de, "_prune_adds", spy)
        db.delete("notes").where(
            "id", "IN", [f"k{i:04d}" for i in range(10)]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        assert probed and probed[-1][1] == 4 and probed[-1][0] == 1, \
            probed
        assert read_delta(spark, dest).count() == 390

    def test_unclustered_and_null_keys_stay_exact(self, spark,
                                                  tmp_path):
        """No stats refutation possible (keys spanning every file):
        the probe keeps all files and the result stays exact."""
        from tostore_spark.plans.delta_export import read_delta
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"k{i:04d}", "n": i} for i in range(100)])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=4)
        db.delete("notes").where(
            "id", "IN", ["k0000", "k0099"]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        got = sorted(r["id"] for r in
                     read_delta(spark, dest).collect())
        want = sorted(f"k{i:04d}" for i in range(1, 99))
        assert got == want
