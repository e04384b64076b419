"""convert_to_delta: in-place cataloging of plain parquet directories
— flat and hive-partitioned — with immediate stats skipping and
lifecycle composition (optimize/vacuum/time-travel)."""
import os

import pytest
from pyspark.sql import functions as F

from tostore_spark.plans.delta_export import (_replay, convert_to_delta,
                                              read_delta)
from tostore_spark.plans.delta_export import export_delta


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def test_flat_directory(spark, tmp_path):
    src = str(tmp_path / "plain")
    df = spark.range(100).selectExpr("id", "id % 7 as grp",
                                     "cast(id as string) as s")
    df.repartitionByRange(4, "id").write.parquet(src)
    rep = convert_to_delta(spark, src)
    assert rep["files"] == 4 and rep["partition_columns"] == []
    assert _rows(read_delta(spark, src)) == _rows(df)
    # footer stats landed in the adds: a range predicate prunes
    st = _replay(src, None)
    assert all("stats" in a and a["stats"] for a in st["files"].values())
    from tests.test_delta_skipping import _pruned_count
    kept, total = _pruned_count(src, {"id": {"<": 10}})
    assert total == 4 and kept == 1
    got = _rows(read_delta(spark, src, where={"id": {"<": 10}}))
    assert got == _rows(df.filter(F.col("id") < 10))


def test_hive_partitioned_directory(spark, tmp_path):
    src = str(tmp_path / "hive")
    df = spark.range(60).selectExpr("id", "id % 3 as p")
    df.write.partitionBy("p").parquet(src)
    rep = convert_to_delta(spark, src)
    assert rep["partition_columns"] == ["p"]
    out = read_delta(spark, src)
    assert _rows(out) == _rows(df)
    assert dict(out.dtypes)["p"] in ("int", "bigint")
    # partitionValues recorded per file — equality on p prunes
    st = _replay(src, None)
    assert {a["partitionValues"]["p"]
            for a in st["files"].values()} == {"0", "1", "2"}
    got = _rows(read_delta(spark, src, where={"p": 1}))
    assert got == _rows(df.filter(F.col("p") == 1))


class TestConvertIceberg:
    def test_flat_with_name_mapping(self, spark, tmp_path):
        import json as _json

        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 convert_to_iceberg,
                                                 read_iceberg)
        src = str(tmp_path / "flat")
        df = spark.range(100).selectExpr(
            "id", "id % 7 as grp", "array(id, id + 1) as v")
        df.repartitionByRange(4, "id").write.parquet(src)
        rep = convert_to_iceberg(spark, src)
        assert rep["files"] == 4 and rep["partition_columns"] == []
        meta = _load_metadata(src)
        nm = _json.loads(
            meta["properties"]["schema.name-mapping.default"])
        assert {e["names"][0] for e in nm} == {"id", "grp", "v"}
        # array columns map their element id
        v_ent = next(e for e in nm if e["names"] == ["v"])
        assert v_ent["fields"][0]["names"] == ["element"]
        out = read_iceberg(spark, src)
        assert sorted((r.id, r.grp, tuple(r.v))
                      for r in out.collect()) == \
            sorted((r.id, r.grp, tuple(r.v)) for r in df.collect())
        # bounds landed: a range predicate prunes to one file
        w = read_iceberg(spark, src, where={"id": {"<": 10}})
        assert w.count() == 10 and len(w.inputFiles()) == 1

    def test_hive_identity_fill(self, spark, tmp_path):
        """Partition values absent from the data files fill from the
        manifests (Column Projection rule 2), typed per discovery."""
        from tostore_spark.plans.iceberg import (convert_to_iceberg,
                                                 read_iceberg)
        src = str(tmp_path / "hive")
        df = spark.range(60).selectExpr("id", "id % 3 as p")
        df.write.partitionBy("p").parquet(src)
        rep = convert_to_iceberg(spark, src)
        assert rep["partition_columns"] == ["p"]
        out = read_iceberg(spark, src)
        assert dict(out.dtypes)["p"] == "int"
        assert sorted(map(tuple, out.select("id", "p").collect())) \
            == sorted(map(tuple, df.collect()))
        # identity partition pruning cuts the scan to p=1's files
        wp = read_iceberg(spark, src, where={"p": 1})
        assert wp.count() == 20
        assert all("p=1" in f for f in wp.inputFiles())

    def test_refusals(self, spark, tmp_path):
        from tostore_spark.plans.iceberg import convert_to_iceberg
        src = str(tmp_path / "flat")
        spark.range(5).write.parquet(src)
        convert_to_iceberg(spark, src)
        with pytest.raises(ValueError, match="already has"):
            convert_to_iceberg(spark, src)
    def test_nested_types_convert_with_recursive_mapping(
            self, spark, tmp_path):
        """late r17: the nested-type refusal lifted — struct/map/list
        columns convert with a RECURSIVE name mapping (struct children
        by name, list element under 'element', map entries under
        'key'/'value'), every level carrying a distinct field id."""
        import json as _json

        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 convert_to_iceberg,
                                                 read_iceberg)
        nested = str(tmp_path / "nested")
        df = spark.createDataFrame(
            [(1, ("a", 10), {"x": 1.5}, [("t1", 2)]),
             (2, ("b", 20), {"y": 2.5}, [("t2", 3), ("t3", 4)])],
            "k int, st struct<name:string, score:int>, "
            "m map<string,double>, arr array<struct<tag:string,"
            "v:int>>")
        df.write.parquet(nested)
        convert_to_iceberg(spark, nested)
        out = read_iceberg(spark, nested)

        def _norm(frame):
            return sorted(
                (r["k"], r["st"]["name"], r["st"]["score"],
                 sorted(r["m"].items()),
                 [(e["tag"], e["v"]) for e in r["arr"]])
                for r in frame.collect())
        assert _norm(out) == _norm(df)
        nm = _json.loads(_load_metadata(nested)["properties"]
                         ["schema.name-mapping.default"])
        st = next(e for e in nm if e["names"] == ["st"])
        assert {c["names"][0] for c in st["fields"]} == \
            {"name", "score"}
        mp = next(e for e in nm if e["names"] == ["m"])
        assert [c["names"][0] for c in mp["fields"]] == \
            ["key", "value"]
        arr = next(e for e in nm if e["names"] == ["arr"])
        assert arr["fields"][0]["names"] == ["element"]
        assert {c["names"][0]
                for c in arr["fields"][0]["fields"]} == {"tag", "v"}
        ids = []

        def _walk(entries):
            for e in entries:
                ids.append(e["field-id"])
                _walk(e.get("fields") or [])
        _walk(nm)
        assert len(ids) == len(set(ids))

    def test_foreign_name_mapping_mismatch_refuses(self, spark,
                                                   tmp_path):
        """A mapping whose names disagree with the schema would make
        name-based resolution read the wrong column — refuse."""
        import json as _json

        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 convert_to_iceberg,
                                                 read_iceberg)
        src = str(tmp_path / "flat")
        spark.range(5).selectExpr("id", "id as n").write.parquet(src)
        convert_to_iceberg(spark, src)
        meta = _load_metadata(src)
        nm = _json.loads(
            meta["properties"]["schema.name-mapping.default"])
        nm[0]["names"] = ["renamed_physical"]
        meta["properties"]["schema.name-mapping.default"] = \
            _json.dumps(nm)
        import os as _os

        from tostore_spark.plans.iceberg import (_next_metadata_version,
                                                 _write_metadata_json)
        mdir = _os.path.join(src, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        with pytest.raises(ValueError, match="name-based resolution"):
            read_iceberg(spark, src)


class TestDeltaIcebergBridge:
    def _mk(self, spark, tmp_path, partition_by=None):
        from tostore_spark.engine import ToStoreSpark
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        df = spark.createDataFrame(
            [(f"k{i:03d}", i, i % 3) for i in range(30)],
            "id string, n int, p int")
        db.register_table("notes", df=df, partition_by=partition_by)
        db.flush()
        return db

    def test_bridge_reads_identically(self, spark, tmp_path):
        from tostore_spark.plans.iceberg import (convert_delta_to_iceberg,
                                                 read_iceberg)
        db = self._mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=4)
        rep = convert_delta_to_iceberg(spark, dest)
        assert rep["files"] == 4 and rep["delta_version"] == 0
        assert _rows(read_iceberg(spark, dest)) == \
            _rows(read_delta(spark, dest))
        w = read_iceberg(spark, dest, where={"n": {"<": 5}})
        assert w.count() == 5 and len(w.inputFiles()) < 4

    def test_partitioned_bridge_fills_from_log(self, spark, tmp_path):
        """A hive-partitioned Delta export: partition values live in
        the log; the bridged Iceberg view carries them in manifests
        and the reader fills the column (rule 2)."""
        from tostore_spark.plans.iceberg import (convert_delta_to_iceberg,
                                                 read_iceberg)
        db = self._mk(spark, tmp_path, partition_by=["p"])
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest)
        rep = convert_delta_to_iceberg(spark, dest)
        assert rep["partition_columns"] == ["p"]
        assert _rows(read_iceberg(spark, dest)) == \
            _rows(read_delta(spark, dest))
        wp = read_iceberg(spark, dest, where={"p": 1})
        assert wp.count() == 10
        assert all("p=1" in f for f in wp.inputFiles())

    def test_dv_tables_convert_with_bootstrap_deletes(self, spark,
                                                      tmp_path):
        from tostore_spark.engine import ToStoreSpark
        from tostore_spark.plans.iceberg import (convert_delta_to_iceberg,
                                                 read_iceberg)
        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "n": i} for i in range(30)])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=3,
                     deletion_vectors=True)
        db.delete("notes").where("n", "IN", [1, 2]).execute()
        db.flush()
        rep0 = export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)
        assert rep0["commit"] == "dv"
        # late r17: the refusal is LIFTED — live vectors fold into
        # the bootstrap snapshot as one position-delete file and the
        # sidecar seeds for later DV syncs (TestBridgeDeletionVectors
        # pins the full lifecycle)
        rep = convert_delta_to_iceberg(spark, dest)
        assert rep["files"] == 3
        assert _rows(read_iceberg(spark, dest)) == \
            _rows(read_delta(spark, dest))


class TestLifecycle:
    def test_optimize_and_vacuum_after_convert(self, spark, tmp_path):
        src = str(tmp_path / "plain")
        df = spark.range(100).selectExpr("id", "id % 7 as grp")
        df.repartition(6).write.parquet(src)
        convert_to_delta(spark, src)
        before = _rows(read_delta(spark, src))
        from tostore_spark.plans.delta_export import (optimize_delta,
                                                      vacuum_delta)
        rep = optimize_delta(spark, src, target_file_bytes=64 << 20)
        assert rep["files"] == 1 and rep["rewritten"] == 6
        assert _rows(read_delta(spark, src)) == before
        # v0 still time-travels to the pre-compaction file set
        assert read_delta(spark, src, version=0).count() == 100
        vrep = vacuum_delta(src, keep_versions=1)
        assert vrep["deleted"]
        assert _rows(read_delta(spark, src)) == before

    def test_refusals(self, spark, tmp_path):
        src = str(tmp_path / "plain")
        spark.range(5).write.parquet(src)
        convert_to_delta(spark, src)
        with pytest.raises(ValueError, match="already has"):
            convert_to_delta(spark, src)
        empty = str(tmp_path / "empty")
        os.makedirs(empty)
        with pytest.raises(ValueError, match="no parquet files"):
            convert_to_delta(spark, empty)
        # a non-hive nested layout refuses rather than guessing
        weird = str(tmp_path / "weird" / "sub")
        os.makedirs(weird)
        spark.range(5).coalesce(1).write.mode("append").parquet(weird)
        with pytest.raises(ValueError, match="non-hive"):
            convert_to_delta(spark, str(tmp_path / "weird"))
