"""Delta Lake export interop (plans/delta_export): the exported
directory must be a structurally valid Delta v0 commit AND its
documented no-library read-back path (plain parquet read of a fresh
export) must be hash-equal to ``engine.df(table)`` — including across
resolved deletion vectors and replace epochs, which external readers
cannot see through the store's own manifest."""
import json
import os

from pyspark.sql.types import StructType

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import export_delta, read_delta


def _mk(spark, wh, rows=30):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _collect_sorted(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


class TestDeltaExport:
    def test_export_resolves_vectors_and_reads_back(self, spark, tmp_path):
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh)
        # leave a merge-on-read recipe behind: delete epoch + replace
        # epoch — exactly the states an external reader cannot resolve
        db.delete("notes").where("n", "<", 5).execute()
        db.flush()
        db.batch_upsert("notes", [{"id": "k010", "body": "EDIT"},
                                  {"id": "zz", "body": "NEW", "n": 99}])
        db.flush()
        report = export_delta(db, "notes", dest, target_files=2)
        assert report["rows"] == 26 and report["files"] <= 2
        # documented fallback read-back: a fresh v0 export has every
        # listed file live, so a plain parquet read IS the snapshot
        back = spark.read.parquet(dest)
        assert _collect_sorted(back) == _collect_sorted(db.df("notes"))

    def test_log_is_a_valid_delta_v0_commit(self, spark, tmp_path):
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=12)
        export_delta(db, "notes", dest, target_files=1)
        log = os.path.join(dest, "_delta_log",
                           f"{0:020d}.json")
        assert os.path.exists(log)
        actions = [json.loads(line) for line in open(log)]
        protos = [a["protocol"] for a in actions if "protocol" in a]
        metas = [a["metaData"] for a in actions if "metaData" in a]
        adds = [a["add"] for a in actions if "add" in a]
        assert len(protos) == 1 and len(metas) == 1 and adds
        assert protos[0] == {"minReaderVersion": 1, "minWriterVersion": 2}
        # schemaString parses back as the exported Spark schema
        sch = StructType.fromJson(json.loads(metas[0]["schemaString"]))
        assert sch == db.df("notes").schema
        assert metas[0]["format"] == {"provider": "parquet",
                                      "options": {}}
        total = 0
        for add in adds:
            f = os.path.join(dest, add["path"])
            assert os.path.exists(f)
            assert add["size"] == os.path.getsize(f)
            assert add["dataChange"] is True
            stats = json.loads(add["stats"])
            total += stats["numRecords"]
            # per-file stats bound the integer column
            assert stats["minValues"]["n"] >= 0
            assert stats["maxValues"]["n"] <= 11
        assert total == 12
        # every data file in the directory is accounted for in the log
        listed = {a["path"] for a in adds}
        on_disk = {f for f in os.listdir(dest) if f.endswith(".parquet")}
        assert listed == on_disk

    def test_overwrite_semantics(self, spark, tmp_path):
        import pytest
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=5)
        export_delta(db, "notes", dest)
        with pytest.raises(ValueError):
            export_delta(db, "notes", dest)
        db.batch_insert("notes", [{"id": "p1", "body": "x", "n": 50}])
        db.flush()
        rep = export_delta(db, "notes", dest, mode="overwrite",
                           target_files=1)
        assert rep["rows"] == 6
        assert spark.read.parquet(dest).count() == 6


class TestDeltaVersionedExport:
    def test_update_append_only_commit(self, spark, tmp_path):
        """Pure-append store epochs export as add-only commits — the
        new segment's rows, never the table; versions time-travel."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        export_delta(db, "notes", dest)                      # v0
        db.batch_insert("notes", [{"id": f"z{i}", "body": "zz",
                                   "n": 90 + i} for i in range(4)])
        db.flush()                                          # append seg
        rep = export_delta(db, "notes", dest, mode="update")  # v1
        assert rep["commit"] == "append" and rep["version"] == 1
        assert rep["rows"] == 4, "append commit ships ONLY the delta"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        assert all("add" in a for a in actions), \
            "append commit must carry only add actions"
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        # time travel to v0 = the pre-append state
        assert read_delta(spark, dest, version=0).count() == 10

    def test_update_full_refresh_on_deletes(self, spark, tmp_path):
        """A delete (merge-on-read) breaks the append extension: the
        next update commit removes every live file and adds a fresh
        snapshot — one atomic log entry, all versions readable."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        export_delta(db, "notes", dest, target_files=2)      # v0
        db.delete("notes").where("n", "<", 3).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update")  # v1
        assert rep["commit"] == "refresh" and rep["rows"] == 7
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        assert sum(1 for a in actions if "remove" in a) == 2
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        assert read_delta(spark, dest, version=0).count() == 10
        # a second append after the refresh rides add-only again
        db.batch_insert("notes", [{"id": "a1", "body": "b", "n": 70}])
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update")
        assert rep2["commit"] == "append" and rep2["version"] == 2
        assert read_delta(spark, dest).count() == 8

    def test_dirty_export_then_flush_never_duplicates(self, spark,
                                                      tmp_path):
        """r11 ADVICE (high): an export taken with UNFLUSHED rows
        snapshots them into v0, but the state sidecar records only the
        flushed recipe.  When those rows then flush into a new segment,
        the next update must NOT treat that segment as a pure-append
        extension (its rows are already in the prior commit) — the
        append fast path requires a clean-at-export state."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        db.batch_insert("notes", [{"id": f"x{i}", "body": "late",
                                   "n": 100 + i} for i in range(5)])
        export_delta(db, "notes", dest)          # DIRTY v0: 15 rows
        assert read_delta(spark, dest).count() == 15
        db.flush()          # the same 5 rows become an append segment
        rep = export_delta(db, "notes", dest, mode="update")
        assert rep["commit"] == "refresh", \
            "a dirty-export state must disqualify the append fast path"
        assert read_delta(spark, dest).count() == 15, \
            "already-exported rows must not be duplicated"
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        # the refresh re-recorded a CLEAN state: the next pure append
        # rides the add-only fast path again
        db.batch_insert("notes", [{"id": "y0", "body": "b", "n": 200}])
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update")
        assert rep2["commit"] == "append" and rep2["rows"] == 1
        assert read_delta(spark, dest).count() == 16

    def test_update_append_applies_ttl_filter(self, spark, tmp_path):
        """r11 ADVICE (medium): the append fast path reads new segments
        raw, bypassing engine.df()'s TTL read filter — an append commit
        must not export expired rows the store would never surface.
        TTL tables always REWRITE at flush (store physical cleanup), so
        the only road to a TTL'd append segment is a set_ttl schema
        migration AFTER the segment flushed — exactly this sequence."""
        import datetime
        import time as _t

        from tostore_spark.plans.delta_export import read_delta
        from tostore_spark.schema import TableTtlConfig
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer),
                    FieldSchema(name="created", type=DataType.datetime)]))
        now = datetime.datetime.now()
        far = now + datetime.timedelta(hours=1)
        db.batch_insert("ev", [{"id": "a", "n": 1, "created": far}])
        db.flush()
        export_delta(db, "ev", dest)                         # v0
        db.batch_insert("ev", [
            {"id": "live", "n": 2, "created": far},
            {"id": "dying", "n": 3, "created": now}])
        db.flush()                      # append segment, pre-TTL
        db.update_schema("ev").set_ttl(
            TableTtlConfig(ttl_ms=800, source_field="created")).execute()
        _t.sleep(1.2)                   # 'dying' expires post-flush
        rep = export_delta(db, "ev", dest, mode="update")
        assert rep["commit"] == "append"
        assert rep["rows"] == 1, \
            "the append commit must TTL-filter raw segment reads"
        assert sorted(r["id"] for r in
                      read_delta(spark, dest).collect()) == ["a", "live"]

    def test_register_delta_and_noop(self, spark, tmp_path):
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=6)
        export_delta(db, "notes", dest)
        rep = export_delta(db, "notes", dest, mode="update")
        assert rep["commit"] == "noop"
        db.register_table("notes_ext", df=read_delta(db.spark, dest))
        assert _collect_sorted(db.df("notes_ext")) == \
            _collect_sorted(db.df("notes"))


class TestDeltaReaderForeign:
    """The replay reader on tables this repo did NOT write: hand-built
    logs exercising partitionValues, checkpoints, and the protocol
    refusal."""

    def _write_parquet(self, spark, d, rows, name):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table(rows), os.path.join(d, name))

    def test_partition_values_attach_typed(self, spark, tmp_path):
        from pyspark.sql.types import (IntegerType, LongType,
                                       StringType, StructField,
                                       StructType)

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        os.makedirs(os.path.join(d, "_delta_log"))
        # data files carry only (k, v); partition column p rides the log
        self._write_parquet(spark, d, {"k": [1, 2], "v": ["a", "b"]},
                            "f1.parquet")
        self._write_parquet(spark, d, {"k": [3], "v": ["c"]},
                            "f2.parquet")
        schema = StructType([StructField("k", LongType()),
                             StructField("v", StringType()),
                             StructField("p", IntegerType())])
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x", "format": {"provider": "parquet",
                                                "options": {}},
                          "schemaString": schema.json(),
                          "partitionColumns": ["p"],
                          "configuration": {}}},
            {"add": {"path": "f1.parquet", "partitionValues": {"p": "10"},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
            {"add": {"path": "f2.parquet", "partitionValues": {"p": "20"},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]
        with open(os.path.join(d, "_delta_log",
                               f"{0:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        out = read_delta(spark, d)
        rows = {(r["k"], r["v"], r["p"]) for r in out.collect()}
        assert rows == {(1, "a", 10), (2, "b", 10), (3, "c", 20)}
        assert dict(out.dtypes)["p"] == "int"

    def test_checkpoint_replay(self, spark, tmp_path):
        """_last_checkpoint + parquet checkpoint + later JSON commits:
        the folded state must equal checkpoint ∘ tail."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import (LongType, StructField,
                                       StructType)

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        log = os.path.join(d, "_delta_log")
        os.makedirs(log)
        self._write_parquet(spark, d, {"k": [1, 2]}, "f1.parquet")
        self._write_parquet(spark, d, {"k": [3, 4]}, "f2.parquet")
        self._write_parquet(spark, d, {"k": [5]}, "f3.parquet")
        schema = StructType([StructField("k", LongType())])
        meta = {"id": "x", "format": {"provider": "parquet"},
                "schemaString": schema.json(),
                "partitionColumns": []}
        # checkpoint at v1: state = {f1, f2} (f0's add of f0.parquet
        # already removed — the checkpoint is the FOLD, so the removed
        # file simply does not appear)
        rows = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
             "metaData": None, "add": None, "remove": None},
            {"protocol": None, "metaData": meta, "add": None,
             "remove": None},
            {"protocol": None, "metaData": None,
             "add": {"path": "f1.parquet",
                     "partitionValues": {"__none": None},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True, "stats": None},
             "remove": None},
            {"protocol": None, "metaData": None,
             "add": {"path": "f2.parquet",
                     "partitionValues": {"__none": None},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True, "stats": None},
             "remove": None},
        ]
        pq.write_table(pa.Table.from_pylist(rows),
                       os.path.join(log, f"{1:020d}.checkpoint.parquet"))
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 1, "size": len(rows)}, fh)
        # v2: remove f1, add f3
        with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
            fh.write(json.dumps({"remove": {
                "path": "f1.parquet", "deletionTimestamp": 0,
                "dataChange": True}}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "f3.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
        out = read_delta(spark, d)
        assert sorted(r["k"] for r in out.collect()) == [3, 4, 5]

    def test_protocol_refusal(self, spark, tmp_path):
        import pytest

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        os.makedirs(os.path.join(d, "_delta_log"))
        with open(os.path.join(d, "_delta_log",
                               f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                              "minWriterVersion": 7}})
                     + "\n")
        with pytest.raises(ValueError, match="minReaderVersion"):
            read_delta(spark, d)


class TestDeltaPartitionedExport:
    def test_partitioned_table_roundtrip(self, spark, tmp_path):
        """A hive-partitioned warehouse table exports with Delta's own
        partition layout: data files EXCLUDE the partition column, the
        p=v directories persist, partitionValues ride the add actions,
        and the replay reader reattaches typed columns."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = ToStoreSpark(spark, warehouse=wh)
        df = spark.createDataFrame(
            [(f"k{i}", i % 3, i) for i in range(30)],
            "id string, bucket int, n int")
        db.register_table("pt", df=df, partition_by=["bucket"])
        db.flush()
        export_delta(db, "pt", dest)
        log = os.path.join(dest, "_delta_log", f"{0:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        meta = next(a["metaData"] for a in actions if "metaData" in a)
        assert meta["partitionColumns"] == ["bucket"]
        adds = [a["add"] for a in actions if "add" in a]
        assert {a["partitionValues"]["bucket"] for a in adds} == \
            {"0", "1", "2"}
        # data files exclude the partition column (Delta's layout)
        import pyarrow.parquet as pq
        from urllib.parse import unquote
        f0 = os.path.join(dest, unquote(adds[0]["path"]))
        assert "bucket" not in pq.ParquetFile(f0).schema_arrow.names
        back = read_delta(spark, dest)
        assert _collect_sorted(back) == _collect_sorted(db.df("pt"))
        assert dict(back.dtypes)["bucket"] == "int"
        # append epoch -> add-only commit, still partitioned
        db.batch_insert("pt", [{"id": "z1", "bucket": 1, "n": 99},
                               {"id": "z2", "bucket": 7, "n": 98}])
        db.flush()
        rep = export_delta(db, "pt", dest, mode="update")
        assert rep["commit"] == "append" and rep["rows"] == 2
        back2 = read_delta(spark, dest)
        assert _collect_sorted(back2) == _collect_sorted(db.df("pt"))
        assert read_delta(spark, dest, version=0).count() == 30
        # r11-verdict scalability order: the partitioned read is ONE
        # partition-discovered scan, not a per-tuple unionByName fold
        plan = back2._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert "Union" not in plan

    def test_nonhive_foreign_layout_keeps_log_values(self, spark,
                                                     tmp_path):
        """A foreign Delta table whose files do NOT sit in hive dirs
        (partition data only in the log) must keep the log-driven
        grouped read — partition values come from partitionValues,
        never from paths."""
        from pyspark.sql.types import (IntegerType, LongType,
                                       StructField, StructType)

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        log = os.path.join(d, "_delta_log")
        os.makedirs(log)
        for name, ks in (("f1.parquet", [1, 2]), ("f2.parquet", [3])):
            spark.createDataFrame([(k,) for k in ks], "k long") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(d, "_stage"))
            import glob as _g
            import shutil as _sh
            part = _g.glob(os.path.join(d, "_stage", "*.parquet"))[0]
            _sh.move(part, os.path.join(d, name))
        schema = StructType([StructField("k", LongType()),
                             StructField("p", IntegerType())])
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
            fh.write(json.dumps({"metaData": {
                "id": "x", "format": {"provider": "parquet"},
                "schemaString": schema.json(),
                "partitionColumns": ["p"]}}) + "\n")
            for name, pv in (("f1.parquet", "10"), ("f2.parquet", "20")):
                fh.write(json.dumps({"add": {
                    "path": name, "partitionValues": {"p": pv},
                    "size": 1, "modificationTime": 0,
                    "dataChange": True}}) + "\n")
        out = read_delta(spark, d)
        rows = {(r["k"], r["p"]) for r in out.collect()}
        assert rows == {(1, 10), (2, 10), (3, 20)}


class TestDeltaColumnMapping:
    """'name'-mode column mapping (PROTOCOL.md): modern Delta tables
    store PHYSICAL uuid-ish column names in the parquet files; logical
    names + per-field delta.columnMapping.physicalName metadata live in
    the schemaString.  The replay reader resolves them; 'id' mode and
    deletion vectors still refuse."""

    def _mapped_table(self, spark, d, partitioned=False):
        import glob as _g
        import shutil as _sh
        log = os.path.join(d, "_delta_log")
        os.makedirs(log)
        # physical parquet: col-k1 long, col-n1 struct<col-a1 string>
        for name, ks in (("f1.parquet", [1, 2]), ("f2.parquet", [3])):
            spark.createDataFrame(
                [(k, (f"s{k}",)) for k in ks],
                "`col-k1` long, `col-n1` struct<`col-a1`: string>") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(d, "_stage"))
            part = _g.glob(os.path.join(d, "_stage", "*.parquet"))[0]
            _sh.move(part, os.path.join(d, name))
        schema_json = {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName":
                                  "col-k1"}},
                {"name": "info", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName":
                                  "col-n1"},
                 "type": {"type": "struct", "fields": [
                     {"name": "a", "type": "string", "nullable": True,
                      "metadata": {"delta.columnMapping.id": 3,
                                   "delta.columnMapping.physicalName":
                                       "col-a1"}}]}},
            ],
        }
        pcols = []
        if partitioned:
            schema_json["fields"].append(
                {"name": "p", "type": "integer", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 4,
                              "delta.columnMapping.physicalName":
                                  "col-p1"}})
            pcols = ["p"]
        meta = {"id": "x", "format": {"provider": "parquet"},
                "schemaString": json.dumps(schema_json),
                "partitionColumns": pcols,
                "configuration": {"delta.columnMapping.mode": "name",
                                  "delta.columnMapping.maxColumnId": "4"}}
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            for name, pv in (("f1.parquet", "10"), ("f2.parquet", "20")):
                add = {"path": name, "partitionValues":
                       ({"col-p1": pv} if partitioned else {}),
                       "size": 1, "modificationTime": 0,
                       "dataChange": True}
                fh.write(json.dumps({"add": add}) + "\n")

    def test_name_mapping_flat(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        self._mapped_table(spark, d)
        out = read_delta(spark, d)
        assert [f.name for f in out.schema.fields] == ["k", "info"]
        assert out.schema["info"].dataType.fieldNames() == ["a"], \
            "nested physical names must rename too"
        rows = {(r["k"], r["info"]["a"]) for r in out.collect()}
        assert rows == {(1, "s1"), (2, "s2"), (3, "s3")}

    def test_name_mapping_partitioned(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        self._mapped_table(spark, d, partitioned=True)
        out = read_delta(spark, d)
        rows = {(r["k"], r["info"]["a"], r["p"]) for r in out.collect()}
        assert rows == {(1, "s1", 10), (2, "s2", 10), (3, "s3", 20)}
        assert dict(out.dtypes)["p"] == "int"

    def test_id_mode_and_dv_features_refuse(self, spark, tmp_path):
        import pytest

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        self._mapped_table(spark, d)
        log = os.path.join(d, "_delta_log", f"{0:020d}.json")
        # id MODE is supported since r13 — the refusal under test is
        # an id-mode table whose schema carries NO field ids (mode
        # flipped + ids stripped; the escaped form hits schemaString)
        lines = (open(log).read()
                 .replace('"name"', '"id"')
                 .replace('\\"delta.columnMapping.id\\"',
                          '\\"strippedKey\\"'))
        open(log, "w").write(lines)
        with pytest.raises(ValueError, match="delta.columnMapping.id"):
            read_delta(spark, d)
        # mrv=3 + columnMapping alone is fine; + deletionVectors refuses
        d2 = str(tmp_path / "ext2")
        self._mapped_table(spark, d2)
        log2 = os.path.join(d2, "_delta_log", f"{0:020d}.json")
        lines = open(log2).read().replace(
            json.dumps({"protocol": {"minReaderVersion": 2,
                                     "minWriterVersion": 5}}),
            json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"]}}))
        open(log2, "w").write(lines)
        assert read_delta(spark, d2).count() == 3
        # (v2Checkpoint is supported since r13, typeWidening since
        # late r17 — use a genuinely unimplemented feature for the
        # refusal probe)
        lines = lines.replace('["columnMapping"]',
                              '["columnMapping", "variantType"]')
        open(log2, "w").write(lines)
        with pytest.raises(ValueError, match="variantType"):
            read_delta(spark, d2)


def _ser_dv(positions):
    """Test-side RoaringBitmapArray serializer (array containers only)
    — the parser is ALSO pinned against hand-computed byte fixtures
    below, so this round-trip is not the only evidence."""
    import struct
    from collections import defaultdict
    by64 = defaultdict(lambda: defaultdict(list))
    for v in sorted(positions):
        by64[v >> 32][(v >> 16) & 0xFFFF].append(v & 0xFFFF)
    out = struct.pack("<i", 1681511377) + struct.pack("<q", len(by64))
    for k64, conts in sorted(by64.items()):
        out += struct.pack("<i", k64)
        body = struct.pack("<ii", 12346, len(conts))
        for k16, vals in sorted(conts.items()):
            body += struct.pack("<HH", k16, len(vals) - 1)
        off0 = 8 + 8 * len(conts)
        offs, data = b"", b""
        for k16, vals in sorted(conts.items()):
            offs += struct.pack("<I", off0 + len(data))
            data += struct.pack(f"<{len(vals)}H", *vals)
        out += body + offs + data
    return out


class TestDeltaDeletionVectorDecode:
    def test_hand_computed_array_fixture(self):
        """Byte-level pin of the portable format: magic + 1 bitmap,
        key 0, no-run cookie, containers {0: [1,3], 1: [4464]} —
        positions {1, 3, 70000}."""
        import struct

        from tostore_spark.plans.delta_dv import _parse_bitmap_array
        blob = (struct.pack("<i", 1681511377) + struct.pack("<q", 1)
                + struct.pack("<i", 0)
                + struct.pack("<ii", 12346, 2)
                + struct.pack("<HH", 0, 1) + struct.pack("<HH", 1, 0)
                + struct.pack("<II", 24, 28)
                + struct.pack("<HH", 1, 3) + struct.pack("<H", 4464))
        assert _parse_bitmap_array(blob) == [1, 3, 70000]
        # test serializer agrees with the hand fixture byte-for-byte
        assert _ser_dv([1, 3, 70000]) == blob

    def test_hand_computed_run_fixture(self):
        """Run-container variant: cookie 12347, 1 container (count in
        the upper cookie bits), run bitset 0b1, no offsets (<4
        containers), one run start=5 len=4 → positions 5..9."""
        import struct

        from tostore_spark.plans.delta_dv import _parse_bitmap_array
        blob = (struct.pack("<i", 1681511377) + struct.pack("<q", 1)
                + struct.pack("<i", 0)
                + struct.pack("<i", 12347 | (0 << 16))
                + bytes([0b1])
                + struct.pack("<HH", 0, 4)
                + struct.pack("<H", 1) + struct.pack("<HH", 5, 4))
        assert _parse_bitmap_array(blob) == [5, 6, 7, 8, 9]

    def test_bitmap_container_and_high_key(self):
        import struct

        from tostore_spark.plans.delta_dv import _parse_bitmap_array
        # 5000 even values → bitmap container (card > 4096): bytes of
        # 0b01010101; plus a second 64-bit key to pin the << 32 math
        bits = bytes([0x55] * 1250) + bytes(8192 - 1250)
        blob = (struct.pack("<i", 1681511377) + struct.pack("<q", 2)
                + struct.pack("<i", 0)
                + struct.pack("<ii", 12346, 1)
                + struct.pack("<HH", 0, 4999)
                + struct.pack("<I", 16) + bits
                + struct.pack("<i", 3)          # 64-bit key 3
                + struct.pack("<ii", 12346, 1)
                + struct.pack("<HH", 0, 0)
                + struct.pack("<I", 16) + struct.pack("<H", 7))
        vals = _parse_bitmap_array(blob)
        assert vals[:3] == [0, 2, 4] and len(vals) == 5001
        assert vals[4999] == 9998 and vals[5000] == (3 << 32) | 7

    def test_corrupt_refuses(self):
        import pytest

        from tostore_spark.plans.delta_dv import _parse_bitmap_array
        with pytest.raises(ValueError, match="magic"):
            _parse_bitmap_array(b"\x00" * 16)
        with pytest.raises(ValueError, match="trailing"):
            _parse_bitmap_array(_ser_dv([1]) + b"\x00")


class TestDeltaDeletionVectorRead:
    def _dv_table(self, spark, d, dv_desc):
        import glob as _g
        import shutil as _sh
        log = os.path.join(d, "_delta_log")
        os.makedirs(log)
        spark.createDataFrame([(k,) for k in range(10)], "k long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(d, "_stage"))
        part = _g.glob(os.path.join(d, "_stage", "*.parquet"))[0]
        _sh.move(part, os.path.join(d, "f1.parquet"))
        from pyspark.sql.types import LongType, StructField, StructType
        schema = StructType([StructField("k", LongType())])
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"]}}) + "\n")
            fh.write(json.dumps({"metaData": {
                "id": "x", "format": {"provider": "parquet"},
                "schemaString": schema.json(),
                "partitionColumns": []}}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "f1.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 0, "dataChange": True,
                "deletionVector": dv_desc}}) + "\n")

    def test_inline_dv_filters_rows(self, spark, tmp_path):
        import base64

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        blob = _ser_dv([1, 3, 7])
        self._dv_table(spark, d, {
            "storageType": "i",
            "pathOrInlineDv": base64.b85encode(blob).decode(),
            "sizeInBytes": len(blob), "cardinality": 3})
        out = sorted(r["k"] for r in read_delta(spark, d).collect())
        assert out == [0, 2, 4, 5, 6, 8, 9], \
            "rows at positions 1, 3, 7 must be deleted"

    def test_ondisk_uuid_dv_with_checksum(self, spark, tmp_path):
        import base64
        import struct
        import uuid
        import zlib

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        blob = _ser_dv([0, 9])
        u = uuid.uuid4()
        dv_desc = {"storageType": "u",
                   "pathOrInlineDv": base64.b85encode(u.bytes).decode(),
                   "offset": 1, "sizeInBytes": len(blob),
                   "cardinality": 2}
        self._dv_table(spark, d, dv_desc)
        with open(os.path.join(d, f"deletion_vector_{u}.bin"),
                  "wb") as fh:
            fh.write(b"\x01")                       # format version
            fh.write(struct.pack(">i", len(blob)))
            fh.write(blob)
            fh.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
        out = sorted(r["k"] for r in read_delta(spark, d).collect())
        assert out == list(range(1, 9))
        # corrupt one data byte → checksum refusal, never wrong rows
        path = os.path.join(d, f"deletion_vector_{u}.bin")
        raw = bytearray(open(path, "rb").read())
        raw[7] ^= 0xFF
        open(path, "wb").write(bytes(raw))
        import pytest
        with pytest.raises(ValueError, match="checksum|magic|bytes"):
            read_delta(spark, d).collect()

    def test_cardinality_mismatch_refuses(self, spark, tmp_path):
        import base64

        import pytest

        from tostore_spark.plans.delta_export import read_delta
        d = str(tmp_path / "ext")
        blob = _ser_dv([1, 3])
        self._dv_table(spark, d, {
            "storageType": "i",
            "pathOrInlineDv": base64.b85encode(blob).decode(),
            "sizeInBytes": len(blob), "cardinality": 5})
        with pytest.raises(ValueError, match="cardinality"):
            read_delta(spark, d)


class TestDeltaDvExport:
    def test_delete_epoch_commits_dv_not_refresh(self, spark, tmp_path):
        """deletion_vectors=True: a pure-delete store epoch exports as
        ONE merge-on-read commit — inline roaring descriptor on the
        existing file, protocol upgraded, every version readable —
        instead of a full remove+add refresh."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=20)
        export_delta(db, "notes", dest, target_files=1)       # v0
        db.delete("notes").where("id", "IN",
                                 ["k003", "k007", "k011"]).execute()
        db.flush()                                   # del epoch
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv" and rep["version"] == 1
        assert rep["dv_positions"] == 3 and rep["files"] == 0, \
            "a 3-row delete must not restage the table"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        protos = [a["protocol"] for a in actions if "protocol" in a]
        assert protos and protos[0]["minReaderVersion"] == 3
        assert "deletionVectors" in protos[0]["readerFeatures"]
        dv_adds = [a["add"] for a in actions
                   if "add" in a and a["add"].get("deletionVector")]
        assert len(dv_adds) == 1
        assert dv_adds[0]["deletionVector"]["storageType"] == "i"
        assert dv_adds[0]["deletionVector"]["cardinality"] == 3
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        assert read_delta(spark, dest, version=0).count() == 20
        # second delete epoch: descriptor accumulates
        db.delete("notes").where("id", "=", "k000").execute()
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)
        assert rep2["commit"] == "dv"
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        assert read_delta(spark, dest).count() == 16
        assert read_delta(spark, dest, version=1).count() == 17

    def test_replace_epoch_and_del_after_seg(self, spark, tmp_path):
        """Upserts (replace epochs: del+seg pairs) and a delete that
        lands on a segment staged in the SAME update both export
        incrementally — positions are probed in recipe order, so a
        delete never touches a file staged after it."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        export_delta(db, "notes", dest, target_files=1)       # v0
        db.batch_upsert("notes", [{"id": "k004", "body": "EDIT"},
                                  {"id": "zz", "body": "NEW", "n": 99}])
        db.flush()                                   # replace epoch
        db.batch_insert("notes", [{"id": f"y{i}", "body": "late",
                                   "n": 200 + i} for i in range(4)])
        db.flush()                                   # seg epoch
        db.delete("notes").where("id", "IN", ["y1", "k008"]).execute()
        db.flush()                                   # del epoch
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        assert rep["rows"] == 6, "replace + insert rows staged"
        back = read_delta(spark, dest)
        assert _collect_sorted(back) == _collect_sorted(db.df("notes"))
        got = {r["id"]: r["body"] for r in back.collect()}
        assert got["k004"] == "EDIT" and "y1" not in got \
            and "k008" not in got and got["y2"] == "late"
        # the staged segment hit by the later delete carries its own
        # inline descriptor (del-after-seg within one tail)
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        fresh_dv = [a["add"] for a in actions
                    if "add" in a and a["add"].get("deletionVector")
                    and a["add"]["path"].startswith("v00001-")]
        assert fresh_dv, "fresh segment must carry its own descriptor"

    def test_fully_deleted_file_removes(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=6)
        export_delta(db, "notes", dest, target_files=1)
        db.delete("notes").where(
            "id", "IN", [f"k{i:03d}" for i in range(6)]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        actions = [json.loads(x) for x in open(log)]
        assert any("remove" in a for a in actions)
        assert not any("add" in a and a["add"].get("deletionVector")
                       for a in actions), \
            "a fully-deleted file is a plain remove, not a DV add"
        assert read_delta(spark, dest).count() == 0
        assert read_delta(spark, dest, version=0).count() == 6

    def test_partitioned_table_falls_back_to_refresh(self, spark,
                                                     tmp_path):
        """Partitioned tables: the STORE's flush rewrites deletes
        (no deletion-vector fast path with partition_by), so a
        partitioned update is never seg/del-extending — the export
        correctly lands on the always-right refresh, flag or no
        flag."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = ToStoreSpark(spark, warehouse=wh)
        df = spark.createDataFrame(
            [(f"k{i}", i % 3, i) for i in range(30)],
            "id string, bucket int, n int")
        db.register_table("pt", df=df, partition_by=["bucket"])
        db.flush()
        export_delta(db, "pt", dest)                         # v0
        db.delete("pt").where("id", "IN", ["k4", "k10", "k17"]) \
          .execute()
        db.flush()
        rep = export_delta(db, "pt", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "refresh"
        back = read_delta(spark, dest)
        assert _collect_sorted(back) == _collect_sorted(db.df("pt"))
        assert back.count() == 27

    def test_large_vector_spills_to_bin_file(self, spark, tmp_path,
                                             monkeypatch):
        """Descriptors over INLINE_MAX_BYTES ride a
        deletion_vector_<uuid>.bin sidecar ('u' storage, CRC-framed)
        instead of inflating the JSON log; the reader resolves it."""
        import glob

        from tostore_spark.plans import delta_dv
        from tostore_spark.plans.delta_export import read_delta
        monkeypatch.setattr(delta_dv, "INLINE_MAX_BYTES", 8)
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=12)
        export_delta(db, "notes", dest, target_files=1)
        db.delete("notes").where("id", "IN",
                                 ["k001", "k005", "k009"]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        desc = next(a["add"]["deletionVector"]
                    for a in (json.loads(x) for x in open(log))
                    if "add" in a and a["add"].get("deletionVector"))
        assert desc["storageType"] == "u" and desc["offset"] == 1
        assert glob.glob(os.path.join(dest, "deletion_vector_*.bin"))
        assert read_delta(spark, dest).count() == 9
        assert sorted(r["id"] for r in
                      read_delta(spark, dest).collect()) == \
            sorted(f"k{i:03d}" for i in range(12)
                   if i not in (1, 5, 9))

    def test_commit_claim_is_atomic(self, spark, tmp_path):
        """Two writers racing for the same version: the loser's
        os.link fails — the winner's fully-written commit is never
        clobbered (put-if-absent, no check-then-rename window)."""
        import pytest

        from tostore_spark.plans.delta_export import _write_commit
        d = str(tmp_path / "dx")
        _write_commit(d, 5, [{"metaData": {"id": "winner"}}])
        with pytest.raises(ValueError, match="concurrent writer"):
            _write_commit(d, 5, [{"metaData": {"id": "loser"}}])
        kept = [json.loads(x) for x in
                open(os.path.join(d, "_delta_log", f"{5:020d}.json"))]
        assert kept == [{"metaData": {"id": "winner"}}]
        assert not [f for f in
                    os.listdir(os.path.join(d, "_delta_log"))
                    if ".tmp-" in f], "loser's tmp must be cleaned up"

    def test_default_stays_refresh_and_checkpoint_upgrades(self, spark,
                                                           tmp_path):
        """Without the opt-in flag, deletes still refresh (old readers
        keep working); and a checkpoint folded past a DV commit carries
        the UPGRADED protocol."""
        import pyarrow.parquet as pq

        from tostore_spark.plans.delta_export import (_write_checkpoint,
                                                      read_delta)
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=8)
        export_delta(db, "notes", dest, target_files=1)
        db.delete("notes").where("id", "=", "k002").execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update")
        assert rep["commit"] == "refresh", \
            "deletion vectors must stay opt-in"
        db.delete("notes").where("id", "=", "k003").execute()
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True)
        assert rep2["commit"] == "dv"
        _write_checkpoint(dest, rep2["version"])
        ck = os.path.join(dest, "_delta_log",
                          f"{rep2['version']:020d}.checkpoint.parquet")
        rows = pq.read_table(ck).to_pylist()
        proto = next(r["protocol"] for r in rows
                     if r.get("protocol") is not None)
        assert proto["minReaderVersion"] == 3
        assert "deletionVectors" in proto["readerFeatures"]
        # replay FROM the checkpoint applies the vectors
        assert read_delta(spark, dest).count() == 6


class TestDeltaVacuum:
    def test_vacuum_reclaims_dead_files(self, spark, tmp_path):
        """Refresh-heavy histories accumulate dead parquet (old
        versions' files stay for time travel): vacuum_delta removes
        files referenced ONLY by vacuumed-out versions, keeps every
        retained version exact, and never touches the log."""
        import glob

        from tostore_spark.plans.delta_export import (read_delta,
                                                      vacuum_delta)
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        export_delta(db, "notes", dest, target_files=1)       # v0
        for i, kill in enumerate(("k000", "k001")):          # v1, v2
            db.delete("notes").where("id", "=", kill).execute()
            db.flush()
            rep = export_delta(db, "notes", dest, mode="update")
            assert rep["commit"] == "refresh"
        before = glob.glob(os.path.join(dest, "*.parquet"))
        log2 = os.path.join(dest, "_delta_log", f"{2:020d}.json")
        live = {a["add"]["path"] for a in
                (json.loads(x) for x in open(log2)) if "add" in a}
        assert len(before) > len(live), \
            "each refresh leaves its predecessor's files"
        dry = vacuum_delta(dest, keep_versions=1, dry_run=True)
        assert len(dry["deleted"]) == len(before) - len(live)
        assert len(glob.glob(os.path.join(dest, "*.parquet"))) == \
            len(before), "dry_run must not delete"
        rep = vacuum_delta(dest, keep_versions=1)
        assert sorted(rep["deleted"]) == sorted(dry["deleted"])
        left = {os.path.basename(f) for f in
                glob.glob(os.path.join(dest, "*.parquet"))}
        assert left == {os.path.basename(p) for p in live}
        assert read_delta(spark, dest).count() == 8
        # the log is intact; replaying a vacuumed version fails at the
        # missing file (exactly Delta's behavior), not silently
        assert os.path.exists(os.path.join(
            dest, "_delta_log", f"{0:020d}.json"))

    def test_vacuum_keeps_dv_sidecars_of_retained_versions(
            self, spark, tmp_path, monkeypatch):
        import glob

        from tostore_spark.plans import delta_dv
        from tostore_spark.plans.delta_export import (read_delta,
                                                      vacuum_delta)
        monkeypatch.setattr(delta_dv, "INLINE_MAX_BYTES", 8)
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=10)
        export_delta(db, "notes", dest, target_files=1)       # v0
        db.delete("notes").where("id", "=", "k003").execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)          # v1: dv
        assert rep["commit"] == "dv"
        assert glob.glob(os.path.join(dest, "deletion_vector_*.bin"))
        out = vacuum_delta(dest, keep_versions=1)
        assert out["deleted"] == [], \
            "the single data file and its DV sidecar are both live"
        assert glob.glob(os.path.join(dest, "deletion_vector_*.bin"))
        assert read_delta(spark, dest).count() == 9


class TestDeltaCheckpointWrite:
    def test_periodic_checkpoint_replays_identically(self, spark,
                                                     tmp_path):
        """r11-verdict rung 2: every 10th update commit writes a
        classic checkpoint + _last_checkpoint.  The folded checkpoint
        must (a) replay identically to the full JSON log, (b) carry
        the tail commits on top, and (c) be SUFFICIENT — replay
        succeeds even with every pre-checkpoint JSON commit gone."""
        import shutil

        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=4)
        export_delta(db, "notes", dest)                      # v0
        for i in range(12):                                 # v1..v12
            db.batch_insert("notes", [{"id": f"a{i:02d}",
                                       "body": "b", "n": 50 + i}])
            db.flush()
            rep = export_delta(db, "notes", dest, mode="update")
            assert rep["commit"] == "append"
        log = os.path.join(dest, "_delta_log")
        ck = os.path.join(log, f"{10:020d}.checkpoint.parquet")
        assert os.path.exists(ck), "v10 must have checkpointed"
        lc = json.load(open(os.path.join(log, "_last_checkpoint")))
        assert lc["version"] == 10
        full = _collect_sorted(read_delta(spark, dest))
        assert len(full) == 16
        assert full == _collect_sorted(db.df("notes"))
        # time travel BELOW the checkpoint still replays from JSON
        assert read_delta(spark, dest, version=5).count() == 9
        # checkpoint sufficiency: drop JSON commits 0..10 — replay must
        # come out identical from checkpoint + tail (v11, v12) alone
        stash = str(tmp_path / "stash")
        os.makedirs(stash)
        for v in range(11):
            shutil.move(os.path.join(log, f"{v:020d}.json"),
                        os.path.join(stash, f"{v:020d}.json"))
        assert _collect_sorted(read_delta(spark, dest)) == full


class TestDeltaDvExportPartitioned:
    def test_partitioned_pk_table_commits_dv(self, spark, tmp_path):
        """r13: the store's partitioned seg/del tails flow through the
        DV export path — hive-laid-out adds, basePath probes,
        basename-keyed positions — so a partitioned delete exports as
        a merge-on-read commit, not a refresh."""
        from tostore_spark.plans.delta_export import read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = ToStoreSpark(spark, warehouse=wh)
        sch = TableSchema(
            name="pt", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="bucket", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])
        db.register_table("pt", df=spark.createDataFrame(
            [(f"k{i:02d}", f"0{i % 3}", i) for i in range(30)],
            "id string, bucket string, n int"),
            schema=sch, partition_by=["bucket"])
        db.flush()
        export_delta(db, "pt", dest)                         # v0
        db.delete("pt").where("id", "IN", ["k04", "k10", "k17"]) \
          .execute()
        db.flush()                          # partitioned del epoch
        rep = export_delta(db, "pt", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv", rep
        assert rep["dv_positions"] == 3 and rep["files"] == 0
        back = read_delta(spark, dest)
        assert _collect_sorted(back) == _collect_sorted(db.df("pt"))
        assert back.count() == 27
        # upsert (replace epoch) keeps the chain dv-extending too
        db.batch_upsert("pt", [{"id": "k05", "n": 999},
                               {"id": "zz", "bucket": "01", "n": 77}])
        db.flush()
        rep2 = export_delta(db, "pt", dest, mode="update",
                            deletion_vectors=True)
        assert rep2["commit"] == "dv", rep2
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("pt"))

    def test_dv_add_stats_loose_bounds(self, spark, tmp_path):
        """Spec: an add that carries a deletionVector keeps physical
        numRecords but must declare tightBounds=false — its min/max
        may cover values that exist only in deleted rows."""
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=12)
        export_delta(db, "notes", dest, target_files=1)
        db.delete("notes").where("id", "=", "k011").execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        dv_adds = [a["add"] for a in map(json.loads, open(log))
                   if "add" in a and a["add"].get("deletionVector")]
        assert dv_adds
        for add in dv_adds:
            st = json.loads(add["stats"])
            assert st.get("tightBounds") is False
            assert st["numRecords"] == 12      # physical, not live


class TestCheckpointSpecSchema:
    def test_checkpoint_parquet_uses_map_types(self, spark, tmp_path):
        """The classic-checkpoint parquet must carry partitionValues /
        configuration / format.options as map<string,string> and emit
        them even when empty (required add field) — the shape
        delta-spark refuses to read otherwise."""
        import pyarrow.parquet as pq
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=4)
        export_delta(db, "notes", dest)
        for i in range(10):
            db.batch_insert("notes", [{"id": f"a{i:02d}", "body": "b",
                                       "n": 50 + i}])
            db.flush()
            export_delta(db, "notes", dest, mode="update")
        ck = os.path.join(dest, "_delta_log",
                          f"{10:020d}.checkpoint.parquet")
        schema = pq.read_schema(ck)
        import pyarrow as pa
        add_t = schema.field("add").type
        pv = add_t.field("partitionValues").type
        assert pa.types.is_map(pv), pv
        meta_t = schema.field("metaData").type
        assert pa.types.is_map(meta_t.field("configuration").type)
        fmt_t = meta_t.field("format").type
        assert pa.types.is_map(fmt_t.field("options").type)
        # unpartitioned adds still carry partitionValues (empty map)
        tbl = pq.read_table(ck)
        adds = [r["add"] for r in tbl.to_pylist()
                if r.get("add") is not None]
        assert adds and all(r["partitionValues"] == [] for r in adds)


class TestV2Checkpoints:
    """Hand-constructed v2-checkpointed logs, shaped per PROTOCOL.md
    'V2 Spec' — UUID-named checkpoint manifest (json or parquet),
    sidecar file-action parquets under _delta_log/_sidecars/ — must
    replay identically to the JSON-commit-only fold."""

    def _write_data(self, root, name, vals):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({"x": pa.array(vals, pa.int64())}),
                       os.path.join(root, name))

    def _base_log(self, root):
        """v0: protocol(v2Checkpoint)+meta+add a; v1: add b."""
        os.makedirs(os.path.join(root, "_delta_log"))
        self._write_data(root, "a.parquet", [1, 2])
        self._write_data(root, "b.parquet", [3])
        meta = {"id": "fixture", "format": {"provider": "parquet",
                                            "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": [
                        {"name": "x", "type": "long",
                         "nullable": True, "metadata": {}}]}),
                "partitionColumns": [], "configuration": {}}
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["v2Checkpoint"],
                 "writerFeatures": ["v2Checkpoint"]}
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.write(json.dumps({"protocol": proto}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "a.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"add": {
                "path": "b.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
        return log, proto, meta

    def _tail_commit(self, root):
        """v2: remove a, add c — replay past the checkpoint."""
        self._write_data(root, "c.parquet", [4, 5])
        log = os.path.join(root, "_delta_log")
        with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
            fh.write(json.dumps({"remove": {
                "path": "a.parquet", "deletionTimestamp": 0,
                "dataChange": True}}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "c.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")

    def test_v2_parquet_manifest_with_sidecar(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tostore_spark.plans.delta_export import read_delta
        root = str(tmp_path / "t")
        os.makedirs(root)
        log, proto, meta = self._base_log(root)
        # v2 checkpoint at version 1: manifest holds non-file actions
        # + one sidecar reference; the sidecar holds the two adds
        sdir = os.path.join(log, "_sidecars")
        os.makedirs(sdir)
        add_t = pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()), ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_())])
        sc_rows = [{"add": {"path": p, "partitionValues": {},
                            "size": 1, "modificationTime": 0,
                            "dataChange": True}, "remove": None}
                   for p in ("a.parquet", "b.parquet")]
        sc_schema = pa.schema([
            ("add", add_t),
            ("remove", pa.struct([("path", pa.string()),
                                  ("deletionTimestamp", pa.int64()),
                                  ("dataChange", pa.bool_())]))])
        pq.write_table(pa.Table.from_pylist(sc_rows, schema=sc_schema),
                       os.path.join(sdir, "sc-1.parquet"))
        ck_rows = [
            {"protocol": proto}, {"metaData": meta},
            {"checkpointMetadata": {"version": 1}},
            {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1,
                         "modificationTime": 0}}]
        # explicit spec-shaped schema (map<string,string> config/
        # options), exactly what a real v2 writer emits
        smap = pa.map_(pa.string(), pa.string())
        ck_schema = pa.schema([
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string()))])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string()),
                                      ("options", smap)])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", smap)])),
            ("checkpointMetadata", pa.struct([
                ("version", pa.int64())])),
            ("sidecar", pa.struct([
                ("path", pa.string()), ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64())]))])
        cols = ("protocol", "metaData", "checkpointMetadata", "sidecar")
        norm = [{c: r.get(c) for c in cols} for r in ck_rows]
        pq.write_table(
            pa.Table.from_pylist(norm, schema=ck_schema),
            os.path.join(log, f"{1:020d}.checkpoint.abcd1234.parquet"))
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 1, "size": 4}, fh)
        self._tail_commit(root)
        got = sorted(r["x"] for r in read_delta(spark, root).collect())
        assert got == [3, 4, 5]
        # identical to the JSON-only fold (checkpoint bypassed)
        os.unlink(os.path.join(log, "_last_checkpoint"))
        ref = sorted(r["x"] for r in read_delta(spark, root).collect())
        assert got == ref
        # time travel below the checkpoint replays from JSON commits
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 1, "size": 4}, fh)
        assert sorted(r["x"] for r in
                      read_delta(spark, root, version=0).collect()) \
            == [1, 2]

    def test_v2_json_manifest_inline_actions(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        root = str(tmp_path / "t")
        os.makedirs(root)
        log, proto, meta = self._base_log(root)
        name = f"{1:020d}.checkpoint.00aa00aa.json"
        with open(os.path.join(log, name), "w") as fh:
            fh.write(json.dumps({"checkpointMetadata": {"version": 1}})
                     + "\n")
            fh.write(json.dumps({"protocol": proto}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            for p in ("a.parquet", "b.parquet"):
                fh.write(json.dumps({"add": {
                    "path": p, "partitionValues": {}, "size": 1,
                    "modificationTime": 0, "dataChange": True}}) + "\n")
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 1, "size": 5}, fh)
        self._tail_commit(root)
        got = sorted(r["x"] for r in read_delta(spark, root).collect())
        assert got == [3, 4, 5]

    def test_v2_version_mismatch_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from tostore_spark.plans.delta_export import read_delta
        root = str(tmp_path / "t")
        os.makedirs(root)
        log, proto, meta = self._base_log(root)
        name = f"{1:020d}.checkpoint.00aa00aa.json"
        with open(os.path.join(log, name), "w") as fh:
            fh.write(json.dumps({"checkpointMetadata": {"version": 7}})
                     + "\n")
            fh.write(json.dumps({"protocol": proto}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
        with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 1, "size": 3}, fh)
        with _pytest.raises(ValueError, match="checkpointMetadata"):
            read_delta(spark, root)

    def test_unknown_feature_still_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from tostore_spark.plans.delta_export import read_delta
        root = str(tmp_path / "t")
        os.makedirs(root)
        log, proto, meta = self._base_log(root)
        # rewrite v0's protocol with an unsupported feature
        with open(os.path.join(log, f"{0:020d}.json")) as fh:
            lines = fh.readlines()
        bad = dict(proto)
        bad["readerFeatures"] = ["v2Checkpoint", "typeWidening-preview"]
        lines[0] = json.dumps({"protocol": bad}) + "\n"
        with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
            fh.writelines(lines)
        with _pytest.raises(ValueError, match="typeWidening"):
            read_delta(spark, root)


class TestDvExternalProof:
    """Spec-pinned EXTERNAL verification of DV exports (r12 verdict
    order #4, fixture form — no delta library/extension ships in this
    container): an independent reader implemented here directly from
    the public spec texts (RFC-1924 Base85 via stdlib base64.b85decode,
    RoaringBitmapArray portable layout per RoaringFormatSpec, parquet
    via pyarrow — no tostore_spark.plans.delta_dv import anywhere)
    must see exactly the store's post-delete state, and the inline
    descriptor must equal a HAND-WRITTEN byte literal for a known
    position set, so a self-consistent-but-nonstandard encoding
    cannot hide."""

    @staticmethod
    def _spec_parse_bitmap_array(data):
        """Cleanroom parser, transcribed from the spec texts: magic
        int32 LE, bitmap count int64 LE, then per bitmap a key int32
        LE + a standard 32-bit roaring portable bitmap (cookie 12346:
        container count int32, descriptive (key16, card-1) pairs,
        offsets header, array/bitmap payloads; cookie low16 12347:
        run form)."""
        import struct as st
        assert st.unpack_from("<i", data, 0)[0] == 1681511377
        (n_maps,) = st.unpack_from("<q", data, 4)
        pos, out = 12, []
        for _ in range(n_maps):
            (key32,) = st.unpack_from("<i", data, pos)
            pos += 4
            (cookie,) = st.unpack_from("<I", data, pos)
            if (cookie & 0xFFFF) == 12347:
                n = (cookie >> 16) + 1
                pos += 4
                runbits = data[pos:pos + (n + 7) // 8]
                pos += (n + 7) // 8
                has_off = n >= 4
            else:
                assert cookie == 12346, cookie
                (n,) = st.unpack_from("<i", data, pos + 4)
                pos += 8
                runbits = b""
                has_off = True
            desc = []
            for i in range(n):
                k16, cm1 = st.unpack_from("<HH", data, pos)
                desc.append((k16, cm1 + 1))
                pos += 4
            if has_off:
                pos += 4 * n
            for i, (k16, card) in enumerate(desc):
                base = (key32 << 32) | (k16 << 16)
                run = bool(runbits) and bool(
                    (runbits[i // 8] >> (i % 8)) & 1)
                if run:
                    (n_runs,) = st.unpack_from("<H", data, pos)
                    pos += 2
                    for _r in range(n_runs):
                        s, ln = st.unpack_from("<HH", data, pos)
                        pos += 4
                        out.extend(base | v
                                   for v in range(s, s + ln + 1))
                elif card > 4096:
                    bits = data[pos:pos + 8192]
                    pos += 8192
                    out.extend(base | (bi << 3) | b
                               for bi, byte in enumerate(bits)
                               for b in range(8) if (byte >> b) & 1)
                else:
                    vals = st.unpack_from(f"<{card}H", data, pos)
                    pos += 2 * card
                    out.extend(base | v for v in vals)
        assert pos == len(data), (pos, len(data))
        return sorted(out)

    def test_external_reader_sees_post_delete_state(self, spark,
                                                    tmp_path):
        import base64

        import pyarrow.parquet as pq
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        rows = [{"id": f"k{i:03d}", "n": i} for i in range(6)]
        db.batch_insert("notes", rows)
        db.flush()
        export_delta(db, "notes", dest, target_files=1)      # v0
        v0 = [f for f in os.listdir(dest) if f.endswith(".parquet")]
        assert len(v0) == 1
        tbl0 = pq.read_table(os.path.join(dest, v0[0]))
        order = tbl0.column("id").to_pylist()
        assert sorted(order) == [r["id"] for r in rows]
        # delete whatever sits at PHYSICAL rows 1 and 3 — the exported
        # vector must then be exactly the {1, 3} byte literal below
        db.delete("notes").where("id", "IN",
                                 [order[1], order[3]]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        # ---- independent replay: stdlib + pyarrow only --------------
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        adds = [a["add"] for a in map(json.loads, open(log))
                if "add" in a]
        assert len(adds) == 1
        dv = adds[0]["deletionVector"]
        assert dv["storageType"] == "i"
        data = base64.b85decode(dv["pathOrInlineDv"])   # RFC 1924
        assert len(data) == dv["sizeInBytes"]
        positions = self._spec_parse_bitmap_array(data)
        assert len(positions) == dv["cardinality"] == 2
        assert positions == [1, 3]
        # the spec-pinned byte literal for positions {1, 3}, assembled
        # BY HAND from the two format documents:
        #   magic 1681511377 = 0x6439D3D1, int32 LE:  D1 D3 39 64
        #   n 64-bit maps = 1 (int64 LE)   01 00 00 00 00 00 00 00
        #   map key 0 (int32 LE)           00 00 00 00
        #   cookie 12346 = 0x303A LE       3A 30 00 00
        #   container count 1 (int32 LE)   01 00 00 00
        #   (key16=0, card-1=1) uint16 LE  00 00 01 00
        #   offsets header: 8 + 8*1 = 16   10 00 00 00
        #   array payload 1, 3 uint16 LE   01 00 03 00
        expected = bytes.fromhex(
            "d1d339640100000000000000"            # magic, n_maps
            "00000000"                            # map key32
            "3a30000001000000"                    # cookie, n_cont
            "00000100"                            # (key16, card-1)
            "10000000"                            # offset
            "01000300")                           # values 1, 3
        assert data == expected, (data.hex(), expected.hex())
        assert dv["pathOrInlineDv"] == \
            base64.b85encode(expected).decode("ascii")
        # the external view of the table: physical rows minus the
        # decoded positions — must equal the store's own post-delete
        # state exactly
        keep = [i for i in range(tbl0.num_rows) if i not in positions]
        ext = tbl0.take(keep).to_pylist()
        ours = sorted((r["id"], r["n"])
                      for r in db.df("notes").collect())
        assert sorted((r["id"], r["n"]) for r in ext) == ours

    def test_external_reader_bin_sidecar_framing(self, spark,
                                                 tmp_path):
        """Same independent path through the on-disk ('u') form: the
        uuid resolves per spec (last 20 chars Base85 → 16-byte uuid),
        the .bin framing is <version byte 1><size int32 BE><data>
        <crc32 int32 BE>, and the decoded positions reproduce the
        store state."""
        import base64
        import struct as st
        import uuid as _uuid
        import zlib

        import pyarrow.parquet as pq
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=30)
        export_delta(db, "notes", dest, target_files=1)
        # push the vector over the inline cap so the export writes the
        # .bin sidecar form
        import tostore_spark.plans.delta_dv as dvmod
        old_cap = dvmod.INLINE_MAX_BYTES
        dvmod.INLINE_MAX_BYTES = 8
        try:
            db.delete("notes").where("n", "IN", [2, 5, 9]).execute()
            db.flush()
            rep = export_delta(db, "notes", dest,
                               mode="update",
                               deletion_vectors=True)
        finally:
            dvmod.INLINE_MAX_BYTES = old_cap
        assert rep["commit"] == "dv"
        log = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        dv = [a["add"]["deletionVector"]
              for a in map(json.loads, open(log))
              if "add" in a and a["add"].get("deletionVector")][0]
        assert dv["storageType"] == "u"
        enc = dv["pathOrInlineDv"]
        u = _uuid.UUID(bytes=base64.b85decode(enc[-20:]))
        fpath = os.path.join(dest, enc[:-20],
                             f"deletion_vector_{u}.bin")
        raw = open(fpath, "rb").read()
        assert raw[0:1] == b"\x01"                  # format version
        off = int(dv["offset"])
        (size,) = st.unpack_from(">i", raw, off)
        assert size == dv["sizeInBytes"]
        data = raw[off + 4:off + 4 + size]
        (crc,) = st.unpack_from(">I", raw, off + 4 + size)
        assert zlib.crc32(data) & 0xFFFFFFFF == crc
        positions = self._spec_parse_bitmap_array(data)
        assert len(positions) == dv["cardinality"] == 3
        v0 = [f for f in os.listdir(dest) if f.endswith(".parquet")
              and f.startswith("v00000-")]
        tbl0 = pq.read_table(os.path.join(dest, v0[0]))
        keep = [i for i in range(tbl0.num_rows) if i not in positions]
        ext = sorted((r["id"], r["n"])
                     for r in tbl0.take(keep).to_pylist())
        ours = sorted((r["id"], r["n"])
                      for r in db.df("notes").collect())
        assert ext == ours


class TestDeltaIdColumnMapping:
    """'id'-mode column mapping (r13): columns resolve by PARQUET FIELD
    ID — the physical parquet names are deliberately garbage in these
    fixtures, so any name-based matching returns nulls/garbage and the
    value asserts fail."""

    def _fixture(self, tmp_path, partitioned=False):
        import pyarrow as pa
        import pyarrow.parquet as pq
        root = str(tmp_path / "idmap")
        os.makedirs(os.path.join(root, "_delta_log"))
        # parquet columns: scrambled names, field ids 7 (long) / 9 (str)
        def wr(rel, nums, strs):
            full = os.path.join(root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            sch = pa.schema([
                pa.field("zz_1", pa.int64(),
                         metadata={b"PARQUET:field_id": b"7"}),
                pa.field("zz_2", pa.string(),
                         metadata={b"PARQUET:field_id": b"9"})])
            pq.write_table(
                pa.table({"zz_1": pa.array(nums, pa.int64()),
                          "zz_2": pa.array(strs, pa.string())})
                .cast(sch), full)
        fields = [
            {"name": "num", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 7,
                          "delta.columnMapping.physicalName":
                              "col-aaaa"}},
            {"name": "label", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 9,
                          "delta.columnMapping.physicalName":
                              "col-bbbb"}}]
        pcols, adds = [], []
        if partitioned:
            fields.append(
                {"name": "part", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 11,
                              "delta.columnMapping.physicalName":
                                  "col-pppp"}})
            pcols = ["part"]
            wr("d1/f1.parquet", [1, 2], ["a", "b"])
            wr("d2/f2.parquet", [3], ["c"])
            adds = [{"path": "d1/f1.parquet",
                     "partitionValues": {"col-pppp": "x"}},
                    {"path": "d2/f2.parquet",
                     "partitionValues": {"col-pppp": "y"}}]
        else:
            wr("f1.parquet", [1, 2], ["a", "b"])
            wr("f2.parquet", [3], ["c"])
            adds = [{"path": "f1.parquet", "partitionValues": {}},
                    {"path": "f2.parquet", "partitionValues": {}}]
        meta = {"id": "idmap",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps({"type": "struct",
                                            "fields": fields}),
                "partitionColumns": pcols,
                "configuration": {"delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId":
                                      "11"}}
        log = os.path.join(root, "_delta_log", f"{0:020d}.json")
        with open(log, "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            for a in adds:
                fh.write(json.dumps({"add": {
                    **a, "size": 1, "modificationTime": 0,
                    "dataChange": True}}) + "\n")
        return root

    def test_id_mode_flat(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        root = self._fixture(tmp_path)
        out = read_delta(spark, root)
        assert sorted(out.columns) == ["label", "num"]
        assert sorted(map(tuple, out.select("num", "label")
                          .collect())) == [(1, "a"), (2, "b"),
                                           (3, "c")]

    def test_id_mode_partitioned_log_values(self, spark, tmp_path):
        from tostore_spark.plans.delta_export import read_delta
        root = self._fixture(tmp_path, partitioned=True)
        out = read_delta(spark, root)
        got = sorted(map(tuple,
                         out.select("num", "label", "part").collect()))
        assert got == [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")]

    def test_id_mode_without_ids_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from tostore_spark.plans.delta_export import read_delta
        root = self._fixture(tmp_path)
        log = os.path.join(root, "_delta_log", f"{0:020d}.json")
        # the key sits INSIDE the json-encoded schemaString — its
        # quotes are escaped on the log line
        lines = open(log).read().replace(
            '\\"delta.columnMapping.id\\"', '\\"someOtherKey\\"')
        open(log, "w").write(lines)
        with _pytest.raises(ValueError,
                            match="delta.columnMapping.id"):
            read_delta(spark, root).collect()


class TestCommitClaimFallback:
    def test_os_link_unsupported_falls_back(self, spark, tmp_path,
                                            monkeypatch):
        """Filesystems without hard links (FUSE/object-store mounts):
        the commit claim degrades to exists-check + os.replace instead
        of failing every export — and still refuses a taken version."""
        import errno

        import tostore_spark.plans.delta_export as de
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=4)
        real_link = os.link

        def no_link(src, dst, *a, **k):
            raise OSError(errno.ENOTSUP, "hard links not supported")
        monkeypatch.setattr(os, "link", no_link)
        rep = export_delta(db, "notes", dest)
        assert rep["version"] == 0
        db.batch_insert("notes", [{"id": "x1", "body": "b", "n": 9}])
        db.flush()
        rep2 = export_delta(db, "notes", dest, mode="update")
        assert rep2["version"] == 1 and rep2["commit"] == "append"
        back = de.read_delta(spark, dest)
        assert back.count() == 5
        # a taken version still refuses on the fallback path
        import pytest as _pytest
        with _pytest.raises(ValueError, match="already exists"):
            de._write_commit(dest, 1, [{"commitInfo": {}}])
        monkeypatch.setattr(os, "link", real_link)


class TestVacuumSafety:
    def test_vacuum_skips_inflight_and_retained(self, spark, tmp_path):
        """vacuum_delta must not delete (a) files staged by an
        in-flight exporter (vN- prefix beyond the latest commit) or
        (b) files younger than retention_sec."""
        import time as _t

        from tostore_spark.plans.delta_export import vacuum_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=4)
        export_delta(db, "notes", dest)                      # v0
        db.set_df("notes", db.df("notes"))
        db.flush()
        export_delta(db, "notes", dest, mode="update")       # v1 refresh
        # an in-flight concurrent exporter staged v2 data but has not
        # committed yet
        staged = os.path.join(dest, "v00002-f0000-part-zz.parquet")
        open(staged, "wb").write(b"PAR1")
        rep = vacuum_delta(dest, keep_versions=1)
        assert "v00002-f0000-part-zz.parquet" not in rep["deleted"]
        assert os.path.exists(staged)
        # v0's dead files DID go
        assert any(d.startswith("v00000-") for d in rep["deleted"])
        # retention window: fresh dead files survive a retained vacuum
        db.set_df("notes", db.df("notes"))
        db.flush()
        export_delta(db, "notes", dest, mode="update")       # v2 refresh
        rep2 = vacuum_delta(dest, keep_versions=1,
                            retention_sec=3600)
        assert not any(d.startswith("v00001-")
                       for d in rep2["deleted"]), rep2["deleted"]
        rep3 = vacuum_delta(dest, keep_versions=1)
        assert any(d.startswith("v00001-") for d in rep3["deleted"])


class TestDeltaMirror:
    def test_mirror_exports_every_flush(self, spark, tmp_path):
        """mirror_delta: flush-time auto-export keeps the destination
        at the store's last committed state through append, delete
        (DV), upsert (DV) and rewrite (refresh) epochs."""
        from tostore_spark.plans.delta_export import _replay, read_delta
        wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
        db = _mk(spark, wh, rows=8)
        rep = db.mirror_delta("notes", dest)
        assert rep["version"] == 0 and rep["commit"] == "snapshot"
        # append epoch → add-only commit, no user call needed
        db.batch_insert("notes", [{"id": "a1", "body": "x", "n": 50}])
        db.flush()
        assert db.last_mirror_error is None
        st = _replay(dest)
        assert st["version"] == 1
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        # delete epoch → merge-on-read DV commit
        db.eager_mutation_counts = False
        db.delete("notes").where("id", "=", "k003").execute()
        db.flush()
        log2 = os.path.join(dest, "_delta_log", f"{2:020d}.json")
        acts = [json.loads(x) for x in open(log2)]
        assert any("protocol" in a and a["protocol"].get(
            "minReaderVersion") == 3 for a in acts), \
            "delete must mirror as a DV commit"
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        # upsert epoch → DV commit too
        db.batch_upsert("notes", [{"id": "k001", "body": "UP"}])
        db.flush()
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        # rewrite epoch → refresh commit, still exact
        db.set_df("notes", db.df("notes").where("n < 100"))
        db.flush()
        assert _collect_sorted(read_delta(spark, dest)) == \
            _collect_sorted(db.df("notes"))
        v_now = _replay(dest)["version"]
        # unmirror: the next flush commits nothing new to the dest
        assert db.unmirror_delta("notes") is True
        db.batch_insert("notes", [{"id": "zz", "body": "y", "n": 1}])
        db.flush()
        assert _replay(dest)["version"] == v_now
