"""DROP-COLUMN and TYPE-WIDENING schema evolution (late r17).

Iceberg resolves columns by FIELD ID, so both are metadata-only:

- DROP: a new schema-id WITHOUT the field — data files keep their
  column bytes; readers stop projecting it; time travel keeps each
  snapshot's own columns; changelog ranges crossing a drop surface
  rows under the range-END schema (the Delta CDF latest-schema rule).
- WIDEN: a new schema-id with the SAME ids and PROMOTED types
  (spec "Schema Evolution": int→long, float→double, decimal(P,S)→
  decimal(P',S) with P'≥P) — old files keep the narrow physical type
  and Spark's parquet reader upcasts at the scan (name- and
  field-id-resolved alike).

Both fold through ``sync_delta_to_iceberg`` from the matching Delta
shapes (column-mapping DROP COLUMN, type widening — metadata-only
commits), and are drivable natively via ``drop_iceberg_column`` /
``widen_iceberg_column``.  Non-widening retypes keep refusing
everywhere.

Reference parity: the reference's SchemaBuilder drop/modify are
migrations that rewrite rows; the table formats' id-indirection makes
the same user actions free — cited for semantics only."""
import json
import os
import time

import pytest

from tostore_spark import ToStoreSpark
from tostore_spark.plans.delta_export import (_replay, _write_commit,
                                              read_delta,
                                              read_delta_cdf)
from tostore_spark.plans.iceberg import (_ice_type_widens,
                                         _load_metadata,
                                         _next_metadata_version,
                                         _write_metadata_json,
                                         convert_delta_to_iceberg,
                                         convert_to_iceberg,
                                         drop_iceberg_column,
                                         read_iceberg,
                                         read_iceberg_changes,
                                         sync_delta_to_iceberg,
                                         widen_iceberg_column)
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


def _metadata_commit(dest, version, meta_d, sj):
    meta_d2 = dict(meta_d, schemaString=json.dumps(sj))
    _write_commit(dest, version, [
        {"metaData": meta_d2},
        {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
    return meta_d2


class TestPromotionRules:
    def test_widen_matrix(self):
        ok = [("int", "long"), ("float", "double"),
              ("decimal(5, 2)", "decimal(12, 2)"),
              ("int", "int"), ("decimal(5, 2)", "decimal(5, 2)")]
        bad = [("long", "int"), ("int", "double"), ("int", "float"),
               ("double", "float"), ("long", "double"),
               ("decimal(12, 2)", "decimal(5, 2)"),
               ("decimal(5, 2)", "decimal(12, 3)"),   # scale change
               ("string", "binary"), ("int", "string")]
        for a, b in ok:
            assert _ice_type_widens(a, b), (a, b)
        for a, b in bad:
            assert not _ice_type_widens(a, b), (a, b)

    def test_nested_types_equality_only(self):
        lst = {"type": "list", "element-id": 9, "element": "int",
               "element-required": False}
        assert _ice_type_widens(lst, dict(lst))
        assert not _ice_type_widens(lst, dict(lst, element="long"))


class TestBridgeDrop:
    def test_drop_folds_and_keeps_bridging(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1,
                     change_data=True)                        # v0
        convert_delta_to_iceberg(spark, dest)
        s1 = _load_metadata(dest)["current-snapshot-id"]
        # v1: foreign DROP COLUMN n (metadata-only — the Delta
        # column-mapping drop shape; physical bytes stay in place)
        meta_d = dict(_replay(dest)["meta"])
        sj = json.loads(meta_d["schemaString"])
        sj2 = {"type": "struct",
               "fields": [f for f in sj["fields"] if f["name"] != "n"]}
        meta_d = _metadata_commit(dest, 1, meta_d, sj2)
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["to_version"] == 1
        meta = _load_metadata(dest)
        assert len(meta["schemas"]) == 2
        # surviving field ids unchanged, dropped id absent
        ids0 = {f["name"]: f["id"] for f in
                meta["schemas"][0]["fields"]}
        ids1 = {f["name"]: f["id"] for f in
                meta["schemas"][-1]["fields"]}
        assert ids1 == {k: v for k, v in ids0.items() if k != "n"}
        # iceberg current read: column gone, rows intact; travel keeps
        cur = read_iceberg(spark, dest)
        assert "n" not in cur.columns and cur.count() == 10
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert "n" in old.columns
        assert sorted(r["n"] for r in old.collect()) == list(range(10))
        # post-drop foreign append (2-column parquet) keeps bridging
        df = spark.createDataFrame([("z1", "zz1"), ("z2", "zz2")],
                                   "id string, body string")
        stage = str(tmp_path / "stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage)
                if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, part),
                   os.path.join(dest, f"v2-{part}"))
        _write_commit(dest, 2, [
            {"add": {"path": f"v2-{part}", "partitionValues": {},
                     "size": os.path.getsize(
                         os.path.join(dest, f"v2-{part}")),
                     "modificationTime": int(time.time() * 1000),
                     "dataChange": True,
                     "stats": json.dumps({"numRecords": 2})}},
            {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["snapshots"] == 1
        cur_i = read_iceberg(spark, dest)
        cur_d = read_delta(spark, dest)
        assert cur_i.count() == 12 == cur_d.count()
        a = sorted(map(tuple, cur_i.select("id", "body").collect()))
        b = sorted(map(tuple, cur_d.select("id", "body").collect()))
        assert a == b
        # CDF across the drop: range-END schema (no n column)
        feed = read_delta_cdf(spark, dest, 0)
        assert "n" not in feed.columns
        assert feed.filter("_change_type = 'insert'").count() == 12

    def test_drop_then_bare_readd_refuses(self, spark, tmp_path):
        """Dropping then RE-ADDING a same-named column WITHOUT a
        fresh column-mapping physical name is ambiguous — the name
        mapping would bind old files' physical column to the new
        field and resurface dead values.  The bridge refuses the
        re-add instead of silently diverging."""
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        meta_d = dict(_replay(dest)["meta"])
        sj = json.loads(meta_d["schemaString"])
        dropped = {"type": "struct",
                   "fields": [f for f in sj["fields"]
                              if f["name"] != "n"]}
        meta_d = _metadata_commit(dest, 1, meta_d, dropped)
        sync_delta_to_iceberg(spark, dest)           # drop folds
        readd = {"type": "struct",
                 "fields": dropped["fields"]
                 + [{"name": "n", "type": "integer",
                     "nullable": True, "metadata": {}}]}
        _metadata_commit(dest, 2, meta_d, readd)
        with pytest.raises(ValueError, match="re-add"):
            sync_delta_to_iceberg(spark, dest)


class TestBridgeWiden:
    def _foreign_int_table(self, tmp_path):
        """A fully foreign Delta table whose ``n`` is INT (the store
        always writes long, so the narrow start must be foreign)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import (IntegerType, StringType,
                                       StructField, StructType)
        d = str(tmp_path / "ext")
        os.makedirs(os.path.join(d, "_delta_log"))
        pq.write_table(
            pa.table({"id": ["a", "b", "c"],
                      "n": pa.array([1, 2, 3], type=pa.int32())}),
            os.path.join(d, "f1.parquet"))
        schema = StructType([StructField("id", StringType()),
                             StructField("n", IntegerType())])
        _write_commit(d, 0, [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 2}},
            {"metaData": {
                "id": "x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {
                    "delta.enableChangeDataFeed": "true"}}},
            {"add": {"path": "f1.parquet", "partitionValues": {},
                     "size": os.path.getsize(
                         os.path.join(d, "f1.parquet")),
                     "modificationTime": int(time.time() * 1000),
                     "dataChange": True,
                     "stats": json.dumps({"numRecords": 3})}},
            {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
        return d, schema

    def test_widen_folds_and_upcasts(self, spark, tmp_path):
        from pyspark.sql.types import LongType, StringType, StructField
        from pyspark.sql.types import StructType
        d, schema = self._foreign_int_table(tmp_path)
        convert_delta_to_iceberg(spark, d)
        meta0 = _load_metadata(d)
        assert next(f["type"] for f in
                    meta0["schemas"][-1]["fields"]
                    if f["name"] == "n") == "int"
        s1 = meta0["current-snapshot-id"]
        # v1: foreign TYPE WIDENING commit int→long (metadata-only)
        wide = StructType([StructField("id", StringType()),
                           StructField("n", LongType())])
        state = _replay(d)
        meta_d = dict(state["meta"], schemaString=wide.json())
        _write_commit(d, 1, [
            {"metaData": meta_d},
            {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
        # v2: post-widen foreign append with int64 physical type
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(
            pa.table({"id": ["z"],
                      "n": pa.array([5_000_000_000],
                                    type=pa.int64())}),
            os.path.join(d, "f2.parquet"))
        _write_commit(d, 2, [
            {"add": {"path": "f2.parquet", "partitionValues": {},
                     "size": os.path.getsize(
                         os.path.join(d, "f2.parquet")),
                     "modificationTime": int(time.time() * 1000),
                     "dataChange": True,
                     "stats": json.dumps({"numRecords": 1})}},
            {"commitInfo": {"timestamp": int(time.time() * 1000)}}])
        sync_delta_to_iceberg(spark, d)
        meta = _load_metadata(d)
        assert len(meta["schemas"]) == 2
        assert [f["id"] for f in meta["schemas"][0]["fields"]] == \
            [f["id"] for f in meta["schemas"][-1]["fields"]]
        assert next(f["type"] for f in meta["schemas"][-1]["fields"]
                    if f["name"] == "n") == "long"
        cur = read_iceberg(spark, d)
        assert dict(cur.dtypes)["n"] == "bigint"
        assert sorted(r["n"] for r in cur.collect()) == \
            [1, 2, 3, 5_000_000_000]
        # time travel keeps the narrow type
        old = read_iceberg(spark, d, snapshot_id=s1)
        assert dict(old.dtypes)["n"] == "int"
        # the delta side agrees at head
        assert sorted(r["n"] for r in
                      read_delta(spark, d).collect()) == \
            [1, 2, 3, 5_000_000_000]
        # CDF across the widen surfaces under the END (long) type
        feed = read_delta_cdf(spark, d, 0)
        assert dict(feed.dtypes)["n"] == "bigint"
        assert feed.count() == 4

    def test_non_widening_retype_still_refuses(self, spark, tmp_path):
        from pyspark.sql.types import (DoubleType, StringType,
                                       StructField, StructType)
        d, schema = self._foreign_int_table(tmp_path)
        convert_delta_to_iceberg(spark, d)
        bad = StructType([StructField("id", StringType()),
                          StructField("n", DoubleType())])
        state = _replay(d)
        meta_d = dict(state["meta"], schemaString=bad.json())
        _write_commit(d, 1, [{"metaData": meta_d}])
        with pytest.raises(ValueError, match="cannot follow"):
            sync_delta_to_iceberg(spark, d)


class TestNativeDrop:
    def test_drop_column_metadata_only(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=2)
        before = sorted(os.listdir(os.path.join(dest, "data")))
        s1 = _load_metadata(dest)["current-snapshot-id"]
        rep = drop_iceberg_column(dest, ["body"])
        assert rep["schema_id"] == 1 and rep["dropped"] == ["body"]
        # METADATA-ONLY: zero data files touched
        assert sorted(os.listdir(os.path.join(dest, "data"))) == before
        cur = read_iceberg(spark, dest)
        assert "body" not in cur.columns and cur.count() == 10
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert "body" in old.columns
        # a post-drop incremental export keeps extending
        db.update_schema("notes").remove_field("body").execute()
        db.batch_insert("notes", [{"id": "x1", "n": 100}])
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert read_iceberg(spark, dest).count() == 11

    def test_drop_refusals(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        with pytest.raises(ValueError, match="unknown column"):
            drop_iceberg_column(dest, ["nope"])
        with pytest.raises(ValueError, match="every column"):
            drop_iceberg_column(dest, ["id", "body", "n"])
        # a live equality-delete binds id → dropping id refuses
        db.delete("notes").where("id", "IN", ["k001", "k002"]) \
            .execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "eqdel"
        with pytest.raises(ValueError, match="equality-delete"):
            drop_iceberg_column(dest, ["id"])
        # non-eq columns still droppable under live eq-deletes
        rep = drop_iceberg_column(dest, ["body"])
        assert rep["dropped"] == ["body"]
        cur = read_iceberg(spark, dest)
        assert cur.count() == 4 and "body" not in cur.columns

    def test_partitioned_drop_refuses_source(self, spark, tmp_path):
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        sch = TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="cat", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)])
        src = spark.createDataFrame(
            [(f"e{i}", f"c{i % 2}", i) for i in range(6)],
            "id string, cat string, n long")
        db.register_table("ev", df=src, schema=sch,
                          partition_by=["cat"])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest)
        with pytest.raises(ValueError, match="partition source"):
            drop_iceberg_column(dest, ["cat"])

    def test_changelog_surfaces_end_schema_across_drop(
            self, spark, tmp_path):
        """Changelog crossing a drop: rows (inserts AND eq-delete
        pre-images) surface WITHOUT the dropped column; a consumer
        replica built on the end schema converges."""
        db = _mk(spark, str(tmp_path / "wh"))
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)      # s1
        db.delete("notes").where("id", "IN",
                                 ["k001", "k005"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")  # s2
        assert rep["commit"] == "eqdel"
        drop_iceberg_column(dest, ["body"])
        feed = read_iceberg_changes(spark, dest)
        assert "body" not in feed.columns
        rows = feed.collect()
        dele = [r for r in rows if r["_change_type"] == "delete"]
        assert len(rows) == 12 and len(dele) == 2
        assert sorted(r["n"] for r in dele) == [1, 5]
        con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
        con.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        assert con.apply_iceberg_changes("notes", dest)["applied"] == 8
        a = sorted(map(tuple, con.df("notes")
                       .select("id", "n").collect()))
        b = sorted(map(tuple, read_iceberg(spark, dest)
                       .select("id", "n").collect()))
        assert a == b

    def test_changelog_refuses_eq_delete_on_dropped_id(
            self, spark, tmp_path):
        """Surgical history where an eq-delete binds a field the END
        schema dropped (the API refuses this; a foreign writer could
        still produce it): the changelog refuses rather than lying."""
        db = _mk(spark, str(tmp_path / "wh"), rows=6)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)
        db.delete("notes").where("id", "IN", ["k001"]).execute()
        db.flush()
        rep = export_iceberg(db, "notes", dest, mode="update")
        assert rep["commit"] == "eqdel"
        meta = _load_metadata(dest)
        sid = max(s["schema-id"] for s in meta["schemas"]) + 1 \
            if meta.get("schemas") else 1
        cur_sj = (meta.get("schemas")
                  or [dict(meta["schema"], **{"schema-id": 0})])[-1]
        meta["schemas"] = (meta.get("schemas")
                           or [dict(cur_sj)]) + [{
            "type": "struct", "schema-id": sid,
            "fields": [f for f in cur_sj["fields"]
                       if f["name"] != "id"]}]
        meta["current-schema-id"] = sid
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        with pytest.raises(ValueError, match="equality-delete"):
            read_iceberg_changes(spark, dest).collect()


class TestNativeWiden:
    def _int_parquet_table(self, spark, tmp_path):
        """convert_to_iceberg over an int/float/decimal parquet dir —
        the narrow-typed start the store itself never produces."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        import decimal
        d = str(tmp_path / "pq")
        os.makedirs(d)
        pq.write_table(pa.table({
            "id": ["a", "b", "c"],
            "n": pa.array([1, 2, 3], type=pa.int32()),
            "x": pa.array([1.5, 2.5, 3.5], type=pa.float32()),
            "price": pa.array([decimal.Decimal("1.25"),
                               decimal.Decimal("2.50"),
                               decimal.Decimal("9.99")],
                              type=pa.decimal128(5, 2))}),
            os.path.join(d, "part-0.parquet"))
        convert_to_iceberg(spark, d)
        return d

    def test_widen_metadata_only(self, spark, tmp_path):
        d = self._int_parquet_table(spark, tmp_path)
        meta0 = _load_metadata(d)
        types0 = {f["name"]: f["type"]
                  for f in meta0["schemas"][-1]["fields"]} \
            if meta0.get("schemas") else \
            {f["name"]: f["type"] for f in meta0["schema"]["fields"]}
        assert types0["n"] == "int" and types0["x"] == "float"
        s1 = meta0["current-snapshot-id"]
        rep = widen_iceberg_column(
            d, {"n": "long", "x": "double",
                "price": "decimal(12,2)"})
        assert rep["widened"] == {"n": "long", "x": "double",
                                  "price": "decimal(12, 2)"}
        cur = read_iceberg(spark, d)
        got = dict(cur.dtypes)
        assert got["n"] == "bigint" and got["x"] == "double" \
            and got["price"] == "decimal(12,2)"
        assert sorted(r["n"] for r in cur.collect()) == [1, 2, 3]
        assert sorted(float(r["price"]) for r in cur.collect()) == \
            [1.25, 2.5, 9.99]
        # travel keeps the narrow types
        old = read_iceberg(spark, d, snapshot_id=s1)
        assert dict(old.dtypes)["n"] == "int"
        # no-op widen returns without a new metadata version
        rep2 = widen_iceberg_column(d, {"n": "long"})
        assert rep2["widened"] == {} and \
            rep2["metadata_version"] is None

    def test_widen_refusals(self, spark, tmp_path):
        d = self._int_parquet_table(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown column"):
            widen_iceberg_column(d, {"nope": "long"})
        with pytest.raises(ValueError, match="not a spec-legal"):
            widen_iceberg_column(d, {"n": "double"})
        with pytest.raises(ValueError, match="not a spec-legal"):
            widen_iceberg_column(d, {"price": "decimal(12, 3)"})

    def test_bridge_refuses_native_alter(self, spark, tmp_path):
        db = _mk(spark, str(tmp_path / "wh"), rows=3)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        with pytest.raises(ValueError, match="bridge"):
            drop_iceberg_column(dest, ["body"])
        with pytest.raises(ValueError, match="bridge"):
            widen_iceberg_column(dest, {"n": "long"})

    def test_changelog_upcasts_across_widen(self, spark, tmp_path):
        """End-to-end changelog across a widen on a FIELD-ID table.

        The store never writes narrow ints, so the narrow start is
        simulated the fixture way: export snapshot s1, rewrite its
        data file to int32 IN PLACE (field ids preserved), and bind
        s1 to a surgically-added narrow schema-id — exactly the
        history a foreign Iceberg writer leaves behind after a
        widen.  The range crossing the widen surfaces every row
        under the END (long) type; travel to s1 keeps int."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        db = _mk(spark, str(tmp_path / "wh"), rows=4)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=1)       # s1
        meta = _load_metadata(dest)
        s1 = meta["current-snapshot-id"]
        # rewrite s1's file with n as int32, preserving field ids
        ddir = os.path.join(dest, "data")
        fp = [os.path.join(ddir, f) for f in os.listdir(ddir)
              if f.endswith(".parquet")]
        assert len(fp) == 1
        tbl = pq.read_table(fp[0])
        fields = []
        for f in tbl.schema:
            if f.name == "n":
                fields.append(pa.field(
                    "n", pa.int32(), metadata=f.metadata))
            else:
                fields.append(f)
        narrow = pa.schema(fields, metadata=tbl.schema.metadata)
        pq.write_table(tbl.cast(narrow), fp[0])
        # surgically record s1 under a narrow (int) schema-id
        cur_sj = (meta.get("schemas")
                  or [dict(meta["schema"], **{"schema-id": 0})])[-1]
        narrow_sj = {
            "type": "struct", "schema-id": 7,
            "fields": [dict(f, type="int") if f["name"] == "n"
                       else dict(f) for f in cur_sj["fields"]]}
        meta["schemas"] = [narrow_sj] + \
            [dict(cur_sj, **{"schema-id":
                             int(meta.get("current-schema-id", 0))})]
        for s in meta["snapshots"]:
            if s["snapshot-id"] == s1:
                s["schema-id"] = 7
        mdir = os.path.join(dest, "metadata")
        _write_metadata_json(mdir, _next_metadata_version(mdir), meta)
        # s2: a post-widen incremental export appends long data
        db.batch_insert("notes", [
            {"id": "big", "body": "huge", "n": 5_000_000_000}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")        # s2
        feed = read_iceberg_changes(spark, dest)
        assert dict(feed.dtypes)["n"] == "bigint"
        rows = feed.collect()
        assert len(rows) == 5
        assert sorted(r["n"] for r in rows) == \
            [0, 1, 2, 3, 5_000_000_000]
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert dict(old.dtypes)["n"] == "int"
        assert sorted(r["n"] for r in old.collect()) == [0, 1, 2, 3]
