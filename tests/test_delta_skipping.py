"""read_delta(where=...) — log-stats file pruning (Delta scan
planning): files whose add-action stats / partitionValues refute the
predicate drop out of the scan BEFORE Spark lists them, and the
predicate re-applies to rows so pruning can only narrow the work.
Pins both halves: the file-count narrowing AND result exactness
against the unpruned read."""
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tostore_spark.condition import QueryCondition, to_condition_node
from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (_add_summary,
                                              _coerce_where_values,
                                              _prune_adds, _replay,
                                              read_delta)
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import export_delta


def _mk_export(spark, tmp_path, rows=40, files=4, **export_kw):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, target_files=files, **export_kw)
    return db, dest


def _pruned_count(dest, where):
    state = _replay(dest, None)
    schema = StructType.fromJson(
        json.loads(state["meta"]["schemaString"]))
    node = _coerce_where_values(to_condition_node(where), schema)
    ident = {f.name: f.name for f in schema.fields}
    pcols = list(state["meta"].get("partitionColumns") or [])
    return len(_prune_adds(state["files"], node, schema, ident, pcols)), \
        len(state["files"])


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


class TestStatsPruning:
    def test_range_prunes_and_stays_exact(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        kept, total = _pruned_count(dest, {"n": {"<": 5}})
        assert total == 4 and kept == 1
        full = read_delta(spark, dest)
        for where, col in [
            ({"n": {"<": 5}}, F.col("n") < 5),
            ({"n": {">=": 35}}, F.col("n") >= 35),
            ({"n": 17}, F.col("n") == 17),
            ({"n": {"IN": [2, 3, 38]}}, F.col("n").isin([2, 3, 38])),
            ({"id": {"LIKE": "k01%"}}, F.col("id").like("k01%")),
            ({"n": {"BETWEEN": {"start": 11, "end": 13}}},
             (F.col("n") >= 11) & (F.col("n") <= 13)),
        ]:
            got = _rows(read_delta(spark, dest, where=where))
            want = _rows(full.filter(col))
            assert got == want and got, where

    def test_or_tree_and_querycondition(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        # multi-op map = implicit OR (the reference's map-form rule)
        kept, total = _pruned_count(dest, {"n": {"<": 3, ">=": 38}})
        assert kept == 2 and total == 4
        full = read_delta(spark, dest)
        got = _rows(read_delta(spark, dest,
                               where={"n": {"<": 3, ">=": 38}}))
        want = _rows(full.filter((F.col("n") < 3) | (F.col("n") >= 38)))
        assert got == want and len(got) == 5
        qc = QueryCondition().where("n", "<", 3).or_where("n", ">=", 38)
        assert _rows(read_delta(spark, dest, where=qc)) == want

    def test_loose_typed_value_prunes(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        kept, total = _pruned_count(dest, {"n": "7"})
        assert kept == 1 and total == 4
        got = read_delta(spark, dest, where={"n": "7"}).collect()
        assert [r.id for r in got] == ["k007"]

    def test_empty_result_after_full_prune(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        kept, _ = _pruned_count(dest, {"n": 1000})
        assert kept == 0
        out = read_delta(spark, dest, where={"n": 1000})
        assert out.count() == 0
        # schema survives the empty fold
        assert set(out.columns) == {"id", "body", "n"}

    def test_dv_export_where_exact(self, spark, tmp_path):
        """Deletion-vector adds carry tightBounds:false stats — bounds
        over a superset of the live rows; pruning with them must stay
        sound and the DV anti-join must still apply to survivors."""
        db, dest = _mk_export(spark, tmp_path, deletion_vectors=True)
        db.delete("notes").where("n", "IN", [1, 6, 36]).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True)
        full = read_delta(spark, dest)
        got = _rows(read_delta(spark, dest, where={"n": {"<": 10}}))
        want = _rows(full.filter(F.col("n") < 10))
        assert got == want
        assert not any(r for r in got if r[2] in (1, 6))

    def test_where_composes_with_time_travel(self, spark, tmp_path):
        db, dest = _mk_export(spark, tmp_path)
        db.batch_insert("notes", [{"id": "x1", "body": "new", "n": 2}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        v0 = read_delta(spark, dest, version=0, where={"n": {"<": 3}})
        v1 = read_delta(spark, dest, version=1, where={"n": {"<": 3}})
        assert v1.count() == v0.count() + 1


class TestClusterBy:
    def test_cluster_by_makes_point_lookups_one_file(self, spark,
                                                     tmp_path):
        """An UNSORTED insert order exported with cluster_by must
        still produce range-disjoint files: a point predicate prunes
        to exactly one."""
        import random
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        order = list(range(40))
        random.Random(7).shuffle(order)           # deterministic mess
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "n": i} for i in order])
        db.flush()
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=4,
                     cluster_by=["n"])
        kept, total = _pruned_count(dest, {"n": 17})
        assert total == 4 and kept == 1
        got = read_delta(spark, dest, where={"n": 17}).collect()
        assert [r.id for r in got] == ["k017"]
        # without clustering the same layout would keep every file
        dest2 = str(tmp_path / "dx2")
        export_delta(db, "notes", dest2, target_files=4)
        kept2, total2 = _pruned_count(dest2, {"n": 17})
        assert total2 == 4 and kept2 == 4


class TestSummaryConservatism:
    SCHEMA = StructType.fromJson(json.loads(
        '{"type":"struct","fields":['
        '{"name":"n","type":"integer","nullable":true,"metadata":{}},'
        '{"name":"d","type":"date","nullable":true,"metadata":{}},'
        '{"name":"s","type":"string","nullable":true,"metadata":{}}]}'))

    def _summ(self, add):
        return _add_summary(add, self.SCHEMA,
                            {"n": "n", "d": "d", "s": "s"}, [])

    def test_no_stats_survives(self):
        assert self._summ({"path": "f", "partitionValues": {}}) is None

    def test_date_stats_parse_and_prune(self):
        """Temporal stats are writer-formatted ISO strings — never
        compared lexicographically; they PARSE into date/datetime
        values and ride the type-aligned compare (r15)."""
        import datetime

        from tostore_spark.plans.skipping import node_may_match
        s = self._summ({"stats": json.dumps({
            "numRecords": 5,
            "minValues": {"n": 1, "d": "2024-01-01", "s": "a"},
            "maxValues": {"n": 9, "d": "2024-12-31", "s": "z"},
            "nullCount": {"n": 0, "d": 0, "s": 0}})})
        assert set(s["cols"]) == {"n", "d", "s"}
        assert s["cols"]["d"]["min"] == datetime.date(2024, 1, 1)
        node = _coerce_where_values(
            to_condition_node({"d": {">": "2025-06-01"}}), self.SCHEMA)
        assert not node_may_match(node, s, "")
        node = _coerce_where_values(
            to_condition_node({"d": {">": "2024-06-01"}}), self.SCHEMA)
        assert node_may_match(node, s, "")

    def test_timestamp_stats_require_unambiguous_zone(self):
        """The string-format trap that used to exclude temporals,
        as a test: a zone-less bound on a TIMESTAMP (tz) column is
        ambiguous and must NOT prune; an explicit offset normalizes
        to naive UTC and prunes exactly."""
        import datetime

        from pyspark.sql.types import StructType as _ST
        schema = _ST.fromJson(json.loads(
            '{"type":"struct","fields":['
            '{"name":"t","type":"timestamp","nullable":true,'
            '"metadata":{}}]}'))
        base = {"numRecords": 5,
                "nullCount": {"t": 0}}

        def summ(lo, hi):
            return _add_summary(
                {"stats": json.dumps({**base,
                                      "minValues": {"t": lo},
                                      "maxValues": {"t": hi}})},
                schema, {"t": "t"}, [])
        # zone-less on tz column: refuses (file survives)
        assert summ("2024-01-01T00:00:00", "2024-01-02T00:00:00") \
            is None
        # explicit offsets: parse, normalize to naive UTC
        s = summ("2024-01-01T00:00:00.000Z",
                 "2024-01-01T23:00:00+01:00")
        assert s["cols"]["t"]["max"] == \
            datetime.datetime(2024, 1, 1, 22, 0, 0)
        # garbage refuses
        assert summ("not-a-time", "2024-01-01T00:00:00Z") is None

    def test_type_misaligned_stats_dropped(self):
        # a string bound on an int column (malformed foreign stats)
        s = self._summ({"stats": json.dumps({
            "numRecords": 5,
            "minValues": {"n": "1"}, "maxValues": {"n": "9"}})})
        assert s is None

    def test_all_null_column_represented(self):
        from tostore_spark.plans.skipping import node_may_match
        s = self._summ({"stats": json.dumps({
            "numRecords": 5, "minValues": {}, "maxValues": {},
            "nullCount": {"n": 5}})})
        assert s["cols"]["n"] == {"min": None, "max": None, "nulls": 5}
        node = to_condition_node({"n": {">": 0}})
        assert not node_may_match(node, s, "")
        assert node_may_match(to_condition_node({"n": None}), s, "")


class TestPartitionValuePruning:
    def _foreign(self, tmp_path, spark):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.types import (IntegerType, LongType, StringType,
                                       StructField)
        d = str(tmp_path / "ext")
        os.makedirs(os.path.join(d, "_delta_log"))
        pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}),
                       os.path.join(d, "f1.parquet"))
        pq.write_table(pa.table({"k": [3], "v": ["c"]}),
                       os.path.join(d, "f2.parquet"))
        pq.write_table(pa.table({"k": [4], "v": ["d"]}),
                       os.path.join(d, "f3.parquet"))
        schema = StructType([StructField("k", LongType()),
                             StructField("v", StringType()),
                             StructField("p", IntegerType())])
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "x",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema.json(),
                          "partitionColumns": ["p"],
                          "configuration": {}}},
            {"add": {"path": "f1.parquet",
                     "partitionValues": {"p": "10"}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "f2.parquet",
                     "partitionValues": {"p": "20"}, "size": 1,
                     "modificationTime": 0, "dataChange": True}},
            {"add": {"path": "f3.parquet",
                     "partitionValues": {"p": None}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "stats": json.dumps({"numRecords": 1})}},
        ]
        with open(os.path.join(d, "_delta_log", f"{0:020d}.json"),
                  "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        return d

    def test_partition_equality_prunes(self, spark, tmp_path):
        d = self._foreign(tmp_path, spark)
        kept, total = _pruned_count(d, {"p": 10})
        assert total == 3 and kept == 1
        out = read_delta(spark, d, where={"p": 10})
        assert {(r.k, r.v, r.p) for r in out.collect()} == \
            {(1, "a", 10), (2, "b", 10)}

    def test_null_partition_pruning(self, spark, tmp_path):
        d = self._foreign(tmp_path, spark)
        # IS NULL keeps only the null-partition file (it has stats, so
        # the all-null entry is exact); = 20 drops it
        kept, _ = _pruned_count(d, {"p": None})
        assert kept == 1
        out = read_delta(spark, d, where={"p": None})
        assert [(r.k, r.p) for r in out.collect()] == [(4, None)]
        kept, _ = _pruned_count(d, {"p": 20})
        assert kept == 1

    def test_range_on_partition_values(self, spark, tmp_path):
        d = self._foreign(tmp_path, spark)
        kept, _ = _pruned_count(d, {"p": {">=": 15}})
        assert kept == 1
        out = read_delta(spark, d, where={"p": {">=": 15}})
        assert [(r.k, r.p) for r in out.collect()] == [(3, 20)]
