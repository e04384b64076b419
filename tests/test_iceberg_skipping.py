"""Iceberg manifest column-bounds stats — writer emission and
read_iceberg(where=) manifest-level file pruning.

The writer half: every exported data file's manifest entry carries
value_counts / null_value_counts / lower_bounds / upper_bounds keyed
by field id, with bounds in the spec's Appendix-D single-value binary
form (byte-pinned below against hand-computed literals).  The reader
half: a predicate refuted by a file's decoded bounds (or identity
partition value) drops the file from the scan before Spark lists it,
and the predicate re-applies to rows."""
import pytest
from pyspark.sql import functions as F

from tostore_spark.condition import to_condition_node
from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.iceberg import (_deser_bound, _entry_stats,
                                         _kv_to_dict, _load_metadata,
                                         _pick_snapshot, _prune_by_stats,
                                         _scan_files,
                                         _schema_for_snapshot, _ser_bound,
                                         read_iceberg)
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.iceberg import export_iceberg


class TestAppendixDSerialization:
    """Spec Appendix D 'Single-value serialization' — byte-pinned."""

    CASES = [
        ("int", 1, b"\x01\x00\x00\x00"),
        ("int", -1, b"\xff\xff\xff\xff"),
        ("long", 1, b"\x01\x00\x00\x00\x00\x00\x00\x00"),
        ("long", -2, b"\xfe\xff\xff\xff\xff\xff\xff\xff"),
        ("double", 1.5, b"\x00\x00\x00\x00\x00\x00\xf8\x3f"),
        ("float", 1.5, b"\x00\x00\xc0\x3f"),
        ("boolean", True, b"\x01"),
        ("boolean", False, b"\x00"),
        ("string", "iceberg", b"iceberg"),
        ("string", "naïve", "naïve".encode("utf-8")),
    ]

    def test_ser_matches_spec_bytes(self):
        for typ, v, want in self.CASES:
            assert _ser_bound(typ, v) == want, (typ, v)

    def test_deser_inverts(self):
        for typ, v, b in self.CASES:
            assert _deser_bound(typ, b) == v, (typ, v)

    def test_never_guesses(self):
        assert _ser_bound("int", 2**40) is None          # overflow
        assert _ser_bound("int", True) is None           # bool ≠ int
        assert _ser_bound("long", "5") is None           # type mismatch
        assert _ser_bound("decimal(9, 2)", 1) is None    # unsupported
        assert _deser_bound("long", b"\x01\x00") is None  # short buffer
        assert _deser_bound("string", b"\xff\xfe") is None  # bad utf-8
        assert _deser_bound("int", None) is None
        import struct
        nan = struct.pack("<d", float("nan"))
        assert _deser_bound("double", nan) is None       # NaN bound

    def test_kv_both_wire_forms(self):
        as_list = [{"key": 3, "value": 7}, {"key": "4", "value": 9}]
        assert _kv_to_dict(as_list) == {3: 7, 4: 9}
        assert _kv_to_dict({3: 7, "4": 9}) == {3: 7, 4: 9}
        assert _kv_to_dict(None) == {}
        assert _kv_to_dict([{"bogus": 1}, {"key": "x", "value": 2}]) == {}


def _mk_export(spark, tmp_path, rows=40):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    dest = str(tmp_path / "ice")
    export_iceberg(db, "notes", dest, target_files=4)
    return db, dest


def _scan(dest):
    meta = _load_metadata(dest)
    snap = _pick_snapshot(meta)
    sj = _schema_for_snapshot(meta, snap)
    data, _pd, _ed, parts, fstats = _scan_files(
        meta, snap, meta.get("location") or dest)
    return meta, sj, data, parts, fstats


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


class TestWriterBounds:
    def test_every_data_file_carries_bounds(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        meta, sj, data, parts, fstats = _scan(dest)
        assert len(data) == 4 and len(fstats) == 4
        by_name = {f["name"]: f for f in sj["fields"]}
        nid = by_name["n"]["id"]
        spans = []
        for fp, _seq in data:
            st = fstats[fp]
            mn = _deser_bound("long", st["lo"][nid])
            mx = _deser_bound("long", st["hi"][nid])
            assert mn is not None and mn <= mx
            assert st["nulls"][nid] == 0
            assert st["rows"] is not None and st["rows"] > 0
            spans.append((mn, mx))
        # bounds cover the data and are range-clustered enough that a
        # point predicate can exclude most files
        assert min(s[0] for s in spans) == 0
        assert max(s[1] for s in spans) == 39
        assert sum(1 for mn, mx in spans if mn <= 0 <= mx) == 1

    def test_string_bounds_utf8(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        _, sj, data, _, fstats = _scan(dest)
        sid = {f["name"]: f["id"] for f in sj["fields"]}["id"]
        lo = min(_deser_bound("string", fstats[fp]["lo"][sid])
                 for fp, _ in data)
        hi = max(_deser_bound("string", fstats[fp]["hi"][sid])
                 for fp, _ in data)
        assert (lo, hi) == ("k000", "k039")


class TestClusterBy:
    def test_cluster_by_disjoint_manifest_bounds(self, spark,
                                                 tmp_path):
        import random

        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        order = list(range(40))
        random.Random(7).shuffle(order)
        db.batch_insert("notes", [
            {"id": f"k{i:03d}", "n": i} for i in order])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4,
                       cluster_by=["n"])
        meta, sj, data, parts, fstats = _scan(dest)
        node = to_condition_node({"n": 17})
        kept = _prune_by_stats(meta, sj, data, parts, fstats, node)
        assert (len(data), len(kept)) == (4, 1)
        got = read_iceberg(spark, dest, where={"n": 17}).collect()
        assert [r.id for r in got] == ["k017"]


class TestReaderPruning:
    def test_prunes_and_stays_exact(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        meta, sj, data, parts, fstats = _scan(dest)
        node = to_condition_node({"n": {"<": 5}})
        kept = _prune_by_stats(meta, sj, data, parts, fstats, node)
        assert (len(data), len(kept)) == (4, 1)
        full = read_iceberg(spark, dest)
        for where, col in [
            ({"n": {"<": 5}}, F.col("n") < 5),
            ({"n": 17}, F.col("n") == 17),
            ({"n": {"IN": [2, 38]}}, F.col("n").isin([2, 38])),
            ({"id": {"LIKE": "k03%"}}, F.col("id").like("k03%")),
            ({"n": {"<": 3, ">=": 38}},
             (F.col("n") < 3) | (F.col("n") >= 38)),
        ]:
            got = _rows(read_iceberg(spark, dest, where=where))
            want = _rows(full.filter(col))
            assert got == want and got, where

    def test_full_prune_keeps_schema(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        out = read_iceberg(spark, dest, where={"n": 1000})
        assert out.count() == 0
        assert set(out.columns) == {"id", "body", "n"}

    def test_where_composes_with_mor_deletes(self, spark, tmp_path):
        """Bounds from the ORIGINAL data files stay sound across a
        merge-on-read delete epoch (they bound a superset of the live
        rows), and the delete anti-join still applies to survivors."""
        db, dest = _mk_export(spark, tmp_path)
        db.delete("notes").where("n", "IN", [2, 7, 33]).execute()
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        full = read_iceberg(spark, dest)
        got = _rows(read_iceberg(spark, dest, where={"n": {"<": 10}}))
        want = _rows(full.filter(F.col("n") < 10))
        assert got == want
        assert not any(r for r in got if r[2] in (2, 7))

    def test_missing_stats_keep_file(self, spark, tmp_path):
        _, dest = _mk_export(spark, tmp_path)
        meta, sj, data, parts, fstats = _scan(dest)
        node = to_condition_node({"n": {"<": 5}})
        kept = _prune_by_stats(meta, sj, data, parts, {}, node)
        assert len(kept) == len(data)

    def test_snapshot_time_travel_composes(self, spark, tmp_path):
        db, dest = _mk_export(spark, tmp_path)
        db.batch_insert("notes", [{"id": "x1", "body": "new", "n": 2}])
        db.flush()
        export_iceberg(db, "notes", dest, mode="update")
        meta = _load_metadata(dest)
        snaps = sorted(s["snapshot-id"] for s in meta["snapshots"])
        v0 = read_iceberg(spark, dest, snapshot_id=snaps[0],
                          where={"n": {"<": 3}})
        v1 = read_iceberg(spark, dest, where={"n": {"<": 3}})
        assert v1.count() == v0.count() + 1

    def test_temporal_bounds_roundtrip_and_prune(self, spark, tmp_path):
        """date/timestamp bounds are EXACT in Iceberg (Appendix-D
        binary, unlike Delta's writer-formatted ISO strings), so
        temporal predicates — the most common warehouse filter — prune
        at the manifest level.  ISO-string predicate values coerce per
        the column type."""
        import datetime

        from tostore_spark.schema import (DataType, FieldSchema,
                                          PrimaryKeyConfig, TableSchema)
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="ts", type=DataType.datetime),
                    FieldSchema(name="n", type=DataType.integer)]))
        base = datetime.datetime(2024, 1, 1)
        db.batch_insert("ev", [
            {"id": f"e{i:03d}",
             "ts": base + datetime.timedelta(days=i), "n": i}
            for i in range(40)])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, target_files=4)
        meta, sj, data, parts, fstats = _scan(dest)
        tid = {f["name"]: f["id"] for f in sj["fields"]}["ts"]
        typ = {f["name"]: f["type"] for f in sj["fields"]}["ts"]
        assert typ in ("timestamp", "timestamptz")
        assert all(isinstance(
            _deser_bound(typ, fstats[fp]["lo"][tid]),
            datetime.datetime) for fp, _ in data)
        from tostore_spark.compile import coerce_where_values
        node = coerce_where_values(
            to_condition_node({"ts": {">=": "2024-02-05"}}),
            read_iceberg(spark, dest).schema)
        kept = _prune_by_stats(meta, sj, data, parts, fstats, node)
        assert 0 < len(kept) < len(data)
        full = read_iceberg(spark, dest)
        got = _rows(read_iceberg(spark, dest,
                                 where={"ts": {">=": "2024-02-05"}}))
        want = _rows(full.filter(
            F.col("ts") >= F.lit("2024-02-05").cast("timestamp_ntz")))
        assert got == want and len(got) == 5
        # typed datetime value and BETWEEN both stay exact
        got = _rows(read_iceberg(spark, dest, where={
            "ts": {"BETWEEN": {
                "start": datetime.datetime(2024, 1, 10),
                "end": datetime.datetime(2024, 1, 12)}}}))
        assert len(got) == 3

    def test_identity_partition_values_prune(self):
        """A foreign manifest with identity-partitioned files and no
        column stats: partition values alone prune, including ranges
        and null partitions."""
        meta = {"partition-specs": [{"fields": [
            {"transform": "identity", "source-id": 2, "name": "p"}]}]}
        sj = {"fields": [{"id": 1, "name": "k", "type": "long"},
                         {"id": 2, "name": "p", "type": "int"}]}
        data = [("/f1", 1), ("/f2", 1), ("/f3", 1)]
        parts = {"/f1": {"p": 10}, "/f2": {"p": 20}, "/f3": {"p": None}}
        fstats = {"/f3": {"rows": 4, "lo": {}, "hi": {}, "nulls": {}}}
        node = to_condition_node({"p": 10})
        assert _prune_by_stats(meta, sj, data, parts, fstats, node) \
            == [("/f1", 1)]
        node = to_condition_node({"p": {">=": 15}})
        assert _prune_by_stats(meta, sj, data, parts, fstats, node) \
            == [("/f2", 1)]
        node = to_condition_node({"p": None})
        kept = _prune_by_stats(meta, sj, data, parts, fstats, node)
        # f1/f2 refuted (value present, no nulls); f3 all-null kept
        assert kept == [("/f3", 1)]
