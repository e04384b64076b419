"""Round-16 advice items: timezone-independent / composite-key bounds
probes (_key_bounds_where shared by the Delta DV probe and the Iceberg
equality-delete pre-image probe), and their soundness rules."""
import os
import time

import pytest
from pyspark.sql import functions as F

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.export_tail import key_bounds_where as _key_bounds_where
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.iceberg import export_iceberg


class _TZ:
    """Shift the PYTHON driver's OS timezone (what PySpark's
    TimestampType.fromInternal renders collect() results in) — the
    exact hazard the advice flagged."""

    def __init__(self, tz):
        self.tz = tz

    def __enter__(self):
        self.old = os.environ.get("TZ")
        os.environ["TZ"] = self.tz
        time.tzset()

    def __exit__(self, *exc):
        if self.old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = self.old
        time.tzset()


class TestKeyBoundsWhere:
    def test_composite_conjunction(self, spark):
        df = spark.createDataFrame(
            [("a", 5), ("c", 9), ("b", 7)], "k string, n long")
        fields = {f.name: f for f in df.schema.fields}
        bw = _key_bounds_where(df, fields)
        assert bw == {"k": {"BETWEEN": {"start": "a", "end": "c"}},
                      "n": {"BETWEEN": {"start": 5, "end": 9}}}

    def test_null_key_column_drops_out(self, spark):
        df = spark.createDataFrame(
            [("a", None), ("c", 9)], "k string, n long")
        fields = {f.name: f for f in df.schema.fields}
        bw = _key_bounds_where(df, fields)
        assert bw == {"k": {"BETWEEN": {"start": "a", "end": "c"}}}
        all_null = spark.createDataFrame(
            [(None,)], "n long")
        assert _key_bounds_where(
            all_null, {f.name: f
                       for f in all_null.schema.fields}) is None

    def test_timestamp_bounds_are_naive_utc_under_shifted_tz(
            self, spark):
        """TimestampType bounds ride unix_micros and rebuild naive-UTC
        datetimes driver-side — a non-UTC driver OS timezone must not
        shift them (they compare against naive-UTC log/manifest
        stats).  Values are built JVM-side (timestamp_micros) so the
        frame itself is tz-clean."""
        from datetime import datetime
        lo_us = 1_700_000_000_000_000          # 2023-11-14T22:13:20Z
        hi_us = 1_700_000_600_000_000          # +10min
        df = (spark.range(1)
              .select(F.timestamp_micros(F.lit(lo_us)).alias("ts"))
              .union(spark.range(1).select(
                  F.timestamp_micros(F.lit(hi_us)).alias("ts"))))
        fields = {f.name: f for f in df.schema.fields}
        with _TZ("America/New_York"):
            bw = _key_bounds_where(df, fields)
        assert bw == {"ts": {"BETWEEN": {
            "start": datetime(2023, 11, 14, 22, 13, 20),
            "end": datetime(2023, 11, 14, 22, 23, 20)}}}
        # and the row-filter-coupled mode excludes tz columns entirely
        assert _key_bounds_where(df, fields, skip_tz=True) is None


def _ice_field_ids(dest):
    from tostore_spark.plans.iceberg import (_current_schema,
                                             _load_metadata)
    meta = _load_metadata(dest)
    return meta, {f["name"]: f["id"]
                  for f in _current_schema(meta)["fields"]}


def _write_eqdel(dest, meta, columns, rows, ids):
    """Hand-write one equality-delete parquet (proper field ids) and
    commit it as a MoR delete snapshot."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from tostore_spark.plans.iceberg import _commit_snapshot
    sch = pa.schema([
        pa.field(n, t, nullable=True,
                 metadata={b"PARQUET:field_id": str(ids[n]).encode()})
        for n, t in columns])
    tbl = pa.table({n: [r[i] for r in rows]
                    for i, (n, _t) in enumerate(columns)}, schema=sch)
    fp = os.path.join(dest, "data", "eqdel-test.parquet")
    papq.write_table(tbl, fp)
    _commit_snapshot(dest, meta,
                     None,
                     [(fp, len(rows), os.path.getsize(fp),
                       [ids[n] for n, _t in columns])],
                     keep_prior=True, operation="delete")


class TestCompositeEqDeleteBoundsPrune:
    def test_two_column_key_narrows_parent_probe(self, spark,
                                                 tmp_path,
                                                 monkeypatch):
        """A two-column-key equality-delete changelog pull narrows the
        parent probe at the FILE level: both key columns contribute
        conjunctive BETWEEN bounds, and on a clustered parent the
        probe reads 1 of 4 files (pinned via inputFiles)."""
        import pyarrow as pa

        import tostore_spark.plans.iceberg as ice
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"k{i:04d}", "n": i} for i in range(400)])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest, target_files=4,
                       cluster_by=["n"])
        meta, ids = _ice_field_ids(dest)
        s1 = meta["current-snapshot-id"]
        keys = [(f"k{i:04d}", i) for i in range(10)]
        _write_eqdel(dest, meta,
                     [("id", pa.string()), ("n", pa.int64())],
                     keys, ids)
        seen = {}
        orig = ice.read_iceberg

        def spy(spark_, p_, **kw):
            df = orig(spark_, p_, **kw)
            if kw.get("where") is not None:
                seen["where"] = kw["where"]
                seen["files"] = list(df.inputFiles())
            return df
        monkeypatch.setattr(ice, "read_iceberg", spy)
        feed = ice.read_iceberg_changes(spark, dest,
                                        from_snapshot=s1)
        got = sorted((r["id"], r["n"]) for r in feed.collect())
        assert got == keys
        assert all(r["_change_type"] == "delete"
                   for r in feed.collect())
        assert sorted(seen["where"]) == ["id", "n"], seen
        assert len(seen["files"]) == 1, seen["files"]
        # and the table itself reads back without the killed rows
        assert ice.read_iceberg(spark, dest).count() == 390

    def test_timestamp_key_stays_exact_under_shifted_tz(
            self, spark, tmp_path):
        """An equality-delete keyed on a TIMESTAMP column pulls exact
        pre-images even when the driver's OS timezone is not UTC —
        the probe predicate skips tz-aware key columns (they would
        otherwise become a session-tz-interpreted row filter), so no
        bound can shift and refute true rows."""
        from datetime import datetime, timedelta

        import pyarrow as pa

        import tostore_spark.plans.iceberg as ice
        db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        db.create_table(TableSchema(
            name="ev", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="ts", type=DataType.datetime)]))
        base = datetime(2024, 3, 1, 0, 0, 0)
        db.batch_insert("ev", [
            {"id": f"e{i:03d}", "ts": base + timedelta(minutes=i)}
            for i in range(240)])
        db.flush()
        dest = str(tmp_path / "ice")
        export_iceberg(db, "ev", dest, target_files=4,
                       cluster_by=["ts"])
        meta, ids = _ice_field_ids(dest)
        s1 = meta["current-snapshot-id"]
        kill_us = [int((base + timedelta(minutes=m)
                        - datetime(1970, 1, 1)).total_seconds()
                       * 1_000_000) for m in range(100, 110)]
        killed = pa.array(kill_us, type=pa.int64()).cast(
            pa.timestamp("us", tz="UTC"))
        _write_eqdel(dest, meta,
                     [("ts", pa.timestamp("us", tz="UTC"))],
                     [(v,) for v in killed.to_pylist()], ids)
        with _TZ("America/New_York"):
            feed = ice.read_iceberg_changes(spark, dest,
                                            from_snapshot=s1)
            got = sorted(r["id"] for r in feed.collect())
        assert got == [f"e{m:03d}" for m in range(100, 110)]
        assert ice.read_iceberg(spark, dest).count() == 230


class TestHiveFillGate:
    """The hive-fill fast path makes Spark's dir-derived partition
    values authoritative — so the gate must verify base containment,
    directory-segment matches, and dir↔manifest value agreement, and
    fall back to the manifest-literal path otherwise."""

    def _gate(self):
        from tostore_spark.plans.iceberg import _is_hive_fill_layout
        return _is_hive_fill_layout

    def test_agreeing_layout_passes(self):
        from pyspark.sql import types as T
        ok = self._gate()(
            "/w/t",
            [("/w/t/p=3/f1.parquet", 1), ("/w/t/p=4/f2.parquet", 1)],
            {"p": "p"}, ["p"],
            {"/w/t/p=3/f1.parquet": {"p": 3},
             "/w/t/p=4/f2.parquet": {"p": 4}},
            {"p": T.LongType()})
        assert ok

    def test_dir_manifest_disagreement_falls_back(self):
        from pyspark.sql import types as T
        ok = self._gate()(
            "/w/t", [("/w/t/p=3/f1.parquet", 1)],
            {"p": "p"}, ["p"],
            {"/w/t/p=3/f1.parquet": {"p": 7}},   # manifest says 7
            {"p": T.LongType()})
        assert not ok

    def test_file_outside_base_falls_back(self):
        from pyspark.sql import types as T
        ok = self._gate()(
            "/w/t", [("/elsewhere/p=3/f1.parquet", 1)],
            {"p": "p"}, ["p"],
            {"/elsewhere/p=3/f1.parquet": {"p": 3}},
            {"p": T.LongType()})
        assert not ok

    def test_filename_match_is_not_a_dir_segment(self):
        from pyspark.sql import types as T
        ok = self._gate()(
            "/w/t", [("/w/t/x_p=3_part.parquet", 1)],
            {"p": "p"}, ["p"],
            {"/w/t/x_p=3_part.parquet": {"p": 3}},
            {"p": T.LongType()})
        assert not ok

    def test_ambiguous_repeated_segment_falls_back(self):
        from pyspark.sql import types as T
        ok = self._gate()(
            "/w/t", [("/w/t/p=3/p=4/f1.parquet", 1)],
            {"p": "p"}, ["p"],
            {"/w/t/p=3/p=4/f1.parquet": {"p": 3}},
            {"p": T.LongType()})
        assert not ok

    def test_date_and_default_partition_decode(self):
        import datetime

        from pyspark.sql import types as T
        days = (datetime.date(2024, 3, 1)
                - datetime.date(1970, 1, 1)).days
        gate = self._gate()
        assert gate(
            "/w/t", [("/w/t/d=2024-03-01/f.parquet", 1)],
            {"d": "d"}, ["d"],
            {"/w/t/d=2024-03-01/f.parquet": {"d": days}},
            {"d": T.DateType()})
        assert not gate(
            "/w/t", [("/w/t/d=2024-03-01/f.parquet", 1)],
            {"d": "d"}, ["d"],
            {"/w/t/d=2024-03-01/f.parquet": {"d": days + 1}},
            {"d": T.DateType()})
        assert gate(
            "/w/t",
            [("/w/t/d=__HIVE_DEFAULT_PARTITION__/f.parquet", 1)],
            {"d": "d"}, ["d"],
            {"/w/t/d=__HIVE_DEFAULT_PARTITION__/f.parquet":
             {"d": None}},
            {"d": T.DateType()})

    def test_hive_fast_path_still_single_scan(self, spark, tmp_path):
        """Positive e2e: an agreeing hive layout still takes the ONE
        basePath discovery scan and reads exact values."""
        import tostore_spark.plans.iceberg as ice
        src = str(tmp_path / "hv")
        df = spark.range(24).selectExpr("id", "id % 3 as p")
        df.write.partitionBy("p").parquet(src)
        ice.convert_to_iceberg(spark, src)
        out = ice.read_iceberg(spark, src)
        cols = sorted(out.columns)
        assert sorted(map(tuple, out.select(*cols).collect())) == \
            sorted(map(tuple, df.select(*cols).collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") <= 1

    def test_escaped_string_partition_values_exact(self, spark,
                                                   tmp_path):
        """String partition values with hive-escaped characters
        decode through unquote and agree with the manifest — values
        come back exact whichever fill path runs."""
        import tostore_spark.plans.iceberg as ice
        src = str(tmp_path / "hv2")
        df = spark.createDataFrame(
            [(1, "a b"), (2, "x=y"), (3, "plain")], "id long, s string")
        df.write.partitionBy("s").parquet(src)
        ice.convert_to_iceberg(spark, src)
        out = ice.read_iceberg(spark, src)
        assert sorted((r["id"], r["s"]) for r in out.collect()) == \
            [(1, "a b"), (2, "x=y"), (3, "plain")]
