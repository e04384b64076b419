"""Timestamp time travel on Delta reads (TIMESTAMP AS OF — commitInfo
timestamp, mtime fallback, monotonic adjustment) and named Iceberg
refs (create_ref / read_iceberg(ref=) / expire retention)."""
import json
import os
import time

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (read_delta,
                                              version_at_timestamp)
from tostore_spark.plans.iceberg import (_load_metadata, create_ref,
                                         expire_snapshots, read_iceberg)
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _mk(spark, tmp_path, rows=10):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "n": i} for i in range(rows)])
    db.flush()
    return db


class TestDeltaTimestampTravel:
    def _stamp(self, dest, version, ts_ms):
        """Rewrite a commit's commitInfo timestamp (deterministic
        fixture — exports stamp wall-clock)."""
        p = os.path.join(dest, "_delta_log", f"{version:020d}.json")
        acts = [json.loads(x) for x in open(p)]
        acts = [a for a in acts if "commitInfo" not in a]
        acts.insert(0, {"commitInfo": {"timestamp": int(ts_ms)}})
        with open(p, "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")

    def test_picks_latest_at_or_before(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest)
        for r in range(2):
            db.batch_insert("notes", [{"id": f"x{r}", "n": 100 + r}])
            db.flush()
            export_delta(db, "notes", dest, mode="update")
        self._stamp(dest, 0, 1000)
        self._stamp(dest, 1, 2000)
        self._stamp(dest, 2, 3000)
        assert version_at_timestamp(dest, 2000) == 1
        assert version_at_timestamp(dest, 2999) == 1
        # after the latest commit: loud refusal (the Delta rule),
        # lenient resolve only on request
        with pytest.raises(ValueError, match="after the latest"):
            version_at_timestamp(dest, 99999999999999)
        assert version_at_timestamp(dest, 99999999999999,
                                    allow_after_latest=True) == 2
        assert read_delta(spark, dest, as_of_ms=2000).count() == 11
        with pytest.raises(ValueError, match="no delta commit"):
            version_at_timestamp(dest, 999)
        with pytest.raises(ValueError, match="not both"):
            read_delta(spark, dest, version=1, as_of_ms=2000)

    def test_monotonic_adjustment(self, spark, tmp_path):
        """A commit stamped EARLIER than its predecessor (clock skew)
        is adjusted up — the pick can never go back in version order."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest)
        db.batch_insert("notes", [{"id": "x", "n": 100}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        self._stamp(dest, 0, 5000)
        self._stamp(dest, 1, 1000)          # skewed backwards
        # v1's effective timestamp becomes max(5000, 1000) = 5000
        assert version_at_timestamp(dest, 5000) == 1
        with pytest.raises(ValueError):
            version_at_timestamp(dest, 4999)

    def test_composes_with_where(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest)
        self._stamp(dest, 0, 1000)
        out = read_delta(spark, dest, as_of_ms=1000,
                         where={"n": {"<": 3}})
        assert out.count() == 3


class TestIcebergRefs:
    def test_tag_read_and_expire_retention(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest)
        rep = create_ref(dest, "audit-v1")
        assert rep["type"] == "tag"
        # two more snapshots on main
        for r in range(2):
            db.batch_insert("notes", [{"id": f"x{r}", "n": 100 + r}])
            db.flush()
            export_iceberg(db, "notes", dest, mode="update")
        assert read_iceberg(spark, dest).count() == 12
        assert read_iceberg(spark, dest, ref="audit-v1").count() == 10
        # a later commit must not clobber the custom ref
        assert "audit-v1" in _load_metadata(dest)["refs"]
        # expire keeps the tagged snapshot alive
        rep = expire_snapshots(dest, keep_last=1)
        assert read_iceberg(spark, dest, ref="audit-v1").count() == 10
        assert read_iceberg(spark, dest).count() == 12

    def test_unknown_ref_and_duplicates_refuse(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest)
        create_ref(dest, "t1")
        with pytest.raises(ValueError, match="already exists"):
            create_ref(dest, "t1")
        with pytest.raises(ValueError, match="not found"):
            read_iceberg(spark, dest, ref="nope")
        with pytest.raises(ValueError, match="tag|branch"):
            create_ref(dest, "t2", kind="bogus")
