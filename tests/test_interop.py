"""The interop path, once per format: Delta and Iceberg exports share
one recipe tail (``plans/export_tail.py``) and the engine's change-feed
subscriptions and mirrors share one body each.  Every case runs for
both formats and ends with the destination or replica equal to the
source."""
import json
import os
import time

import pytest

from tostore_spark import EncryptionConfig
from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (_replay, _write_commit,
                                              export_delta, read_delta)
from tostore_spark.plans.iceberg import export_iceberg, read_iceberg
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)

FORMATS = ["delta", "iceberg"]


def _schema(encrypted=False):
    return TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer),
                FieldSchema(name="secret", type=DataType.text,
                            encrypted=encrypted)])


def _source(spark, wh, encryption=None):
    db = ToStoreSpark(spark, warehouse=wh, encryption=encryption)
    db.create_table(_schema(encrypted=encryption is not None))
    db.batch_insert("notes", [{"id": f"k{i:03d}", "n": i,
                               "secret": f"u{i}@x.com"}
                              for i in range(8)])
    db.flush()
    return db


def _export(fmt, db, dest, **kw):
    """One incremental export: Delta keeps a change feed and commits
    deletes as deletion vectors, Iceberg as position deletes."""
    if fmt == "delta":
        return export_delta(db, "notes", dest, mode="update",
                            deletion_vectors=True, change_data=True, **kw)
    return export_iceberg(db, "notes", dest, mode="update",
                          delete_route="position", **kw)


def _read(fmt, spark, dest):
    return (read_delta if fmt == "delta" else read_iceberg)(spark, dest)


def _pull(fmt, con, dest, **kw):
    if fmt == "delta":
        return con.apply_cdf("notes", dest, **kw)
    return con.apply_iceberg_changes("notes", dest, **kw)


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "n", "secret")
                  .collect())


def _underivable(fmt, spark, db, dest, tmp_path):
    """Commit something the format's change feed refuses to derive."""
    if fmt == "iceberg":
        # clear + reinsert resets the recipe: an overwrite snapshot
        db.clear("notes")
        db.batch_insert("notes", [{"id": f"k{i:03d}", "n": 700 + i,
                                   "secret": "s"} for i in range(3)])
        db.flush()
        assert _export(fmt, db, dest)["commit"] == "refresh"
        return _rows(db.df("notes"))
    # a foreign writer rewrites a live file without any cdc action
    state = _replay(dest)
    rel = sorted(state["files"])[0]
    kept = (spark.read.parquet(os.path.join(dest, rel))
            .filter("id <> 'k000'"))
    stage = str(tmp_path / "stage")
    kept.coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    newrel = f"v{state['version'] + 1}-{part}"
    os.replace(os.path.join(stage, part), os.path.join(dest, newrel))
    now = int(time.time() * 1000)
    _write_commit(dest, state["version"] + 1, [
        {"remove": {"path": rel, "dataChange": True,
                    "deletionTimestamp": now}},
        {"add": {"path": newrel, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(dest, newrel)),
                 "modificationTime": now, "dataChange": True,
                 "stats": json.dumps({"numRecords": kept.count()})}}])
    return _rows(read_delta(spark, dest))


@pytest.mark.parametrize("fmt", FORMATS)
def test_subscription_lifecycle(spark, tmp_path, fmt):
    db = _source(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dest")
    _export(fmt, db, dest)
    con = ToStoreSpark(spark, warehouse=str(tmp_path / "wc"))
    con.create_table(_schema())
    # bootstrap into an empty table
    assert _pull(fmt, con, dest)["applied"] == 8
    assert _rows(con.df("notes")) == _rows(db.df("notes"))
    # an incremental pull after an insert and a delete
    db.batch_insert("notes", [{"id": "x9", "n": 99, "secret": "s9"}])
    db.flush()
    assert _export(fmt, db, dest)["commit"] == "append"
    db.delete("notes").where("id", "=", "k001").execute()
    db.flush()
    assert _export(fmt, db, dest)["commit"] in ("dv", "mor")
    assert _pull(fmt, con, dest)["applied"] == 2
    assert _rows(con.df("notes")) == _rows(db.df("notes"))
    # at head: a no-op pull
    assert _pull(fmt, con, dest)["applied"] == 0
    # the cursor refuses a changed where
    with pytest.raises(ValueError, match="filter changed"):
        _pull(fmt, con, dest, where={"n": {">": 3}})
    # a commit the feed cannot derive: raise, then rebootstrap
    want = _underivable(fmt, spark, db, dest, tmp_path)
    with pytest.raises(ValueError):
        _pull(fmt, con, dest)
    _pull(fmt, con, dest, on_refuse="rebootstrap")
    assert _rows(con.df("notes")) == want


@pytest.mark.parametrize("fmt", FORMATS)
def test_export_tail_kinds(spark, tmp_path, fmt):
    db = _source(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dest")
    seen = []

    def step():
        rep = _export(fmt, db, dest)
        seen.append(rep["commit"])
        assert _rows(_read(fmt, spark, dest)) == _rows(db.df("notes"))

    step()
    step()
    db.batch_insert("notes", [{"id": "x9", "n": 99, "secret": "s9"}])
    db.flush()
    step()
    db.delete("notes").where("n", "<", 3).execute()
    db.flush()
    step()
    db.update_schema("notes").add_field(
        FieldSchema("tag", DataType.text, default_value="T")).execute()
    db.flush()
    step()
    delete = "dv" if fmt == "delta" else "mor"
    assert seen == ["snapshot", "noop", "append", delete, "refresh"]
    assert "tag" in _read(fmt, spark, dest).columns


@pytest.mark.parametrize("fmt", FORMATS)
def test_failed_first_mirror_is_not_registered(spark, tmp_path, fmt):
    """A mirror whose first export refuses leaves nothing behind that
    a later flush would run."""
    db = _source(spark, str(tmp_path / "wh"),
                 encryption=EncryptionConfig(key="interop-test-key"))
    dest = str(tmp_path / "dest")
    mirror = db.mirror_delta if fmt == "delta" else db.mirror_iceberg
    unmirror = (db.unmirror_delta if fmt == "delta"
                else db.unmirror_iceberg)
    with pytest.raises(ValueError, match="DECRYPTED"):
        mirror("notes", dest)
    db.batch_insert("notes", [{"id": "x9", "n": 99, "secret": "s9"}])
    db.flush()
    assert db.last_mirror_error is None
    assert unmirror("notes") is False
    # registered once the first export succeeds, and kept current
    rep = mirror("notes", dest, allow_decrypted=True)
    assert rep["commit"] == "snapshot"
    db.delete("notes").where("id", "=", "k002").execute()
    db.flush()
    assert db.last_mirror_error is None
    assert _rows(_read(fmt, spark, dest)) == _rows(db.df("notes"))
    assert unmirror("notes") is True


def test_export_table_refuses_to_declassify(spark, tmp_path):
    db = _source(spark, str(tmp_path / "wh"),
                 encryption=EncryptionConfig(key="interop-test-key"))
    out = str(tmp_path / "out.csv")
    with pytest.raises(ValueError, match="DECRYPTED"):
        db.export_table("notes", out, format="csv")
    assert not os.path.exists(out)
    db.export_table("notes", out, format="csv", allow_decrypted=True)
    back = spark.read.option("header", "true").csv(out)
    assert sorted(r["secret"] for r in back.collect()) == sorted(
        f"u{i}@x.com" for i in range(8))
