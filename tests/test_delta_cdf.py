"""Delta CHANGE DATA FEED (plans/delta_export change_data=True +
read_delta_cdf): per-commit change rows with exact netting semantics —
what an incremental foreign consumer replays instead of diffing
snapshots.  Each test pins the feed against the store's own known
mutations; the final-state consistency check (v0 inserts + feed replay
== read_delta) guards the feed's algebra end-to-end."""
import json
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (read_delta, read_delta_cdf,
                                              vacuum_delta)
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)
from tostore_spark.plans.delta_export import export_delta


def _mk(spark, wh, rows=20):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _feed(spark, dest, lo, hi):
    return sorted((r["_commit_version"], r["_change_type"], r["n"])
                  for r in read_delta_cdf(spark, dest, lo, hi).collect())


def test_cdf_append_and_dv_delete(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    # commit meta: property set, writer version upgraded
    with open(os.path.join(dest, "_delta_log",
                           f"{0:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minWriterVersion"] >= 4

    db.batch_insert("notes", [{"id": f"x{i}", "body": "a", "n": 100 + i}
                              for i in range(3)])
    db.flush()
    r1 = export_delta(db, "notes", dest, mode="update", change_data=True)
    assert r1["commit"] == "append"
    db.delete("notes").where("n", ">=", 101).execute()
    db.flush()
    r2 = export_delta(db, "notes", dest, mode="update",
                      deletion_vectors=True, change_data=True)
    assert r2["commit"] == "dv"
    assert _feed(spark, dest, 1, 2) == [
        (1, "insert", 100), (1, "insert", 101), (1, "insert", 102),
        (2, "delete", 101), (2, "delete", 102)]
    # v0 = the snapshot's inserts, derived from its add actions
    f0 = read_delta_cdf(spark, dest, 0, 0)
    assert f0.count() == 20
    assert [r[0] for r in
            f0.select("_change_type").distinct().collect()] == ["insert"]
    # the dv commit carries an explicit cdc action + a _change_data file
    with open(os.path.join(dest, "_delta_log",
                           f"{2:020d}.json")) as fh:
        acts2 = [json.loads(ln) for ln in fh]
    cdcs = [a["cdc"] for a in acts2 if "cdc" in a]
    assert cdcs and all(c["path"].startswith("_change_data/")
                        and c["dataChange"] is False for c in cdcs)
    # data readers ignore cdc files: final state still exact
    assert read_delta(spark, dest).count() == 21


def test_cdf_replace_epoch_nets_delete_insert(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.batch_upsert("notes", [{"id": "k005", "body": "CHANGED", "n": 555},
                              {"id": "zzz", "body": "NEW", "n": 999}])
    db.flush()
    r = export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True, change_data=True)
    assert r["commit"] == "dv"
    assert _feed(spark, dest, 1, 1) == [
        (1, "delete", 5), (1, "insert", 555), (1, "insert", 999)]


def test_cdf_same_commit_insert_delete_nets_out(spark, tmp_path):
    """A row inserted and deleted within ONE commit never existed to
    outside observers — it must appear in neither feed direction."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.batch_insert("notes", [{"id": f"x{i}", "body": "a", "n": 100 + i}
                              for i in range(3)])
    # kill one NEW row (n=101) and one OLD row (n=3) before flushing
    db.delete("notes").where("n", "=", 101).execute()
    db.delete("notes").where("n", "=", 3).execute()
    db.flush()
    r = export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True, change_data=True)
    assert r["commit"] == "dv"
    assert _feed(spark, dest, 1, 1) == [
        (1, "delete", 3), (1, "insert", 100), (1, "insert", 102)]


def test_cdf_prior_dv_positions_do_not_resurface(spark, tmp_path):
    """A delete whose keys also match rows ALREADY dead under an
    earlier commit's DV must not re-emit those pre-images."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.delete("notes").where("n", "=", 5).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True, change_data=True)
    # range delete covering the already-dead n=5
    db.delete("notes").where("n", "<=", 7).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True, change_data=True)
    assert _feed(spark, dest, 2, 2) == [
        (2, "delete", 0), (2, "delete", 1), (2, "delete", 2),
        (2, "delete", 3), (2, "delete", 4), (2, "delete", 6),
        (2, "delete", 7)]


def test_cdf_refresh_commit_exact_diff(spark, tmp_path):
    """Without deletion_vectors a delete falls to the refresh tier —
    whose add/remove actions overstate the change, so the commit must
    carry an explicit exact-diff cdc file."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.delete("notes").where("n", "=", 7).execute()
    db.flush()
    r = export_delta(db, "notes", dest, mode="update", change_data=True)
    assert r["commit"] == "refresh"
    assert _feed(spark, dest, 1, 1) == [(1, "delete", 7)]


def test_cdf_property_persists_without_flag(spark, tmp_path):
    """CDF is a TABLE property: update commits maintain the feed even
    when the caller forgets change_data=True (the writer contract)."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.delete("notes").where("n", "=", 4).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True)        # no change_data flag
    assert _feed(spark, dest, 1, 1) == [(1, "delete", 4)]


def test_cdf_mid_history_upgrade(spark, tmp_path):
    """change_data=True on an existing non-CDF export upgrades the
    table in that commit; ranges starting before it refuse."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest)                # v0: NO cdf
    db.delete("notes").where("n", "=", 9).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True, change_data=True)
    assert _feed(spark, dest, 1, 1) == [(1, "delete", 9)]
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_cdf(spark, dest, 0, 1)


def test_cdf_refuses_non_cdf_table_and_underivable_commit(spark,
                                                          tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest)                # no cdf anywhere
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_cdf(spark, dest, 0)
    # cdf enabled but a later dv commit written WITHOUT the feed
    # (foreign writer violating the property): refuse, never derive
    dest2 = str(tmp_path / "dx2")
    export_delta(db, "notes", dest2, change_data=True)
    db.delete("notes").where("n", "=", 2).execute()
    db.flush()
    export_delta(db, "notes", dest2, mode="update",
                 deletion_vectors=True, change_data=True)
    log1 = os.path.join(dest2, "_delta_log", f"{1:020d}.json")
    with open(log1) as fh:
        acts = [json.loads(ln) for ln in fh]
    acts = [a for a in acts if "cdc" not in a]    # strip the cdc action
    with open(log1, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="without cdc"):
        read_delta_cdf(spark, dest2, 1, 1).collect()


def test_cdf_vacuum_keeps_retained_reclaims_dead(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    for i in (3, 11):
        db.delete("notes").where("n", "=", i).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=True, change_data=True)
    # keep the last 2 versions (v1, v2): v1's cdc file must survive,
    # and its feed must still read exactly
    rep = vacuum_delta(dest, keep_versions=2)
    assert _feed(spark, dest, 1, 2) == [
        (1, "delete", 3), (2, "delete", 11)]
    # now keep only the latest: v1's cdc file is reclaimable
    rep = vacuum_delta(dest, keep_versions=1, dry_run=True)
    assert any(f.startswith("_change_data/") and "v00001" in f
               for f in rep["deleted"])


def test_cdf_partitioned_table(spark, tmp_path):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    sch = TableSchema(
        name="ev", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="grp", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)])
    src = spark.createDataFrame(
        [(f"k{i:02d}", f"g{i % 3}", i) for i in range(12)],
        "id string, grp string, n int")
    db.register_table("ev", df=src, schema=sch, partition_by=["grp"])
    db.flush(only=["ev"])
    dest = str(tmp_path / "dx")
    export_delta(db, "ev", dest, change_data=True)
    db.delete("ev").where("n", "=", 7).execute()
    db.flush()
    export_delta(db, "ev", dest, mode="update",
                 deletion_vectors=True, change_data=True)
    feed = read_delta_cdf(spark, dest, 1, 1)
    rows = [(r["_change_type"], r["grp"], r["n"])
            for r in feed.collect()]
    assert rows == [("delete", "g1", 7)]
    # v0: partition values attach to derived inserts as typed columns
    f0 = read_delta_cdf(spark, dest, 0, 0)
    assert f0.filter("grp = 'g0'").count() == 4


def test_cdf_column_mapped_partitioned(spark, tmp_path):
    """late r17: CDF reads through 'name'-mode column mapping on a
    PARTITIONED table — partitionValues are keyed by PHYSICAL names
    (the spec rule) and each action's OWN values attach as typed
    logical columns, including a mid-range partition generation."""
    import glob as _g
    import shutil as _sh
    d = str(tmp_path / "ext")
    log = os.path.join(d, "_delta_log")
    os.makedirs(log)

    def _stage(name, rows, with_ct=False):
        schema = "`col-k1` long, `col-b1` string" + (
            ", `_change_type` string" if with_ct else "")
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(d, "_stage"))
        part = _g.glob(os.path.join(d, "_stage", "*.parquet"))[0]
        _sh.move(part, os.path.join(d, name))

    _stage("f1.parquet", [(1, "a"), (2, "b")])
    _stage("f2.parquet", [(3, "c")])
    schema_json = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-k1"}},
        {"name": "b", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-b1"}},
        {"name": "p", "type": "integer", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-p1"}}]}
    meta = {"id": "x", "format": {"provider": "parquet"},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": ["p"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
                "delta.enableChangeDataFeed": "true"}}
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for name, pv in (("f1.parquet", "10"), ("f2.parquet", "20")):
            fh.write(json.dumps({"add": {
                "path": name, "partitionValues": {"col-p1": pv},
                "size": 1, "modificationTime": 0,
                "dataChange": True}}) + "\n")
    # v1: a cdc commit — physical names in the change file, physical
    # keys in its partitionValues
    os.makedirs(os.path.join(d, "_change_data"))
    _stage("_change_data/c1.parquet", [(2, "b", "delete")],
           with_ct=True)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"cdc": {
            "path": "_change_data/c1.parquet",
            "partitionValues": {"col-p1": "10"}, "size": 1,
            "dataChange": False}}) + "\n")
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 1700000000000}}) + "\n")
    # v2: derivable add-only commit under a NEW partition value
    _stage("f3.parquet", [(9, "z")])
    with open(os.path.join(log, f"{2:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {
            "path": "f3.parquet", "partitionValues": {"col-p1": "30"},
            "size": 1, "modificationTime": 0,
            "dataChange": True}}) + "\n")
    feed = read_delta_cdf(spark, d, 0)
    rows = sorted((r["_commit_version"], r["_change_type"], r["k"],
                   r["b"], r["p"]) for r in feed.collect())
    assert rows == [(0, "insert", 1, "a", 10),
                    (0, "insert", 2, "b", 10),
                    (0, "insert", 3, "c", 20),
                    (1, "delete", 2, "b", 10),
                    (2, "insert", 9, "z", 30)]
    assert dict(feed.dtypes)["p"] == "int"
    # where= prunes by the PHYSICAL partition key through the mapping
    f2 = read_delta_cdf(spark, d, 0, where={"p": {">=": 30}})
    assert [(r["k"], r["p"]) for r in f2.collect()] == [(9, 30)]


def test_cdf_mirror_change_data(spark, tmp_path):
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    db.mirror_delta("notes", dest, change_data=True)
    db.delete("notes").where("n", "=", 13).execute()
    db.flush()                                    # auto-exports
    assert db.last_mirror_error is None
    assert _feed(spark, dest, 1, 1) == [(1, "delete", 13)]


def test_apply_cdf_subscription_exactly_once(spark, tmp_path):
    """Consumer loop: a second engine bootstraps from the export and
    stays in sync through apply_cdf — KV-cursor exactly-once (a replay
    applies nothing), netting across the range, incremental pulls."""
    prod = _mk(spark, str(tmp_path / "wh1"))
    dest = str(tmp_path / "dx")
    export_delta(prod, "notes", dest, change_data=True)
    cons = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
    cons.register_table("notes2", df=read_delta(cons.spark, dest))
    cons.flush()

    prod.delete("notes").where("n", ">=", 18).execute()
    prod.batch_insert("notes", [{"id": "new1", "body": "x", "n": 100}])
    prod.flush()
    export_delta(prod, "notes", dest, mode="update",
                 deletion_vectors=True)
    r1 = cons.apply_cdf("notes2", dest, from_version=1)
    assert r1["applied"] == 3                     # 2 deletes + 1 insert

    def _rows(db, t):
        return sorted(tuple(r) for r in
                      db.df(t).select("id", "body", "n").collect())
    assert _rows(cons, "notes2") == _rows(prod, "notes")

    # replay is a no-op: the cursor advanced
    assert cons.apply_cdf("notes2", dest)["applied"] == 0
    # incremental pull of the next commit
    prod.delete("notes").where("n", "=", 0).execute()
    prod.flush()
    export_delta(prod, "notes", dest, mode="update",
                 deletion_vectors=True)
    r3 = cons.apply_cdf("notes2", dest)
    assert r3["applied"] == 1 and r3["from_version"] == 2
    assert _rows(cons, "notes2") == _rows(prod, "notes")
    # the cursor survives flush+reopen (KV rides the manifest CAS)
    cons.flush()
    cons2 = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
    assert cons2.apply_cdf("notes2", dest)["applied"] == 0


def test_apply_cdf_nets_across_commits(spark, tmp_path):
    """A row inserted in commit N and deleted in commit N+1 must not
    touch the consumer when both commits apply in one pull."""
    prod = _mk(spark, str(tmp_path / "wh1"))
    dest = str(tmp_path / "dx")
    export_delta(prod, "notes", dest, change_data=True)
    cons = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
    cons.register_table("notes2", df=read_delta(cons.spark, dest))
    cons.flush()
    prod.batch_insert("notes", [{"id": "tmp1", "body": "t", "n": 400}])
    prod.flush()
    export_delta(prod, "notes", dest, mode="update",
                 deletion_vectors=True)      # v1: insert
    prod.delete("notes").where("n", "=", 400).execute()
    prod.flush()
    export_delta(prod, "notes", dest, mode="update",
                 deletion_vectors=True)      # v2: delete it again
    r = cons.apply_cdf("notes2", dest, from_version=1)
    assert r["to_version"] == 2
    assert cons.df("notes2").filter("n = 400").count() == 0
    assert cons.df("notes2").count() == 20


def test_start_cdf_sync_live_replication(spark, tmp_path):
    """mirror_delta (producer) + start_cdf_sync (consumer) = live
    cross-engine replication through a standard Delta CDF: the
    consumer converges after the producer's flush, idle ticks never
    re-apply the bootstrap snapshot (the seed is not burned by a
    nothing-to-apply tick), and stop ends delivery."""
    import time as _t

    prod = _mk(spark, str(tmp_path / "wh1"))
    dest = str(tmp_path / "dx")
    prod.mirror_delta("notes", dest, change_data=True)
    cons = ToStoreSpark(spark, warehouse=str(tmp_path / "wh2"))
    cons.register_table("notes2", df=read_delta(cons.spark, dest))
    cons.flush()
    cons.start_cdf_sync("notes2", dest, interval_s=0.5,
                        from_version=1)
    try:
        _t.sleep(1.6)                       # idle ticks
        assert cons.df("notes2").count() == 20
        prod.delete("notes").where("n", ">=", 18).execute()
        prod.flush()                        # mirror auto-exports v1
        deadline = _t.time() + 60
        while _t.time() < deadline:
            if cons.df("notes2").count() == 18:
                break
            _t.sleep(0.5)
        assert cons.df("notes2").count() == 18
        assert cons.last_cdf_sync_error is None
    finally:
        assert cons.stop_cdf_sync() == 1
    prod.batch_insert("notes", [{"id": "z9", "body": "x", "n": 900}])
    prod.flush()
    _t.sleep(1.5)
    assert cons.df("notes2").count() == 18  # delivery stopped


def test_cdf_commit_timestamp_column(spark, tmp_path):
    """The spec's third CDF column: _commit_timestamp from commitInfo
    when present, else the commit file's mtime; non-decreasing across
    versions; excluded from apply_cdf's netting keys."""
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.delete("notes").where("n", "=", 3).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True)
    feed = read_delta_cdf(spark, dest, 0, 1)
    assert "_commit_timestamp" in feed.columns
    ts = {r["_commit_version"]: r["_commit_timestamp"]
          for r in feed.select("_commit_version",
                               "_commit_timestamp").distinct()
          .collect()}
    assert ts[0] is not None and ts[1] is not None
    assert ts[0] <= ts[1]
    # a foreign commitInfo timestamp takes precedence over mtime
    log1 = os.path.join(dest, "_delta_log", f"{1:020d}.json")
    with open(log1) as fh:
        acts = [json.loads(ln) for ln in fh]
    acts.insert(0, {"commitInfo": {"timestamp": 1234567890123}})
    with open(log1, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    feed2 = read_delta_cdf(spark, dest, 1, 1)
    got = feed2.select("_commit_timestamp").distinct().collect()
    assert len(got) == 1
    import datetime
    assert got[0][0] == datetime.datetime.fromtimestamp(
        1234567890123 / 1000)


def test_delta_schema_evolution_on_refresh(spark, tmp_path):
    """A store migration must re-emit metaData with the new
    schemaString on the refresh commit — otherwise added columns stay
    invisible to every reader forever — and the CDF diff aligns the
    old state to the new schema (the defaulted column makes every row
    a legitimate delete+insert pair)."""
    from tostore_spark.schema import DataType, FieldSchema
    db = _mk(spark, str(tmp_path / "wh"))
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, change_data=True)
    db.update_schema("notes").add_field(
        FieldSchema(name="extra", type=DataType.integer,
                    default_value=7)).execute()
    db.flush()
    r = export_delta(db, "notes", dest, mode="update", change_data=True)
    assert r["commit"] == "refresh"
    cur = read_delta(spark, dest)
    assert "extra" in cur.columns
    assert cur.filter("extra = 7").count() == 20
    # time travel to v0 keeps the old schema
    v0 = read_delta(spark, dest, version=0)
    assert "extra" not in v0.columns
    # the feed carries the evolution as 20 deletes + 20 inserts under
    # the NEW schema (old pre-images null-fill the added column)
    feed = read_delta_cdf(spark, dest, 1, 1)
    assert "extra" in feed.columns
    kinds = {r["_change_type"]: 1 for r in
             feed.select("_change_type").distinct().collect()}
    assert set(kinds) == {"insert", "delete"}
    assert feed.count() == 40
    assert feed.filter("_change_type = 'delete' and extra is null") \
               .count() == 20


def test_cdf_where_filters_and_prunes(spark, tmp_path):
    """where= on the feed: rows filter with engine semantics, and a
    derivable APPEND commit's add files prune by log stats before
    being read (cdc files filter row-side only)."""
    wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
    db = _mk(spark, wh)
    export_delta(db, "notes", dest, change_data=True,
                 deletion_vectors=True)
    # v1: append 20 rows range-clustered into files (derivable)
    db.batch_insert("notes", [
        {"id": f"x{i:03d}", "body": "a", "n": 100 + i}
        for i in range(20)])
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True, cluster_by=["n"])
    # v2: dv delete (explicit cdc file)
    db.delete("notes").where("n", "IN", [3, 104]).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=True)
    full = read_delta_cdf(spark, dest, 1)
    got = read_delta_cdf(spark, dest, 1, where={"n": {">=": 104}})
    want = sorted((r["_commit_version"], r["_change_type"], r["n"])
                  for r in full.collect() if r["n"] >= 104)
    assert sorted((r["_commit_version"], r["_change_type"], r["n"])
                  for r in got.collect()) == want
    # a predicate refuting every appended row skips v1 entirely
    none = read_delta_cdf(spark, dest, 1, where={"n": {">": 10000}})
    assert none.count() == 0
    # pruning narrowed, never changed: a point value in the append
    one = read_delta_cdf(spark, dest, 1, where={"n": 110})
    assert [(r["_commit_version"], r["_change_type"], r["n"])
            for r in one.collect()] == [(1, "insert", 110)]


def test_register_delta_as_of_ms(spark, tmp_path):
    import time as _time
    wh, dest = str(tmp_path / "wh"), str(tmp_path / "dx")
    db = _mk(spark, wh)
    export_delta(db, "notes", dest)
    t_mid = int(_time.time() * 1000)
    _time.sleep(1.1)
    db.batch_insert("notes", [{"id": "z", "body": "n", "n": 999}])
    db.flush()
    export_delta(db, "notes", dest, mode="update")
    db.register_table("old_view",
                      df=read_delta(db.spark, dest, as_of_ms=t_mid))
    assert db.query("old_view").count() == 20
