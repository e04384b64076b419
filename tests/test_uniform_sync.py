"""Continuous UniForm bridge: convert_delta_to_iceberg +
sync_delta_to_iceberg keep ONE table directory readable as BOTH Delta
and Iceberg, current per commit — incremental Iceberg snapshots folded
from the Delta log (adds → stacked ADDED manifest; removes → rewrite
of only the affected manifests; optimize → a 'replace' snapshot)."""
import json
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.plans.delta_export import (optimize_delta,
                                              read_delta)
from tostore_spark.plans.iceberg import (_load_metadata,
                                         convert_delta_to_iceberg,
                                         read_iceberg,
                                         sync_delta_to_iceberg)
from tostore_spark.schema import (DataType, FieldSchema,
                                  PrimaryKeyConfig, TableSchema)
from tostore_spark.plans.delta_export import export_delta
from tostore_spark.plans.iceberg import export_iceberg


def _rows(df):
    cols = sorted(df.columns)
    return sorted(map(tuple, df.select(*cols).collect()))


def _mk(spark, tmp_path, rows=20):
    db = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _check_equal(spark, db, dest):
    a = _rows(db.df("notes"))
    assert _rows(read_delta(spark, dest)) == a
    assert _rows(read_iceberg(spark, dest)) == a


class TestContinuousBridge:
    def test_mirror_bridge_lifecycle(self, spark, tmp_path):
        """append / delete / update flushes keep both format views
        value-equal, one Iceberg snapshot per Delta data commit."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        rep = db.mirror_delta("notes", dest, bridge_iceberg=True)
        assert rep["bridge"]["snapshot_id"] == 1
        _check_equal(spark, db, dest)
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.flush()
        _check_equal(spark, db, dest)
        db.delete("notes").where("n", "IN", [3, 7]).execute()
        db.flush()
        _check_equal(spark, db, dest)
        db.update("notes", {"n": 555}).where("n", "=", 1).execute()
        db.flush()
        _check_equal(spark, db, dest)
        assert getattr(db, "last_mirror_error", None) is None
        meta = _load_metadata(dest)
        ops = [s["summary"]["operation"] for s in meta["snapshots"]]
        # r17: deletion vectors flow through the bridge — the delete
        # flush folds as a merge-on-read 'delete' snapshot (prior
        # manifests verbatim + one position-delete file), the update
        # flush as 'overwrite' (new rows staged + old positions killed)
        assert ops == ["append", "append", "delete", "overwrite"]
        # snapshot count tracks delta data commits exactly
        log = os.path.join(dest, "_delta_log")
        dv = len([f for f in os.listdir(log) if f.endswith(".json")])
        assert len(meta["snapshots"]) == dv
        # time travel still reaches the bootstrap state
        s1 = meta["snapshots"][0]["snapshot-id"]
        assert read_iceberg(spark, dest, snapshot_id=s1).count() == 20

    def test_optimize_bridges_as_replace(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        db.mirror_delta("notes", dest, bridge_iceberg=True)
        for i in range(2):
            db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}])
            db.flush()
        optimize_delta(spark, dest, target_file_bytes=10 << 20)
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["snapshots"] == 1
        meta = _load_metadata(dest)
        assert meta["snapshots"][-1]["summary"]["operation"] == \
            "replace"
        _check_equal(spark, db, dest)

    def test_manual_convert_then_sync(self, spark, tmp_path):
        """The non-mirror path: convert once, write more Delta
        commits, sync folds them (and a no-op sync is a no-op)."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=2)
        convert_delta_to_iceberg(spark, dest)
        rep0 = sync_delta_to_iceberg(spark, dest)
        assert rep0["snapshots"] == 0
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        db.delete("notes").where("n", "=", 0).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=False)
        rep = sync_delta_to_iceberg(db.spark, dest)
        assert rep["snapshots"] == 2
        _check_equal(spark, db, dest)
        # rewritten manifests: survivors EXISTING with original seqs,
        # removed entries DELETED — foreign readers see exact counts
        meta = _load_metadata(dest)
        from tostore_spark.plans.avro_io import read_container_file
        _s, ml = read_container_file(
            meta["snapshots"][-1]["manifest-list"])
        assert any(m["deleted_files_count"] > 0 for m in ml)
        assert all(m["added_files_count"] >= 0 for m in ml)

    def test_where_pruning_on_synced_files(self, spark, tmp_path):
        """Files added through sync carry footer bounds — where=
        pruning works on them like on converted ones."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        db.batch_insert("notes", [{"id": f"x{i}", "n": 1000 + i}
                                  for i in range(5)])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        sync_delta_to_iceberg(spark, dest)
        out = read_iceberg(spark, dest, where={"n": {">=": 1000}})
        assert sorted(r["n"] for r in out.collect()) == \
            [1000, 1001, 1002, 1003, 1004]

    def test_dv_commit_folds_as_mor_delete(self, spark, tmp_path):
        """r17: a Delta deletion-vector commit folds as an Iceberg
        merge-on-read 'delete' snapshot — data files untouched, one
        position-delete file, both views value-equal."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        db.delete("notes").where("n", "IN", [3]).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        r = sync_delta_to_iceberg(spark, dest)
        assert r["snapshots"] == 1
        _check_equal(spark, db, dest)
        meta = _load_metadata(dest)
        snap = meta["snapshots"][-1]
        assert snap["summary"]["operation"] == "delete"
        assert snap["summary"]["added-position-deletes"] == "1"

    def test_non_additive_evolution_refuses(self, spark, tmp_path):
        """r16: ADD-COLUMN evolution now folds (see
        TestBridgeSchemaEvolution) — but a RETYPE still refuses."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        db.update_schema("notes").modify_field(
            "n", type=DataType.double).execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        with pytest.raises(ValueError, match="cannot follow"):
            sync_delta_to_iceberg(spark, dest)

    def test_non_bridge_refuses(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "ice")
        export_iceberg(db, "notes", dest)
        with pytest.raises(ValueError, match="not a delta"):
            sync_delta_to_iceberg(spark, dest)

    def test_log_gap_refuses(self, spark, tmp_path):
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        for i in range(2):
            db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}])
            db.flush()
            export_delta(db, "notes", dest, mode="update")
        os.unlink(os.path.join(dest, "_delta_log",
                               f"{1:020d}.json"))
        with pytest.raises(ValueError, match="gap"):
            sync_delta_to_iceberg(spark, dest)


# ---------------------------------------------------------------------
# cross-PROCESS: two OS processes race sync_delta_to_iceberg on one
# bridge — the metadata-version put-if-absent CAS makes each Delta
# commit fold into EXACTLY ONE Iceberg snapshot (losers see EEXIST,
# retry from the advanced bridge cursor)
# ---------------------------------------------------------------------
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SYNC_WORKER = r"""
import sys, time
path, report = sys.argv[1], sys.argv[2]
sys.path.insert(0, {repo!r})
from tostore_spark import get_spark
from tostore_spark.plans.iceberg import sync_delta_to_iceberg

spark = get_spark(app_name="bridge-sync-worker", cpus=2)
retries = 0
for attempt in range(12):
    try:
        rep = sync_delta_to_iceberg(spark, path)
        break
    except ValueError as e:
        if "concurrent" not in str(e):
            raise
        retries += 1
        time.sleep(0.2)
else:
    raise SystemExit(3)
with open(report, "w") as fh:
    fh.write(str(retries))
spark.stop()
"""


def _spawn(script, args):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    return subprocess.Popen(
        [sys.executable, "-c", script] + [str(a) for a in args],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)


def test_two_processes_race_bridge_sync(spark, tmp_path):
    db = _mk(spark, tmp_path)
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, target_files=2)
    convert_delta_to_iceberg(spark, dest)
    for i in range(3):                      # 3 unfolded delta commits
        db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
    reports = [str(tmp_path / f"rep{w}.txt") for w in range(2)]
    procs = [_spawn(_SYNC_WORKER.format(repo=REPO), [dest, reports[w]])
             for w in range(2)]
    errs = []
    for pr in procs:
        try:
            _, err = pr.communicate(timeout=600)
        except subprocess.TimeoutExpired:
            pr.kill()
            raise
        if pr.returncode != 0:
            errs.append((pr.returncode, err.decode()[-2000:]))
    assert not errs, errs
    meta = _load_metadata(dest)
    log = os.path.join(dest, "_delta_log")
    n_commits = len([f for f in os.listdir(log)
                     if f.endswith(".json")])
    # EXACTLY one iceberg snapshot per delta commit — no double folds
    assert len(meta["snapshots"]) == n_commits
    _check_equal(spark, db, dest)
    # sequence numbers strictly increase — no torn interleaving
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(set(seqs))


def test_expire_then_vacuum_coordination(spark, tmp_path):
    """The documented maintenance recipe: expire the Iceberg view
    down to the current snapshot BEFORE vacuum_delta — afterwards
    both format views still read and stay value-equal (vacuum never
    reclaims a file the retained snapshot references)."""
    from tostore_spark.plans.delta_export import vacuum_delta
    from tostore_spark.plans.iceberg import expire_snapshots
    db = _mk(spark, tmp_path)
    dest = str(tmp_path / "dx")
    export_delta(db, "notes", dest, target_files=2)
    convert_delta_to_iceberg(spark, dest)
    for i in range(2):
        db.batch_insert("notes", [{"id": f"x{i}", "n": 100 + i}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
    db.delete("notes").where("n", "=", 0).execute()
    db.flush()
    export_delta(db, "notes", dest, mode="update",
                 deletion_vectors=False)
    sync_delta_to_iceberg(spark, dest)
    rep = expire_snapshots(dest, keep_last=1)
    assert rep["expired"]
    vacuum_delta(dest, keep_versions=1, retention_sec=0)
    _check_equal(spark, db, dest)


class TestBridgeScalePaths:
    """r16: the per-commit cost claims are pinned, not prose — a pure
    append opens ZERO prior manifests; once the path→manifest index
    exists, a delete decodes only candidate manifests; an unmatched
    remove refuses loudly."""

    def _spy(self, monkeypatch):
        import tostore_spark.plans.iceberg as ice
        seen = []
        orig = ice.read_container_file

        def wrap(path):
            if not os.path.basename(path).startswith("snap-"):
                seen.append(path)          # manifest decodes only
            return orig(path)
        monkeypatch.setattr(ice, "read_container_file", wrap)
        return seen

    def _bridge(self, spark, tmp_path, rows=20):
        db = _mk(spark, tmp_path, rows=rows)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=2,
                     cluster_by=["id"])
        convert_delta_to_iceberg(spark, dest)
        return db, dest

    def test_pure_append_opens_zero_prior_manifests(
            self, spark, tmp_path, monkeypatch):
        db, dest = self._bridge(spark, tmp_path)
        db.batch_insert("notes", [{"id": "x0", "n": 100}])
        db.flush()
        export_delta(db, "notes", dest, mode="update")
        seen = self._spy(monkeypatch)
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["snapshots"] == 1
        assert seen == [], seen
        _check_equal(spark, db, dest)

    def test_indexed_delete_decodes_only_candidates(
            self, spark, tmp_path, monkeypatch):
        import tostore_spark.plans.iceberg as ice
        db, dest = self._bridge(spark, tmp_path, rows=40)
        # first delete: no index yet -> full decode builds it
        db.delete("notes").where("id", "=", "k000").execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=False)
        sync_delta_to_iceberg(spark, dest)
        assert os.path.exists(os.path.join(
            dest, "metadata", ice._BRIDGE_INDEX))
        # second delete: candidate manifests only (1 of several)
        db.delete("notes").where("id", "=", "k039").execute()
        db.flush()
        export_delta(db, "notes", dest, mode="update",
                     deletion_vectors=False)
        meta = _load_metadata(dest)
        n_manifests = len(read_iceberg(spark, dest).inputFiles())
        seen = self._spy(monkeypatch)
        sync_delta_to_iceberg(spark, dest)
        assert len(seen) == 1, (seen, n_manifests)
        _check_equal(spark, db, dest)
        # and time travel across the rewrites still works
        s1 = _load_metadata(dest)["snapshots"][0]["snapshot-id"]
        assert read_iceberg(spark, dest,
                            snapshot_id=s1).count() == 40

    def test_unmatched_remove_refuses(self, spark, tmp_path):
        db, dest = self._bridge(spark, tmp_path)
        log = os.path.join(dest, "_delta_log")
        v = max(int(f[:-5]) for f in os.listdir(log)
                if f.endswith(".json") and f[:-5].isdigit()) + 1
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps({"commitInfo": {
                "timestamp": 1700000000000}}) + "\n")
            fh.write(json.dumps({"remove": {
                "path": "data/no-such-file.parquet",
                "dataChange": True}}) + "\n")
        with pytest.raises(ValueError, match="matched no live"):
            sync_delta_to_iceberg(spark, dest)


class TestBridgeDeletionVectors:
    """r17: Delta deletion-vector commits fold as Iceberg merge-on-
    read position-delete snapshots — zero row IO, prior manifests
    verbatim, delete-file rows ∝ the NEWLY dead positions (diffed
    against the bridge-dv-state sidecar)."""

    def _spy(self, monkeypatch):
        import tostore_spark.plans.iceberg as ice
        seen = []
        orig = ice.read_container_file

        def wrap(path):
            if not os.path.basename(path).startswith("snap-"):
                seen.append(path)
            return orig(path)
        monkeypatch.setattr(ice, "read_container_file", wrap)
        return seen

    def _bridge(self, spark, tmp_path, rows=20):
        db = _mk(spark, tmp_path, rows=rows)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=2,
                     cluster_by=["id"])
        convert_delta_to_iceberg(spark, dest)
        return db, dest

    def _dv_delete(self, db, dest, ns):
        db.delete("notes").where("n", "IN", ns).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"

    def _last_delete_file_rows(self, spark, dest):
        from tostore_spark.plans.avro_io import read_container_file
        meta = _load_metadata(dest)
        _, ml = read_container_file(
            meta["snapshots"][-1]["manifest-list"])
        dfs = [m for m in ml if m.get("content") == 1
               and m["added_snapshot_id"] ==
               meta["snapshots"][-1]["snapshot-id"]]
        assert len(dfs) == 1
        _, entries = read_container_file(dfs[0]["manifest_path"])
        assert entries[0]["data_file"]["content"] == 1
        return entries[0]["data_file"]["record_count"]

    def test_second_dv_fold_is_metadata_only_and_diffed(
            self, spark, tmp_path, monkeypatch):
        """Once the index + sidecar exist, a DV fold decodes ZERO
        prior manifests and ships only the freshly dead positions."""
        db, dest = self._bridge(spark, tmp_path)
        self._dv_delete(db, dest, [3, 7, 11])
        sync_delta_to_iceberg(spark, dest)
        assert self._last_delete_file_rows(spark, dest) == 3
        self._dv_delete(db, dest, [1, 8])
        seen = self._spy(monkeypatch)
        sync_delta_to_iceberg(spark, dest)
        assert seen == [], seen        # manifest LIST only, no decode
        assert self._last_delete_file_rows(spark, dest) == 2
        _check_equal(spark, db, dest)
        # the data file set never moved across either fold
        meta = _load_metadata(dest)
        assert meta["snapshots"][-1]["summary"]["operation"] == \
            "delete"

    def test_sidecar_rebuild_is_exact(self, spark, tmp_path):
        """A lost sidecar rebuilds from the table's own delete files
        — the next fold still ships only the diff."""
        import tostore_spark.plans.iceberg as ice
        db, dest = self._bridge(spark, tmp_path)
        self._dv_delete(db, dest, [3, 7, 11])
        sync_delta_to_iceberg(spark, dest)
        os.remove(os.path.join(dest, "metadata",
                               ice._BRIDGE_DV_STATE))
        self._dv_delete(db, dest, [1])
        sync_delta_to_iceberg(spark, dest)
        assert self._last_delete_file_rows(spark, dest) == 1
        _check_equal(spark, db, dest)

    def test_shrunk_vector_falls_back_to_readd(self, spark,
                                               tmp_path):
        """A RESTORE-shaped commit (the vector loses a position)
        cannot stack as position deletes — the fold re-adds the file
        at a fresh data sequence, un-scoping every older delete file,
        and re-kills the surviving positions same-commit."""
        import time as _time

        from tostore_spark.plans.delta_dv import (
            decode_deletion_vector, inline_descriptor)
        from tostore_spark.plans.delta_export import _replay
        db, dest = self._bridge(spark, tmp_path)
        self._dv_delete(db, dest, [3, 7])
        sync_delta_to_iceberg(spark, dest)
        state = _replay(dest, None)
        rel, add = next((r, a) for r, a in
                        sorted(state["files"].items())
                        if a.get("deletionVector"))
        pos = decode_deletion_vector(dest, add["deletionVector"])
        keep = pos[:-1]
        new_add = dict(add)
        if keep:
            new_add["deletionVector"] = inline_descriptor(keep)
        else:
            new_add.pop("deletionVector")
        log = os.path.join(dest, "_delta_log")
        v = max(int(f[:-5]) for f in os.listdir(log)
                if f.endswith(".json") and f[:-5].isdigit()) + 1
        ts = int(_time.time() * 1000)
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            for act in [
                    {"commitInfo": {"timestamp": ts,
                                    "operation": "RESTORE"}},
                    {"remove": {"path": rel, "deletionTimestamp": ts,
                                "dataChange": True}},
                    {"add": new_add}]:
                fh.write(json.dumps(act) + "\n")
        sync_delta_to_iceberg(spark, dest)
        a = _rows(read_delta(spark, dest))
        assert _rows(read_iceberg(spark, dest)) == a
        # the resurrected row is visible again on both rungs
        assert len(a) == 19 if keep else 20

    def test_convert_with_live_dvs_seeds_sidecar(self, spark,
                                                 tmp_path):
        """convert_delta_to_iceberg folds live vectors into the
        bootstrap snapshot and seeds the sidecar, so the next DV
        commit diffs against it."""
        import tostore_spark.plans.iceberg as ice
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=2,
                     cluster_by=["id"])
        self._dv_delete(db, dest, [2, 5, 11])
        convert_delta_to_iceberg(spark, dest)
        _check_equal(spark, db, dest)
        assert os.path.exists(os.path.join(
            dest, "metadata", ice._BRIDGE_DV_STATE))
        self._dv_delete(db, dest, [13])
        sync_delta_to_iceberg(spark, dest)
        assert self._last_delete_file_rows(spark, dest) == 1
        _check_equal(spark, db, dest)

    def test_file_born_with_vector_kills_same_commit(self, spark,
                                                     tmp_path):
        """del-after-seg in ONE Delta commit: the staged file carries
        its vector from birth — the fold stages the data file and a
        delete file at the SAME sequence number (equal seq applies
        for position deletes)."""
        db, dest = self._bridge(spark, tmp_path)
        # two flushes, ONE export commit: the del op lands after the
        # seg op in the same exported tail, so the staged add carries
        # its vector directly
        db.batch_insert("notes", [{"id": "z1", "n": 900},
                                  {"id": "z2", "n": 901}])
        db.flush()
        db.delete("notes").where("n", "=", 901).execute()
        db.flush()
        rep = export_delta(db, "notes", dest, mode="update",
                           deletion_vectors=True)
        assert rep["commit"] == "dv"
        sync_delta_to_iceberg(spark, dest)
        _check_equal(spark, db, dest)
        meta = _load_metadata(dest)
        assert meta["snapshots"][-1]["summary"]["operation"] == \
            "overwrite"

    def test_mirror_bridge_keeps_vectors_on(self, spark, tmp_path):
        """mirror_delta(bridge_iceberg=True) no longer forces DVs
        off — a delete flush is O(delta) on BOTH rungs."""
        db = _mk(spark, tmp_path)
        dest = str(tmp_path / "dx")
        db.mirror_delta("notes", dest, bridge_iceberg=True)
        db.delete("notes").where("n", "IN", [3, 7]).execute()
        db.flush()
        assert getattr(db, "last_mirror_error", None) is None
        _check_equal(spark, db, dest)
        meta = _load_metadata(dest)
        assert meta["snapshots"][-1]["summary"]["operation"] == \
            "delete"

    def test_positions_over_bound_refuse(self, spark, tmp_path,
                                         monkeypatch):
        import tostore_spark.plans.delta_dv as dv
        db, dest = self._bridge(spark, tmp_path)
        self._dv_delete(db, dest, [3, 7, 11])
        monkeypatch.setattr(dv, "MAX_TOTAL_POSITIONS", 2)
        with pytest.raises(ValueError, match="driver-side bound"):
            sync_delta_to_iceberg(spark, dest)


class TestBridgeSchemaEvolution:
    """r16: ADD-COLUMN-only Delta evolution folds as a new Iceberg
    schema-id (name mapping extended); anything else still refuses."""

    def test_add_column_flush_bridges_end_to_end(self, spark,
                                                 tmp_path):
        from tostore_spark.schema import DataType, FieldSchema
        db = _mk(spark, tmp_path, rows=6)
        dest = str(tmp_path / "dx")
        db.mirror_delta("notes", dest, bridge_iceberg=True)
        (db.schema_builder("notes")
            .add_field(FieldSchema("tag", DataType.text,
                                   default_value="t0"))
            .execute())
        db.flush()
        assert getattr(db, "last_mirror_error", None) is None
        _check_equal(spark, db, dest)
        meta = _load_metadata(dest)
        sids = sorted(s.get("schema-id", 0)
                      for s in meta.get("schemas") or [])
        assert len(sids) == 2 and meta["current-schema-id"] == sids[-1]
        nm = json.loads(meta["properties"]
                        ["schema.name-mapping.default"])
        tag_ids = [e for e in nm if "tag" in (e.get("names") or [])]
        assert len(tag_ids) == 1
        # post-evolution appends keep bridging, values exact
        db.batch_insert("notes", [{"id": "x9", "n": 99,
                                   "tag": "fresh"}])
        db.flush()
        _check_equal(spark, db, dest)
        ice = read_iceberg(spark, dest)
        assert ice.filter("id = 'x9'").first()["tag"] == "fresh"
        # time travel to the pre-evolution snapshot still binds the
        # OLD schema
        s1 = meta["snapshots"][0]["snapshot-id"]
        old = read_iceberg(spark, dest, snapshot_id=s1)
        assert "tag" not in old.columns and old.count() == 6

    def test_foreign_add_column_commit_without_rewrite(
            self, spark, tmp_path):
        """A real Delta ALTER TABLE ADD COLUMN (metaData-only commit,
        then an append of 3-column files; OLD files never rewritten)
        folds and reads back with null-filled history."""
        import pyarrow as pa
        import pyarrow.parquet as papq
        db = _mk(spark, tmp_path, rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        log = os.path.join(dest, "_delta_log")
        meta_d = json.loads(open(os.path.join(
            log, "00000000000000000000.json")).readline())
        old_ss = None
        for ln in open(os.path.join(log,
                                    "00000000000000000000.json")):
            a = json.loads(ln)
            if "metaData" in a:
                meta_d = a["metaData"]
                old_ss = json.loads(meta_d["schemaString"])
        new_ss = dict(old_ss)
        new_ss["fields"] = list(old_ss["fields"]) + [
            {"name": "tag", "type": "string", "nullable": True,
             "metadata": {}}]
        v = max(int(f[:-5]) for f in os.listdir(log)
                if f.endswith(".json") and f[:-5].isdigit())
        md2 = dict(meta_d)
        md2["schemaString"] = json.dumps(new_ss)
        with open(os.path.join(log, f"{v + 1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"commitInfo": {
                "timestamp": 1700000000000}}) + "\n")
            fh.write(json.dumps({"metaData": md2}) + "\n")
        fp_rel = "data/added-3col.parquet"
        os.makedirs(os.path.join(dest, "data"), exist_ok=True)
        tbl = pa.table({"id": ["z1"], "n": [500], "tag": ["zz"]})
        papq.write_table(tbl, os.path.join(dest, fp_rel))
        sz = os.path.getsize(os.path.join(dest, fp_rel))
        with open(os.path.join(log, f"{v + 2:020d}.json"), "w") as fh:
            fh.write(json.dumps({"commitInfo": {
                "timestamp": 1700000001000}}) + "\n")
            fh.write(json.dumps({"add": {
                "path": fp_rel, "partitionValues": {}, "size": sz,
                "modificationTime": 1700000001000,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 1})}}) + "\n")
        rep = sync_delta_to_iceberg(spark, dest)
        assert rep["snapshots"] == 1          # metaData-only folds in
        ice = read_iceberg(spark, dest)
        assert ice.count() == 5
        got = {r["id"]: r["tag"] for r in ice.collect()}
        assert got["z1"] == "zz"
        assert all(got[f"k{i:03d}"] is None for i in range(4))

    def test_rename_still_refuses(self, spark, tmp_path):
        db = _mk(spark, tmp_path, rows=4)
        dest = str(tmp_path / "dx")
        export_delta(db, "notes", dest, target_files=1)
        convert_delta_to_iceberg(spark, dest)
        log = os.path.join(dest, "_delta_log")
        meta_d = None
        for ln in open(os.path.join(log,
                                    "00000000000000000000.json")):
            a = json.loads(ln)
            if "metaData" in a:
                meta_d = a["metaData"]
        ss = json.loads(meta_d["schemaString"])
        ss["fields"] = [dict(f, name="n2") if f["name"] == "n"
                        else f for f in ss["fields"]]
        md2 = dict(meta_d)
        md2["schemaString"] = json.dumps(ss)
        v = max(int(f[:-5]) for f in os.listdir(log)
                if f.endswith(".json") and f[:-5].isdigit())
        with open(os.path.join(log, f"{v + 1:020d}.json"), "w") as fh:
            fh.write(json.dumps({"metaData": md2}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "data/none.parquet", "partitionValues": {},
                "size": 1, "modificationTime": 1, "dataChange": True
            }}) + "\n")
        with pytest.raises(ValueError, match="cannot follow"):
            sync_delta_to_iceberg(spark, dest)
